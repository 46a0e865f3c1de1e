#!/usr/bin/env python3
"""graft benchmark: builds the program from source, runs one workload,
checks its outputs and prints every metric by name with its unit.

    python3 benchmark/run.py --workload serve --seed 1 --seconds 8 --trace 0

Run it from the repository root. Workloads: memo-pipeline and serve (the
ones BENCHMARK.json lists) and relational (see benchmark/README.md). `--trace 0` measures the end-to-end
metrics; `--trace 1` is the separate traced run that reports per-layer
metrics. The last line of stdout is one JSON object
{"correct", "attempted", "failed", "metrics"}. Every run also writes its
own record under <build dir>/records/, named by workload, seed, cpus,
commit, traced/untraced and start time, so no rerun overwrites another.
"""

import argparse
import fcntl
import glob
import hashlib
import json
import multiprocessing
import os
import queue
import re
import shutil
import signal
import socket
import statistics
import subprocess
import sys
import threading
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True  # leave no caches in the checkout
sys.path.insert(0, BENCH)
import sessions  # noqa: E402
import stats  # noqa: E402

SCALE = 0.02  # data scale factor (sf1 = 6M lineitem rows)
# The program's default collector (G1), with the heap capped to keep the
# benchmark small on a shared host.
JVM_MEMORY = ["-Xmx2g"]
# no hsperfdata file in the system temp directory: a run writes only
# inside the checkout
JVM_QUIET = ["-XX:-UsePerfData"]
RUN_TIMEOUT_S = 170
# the reply of the known timestamp-encoding defect (Wire.blocksOf)
TS_DEFECT = "unsupported scalar TimestampNTZType"
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "op_geomean_ms": "ms", "action_geomean_ms": "ms",
    "retained_mb": "MiB"}
API_OPS = ("Filter", "Select", "Join", "GroupBy", "Aggregation", "OrderBy")
PER_LAYER = dict(
    [(m, "ms") for m in (
        "server.parse_ms", "server.replay_ms", "server.op_handle_ms",
        "server.action_handle_ms", "server.encode_ms", "server.http_overhead_ms",
        "api.apply_op_ms")]
    + [(f"api.apply_op.{op}_ms", "ms") for op in API_OPS]
    + [("server.replay_jobs", "count"), ("server.response_bytes", "bytes"),
       ("server.ts_defect_400", "count")]
    + [("sources.open_ms", "ms"), ("sources.open_jobs", "count"), ("sources.scan_ms", "ms"),
       ("sources.events_normalize_ms", "ms"), ("sources.serve_read_ms", "ms"),
       ("sources.serve_read_jobs", "count"),
       ("queries.build_ms", "ms"), ("queries.build_jobs", "count"),
       ("memo.payer_build_ms", "ms"), ("memo.reader_build_ms", "ms"),
       ("memo.reader_hit_share", "ratio"),
       ("catalyst.analysis_ms", "ms"), ("catalyst.optimize_ms", "ms"), ("catalyst.plan_ms", "ms"),
       ("exec.action_ms", "ms"), ("spark.jobs", "count"), ("spark.stages", "count"),
       ("spark.tasks", "count"), ("spark.task_run_ms", "ms"), ("spark.task_cpu_ms", "ms"),
       ("spark.sched_wait_ms", "ms"), ("spark.gc_ms", "ms"),
       ("spark.shuffle_read_bytes", "bytes"), ("spark.shuffle_write_bytes", "bytes"),
       ("spark.spill_bytes", "bytes"), ("spark.task_skew", "ratio")]
    + [(f"functions.{k}_ms", "ms") for k in ("vecdot", "vecmat_argmax", "minhash", "simhash", "tdigest")]
    + [("jvm.peak_rss_mb", "MiB"), ("host.calib_ms", "ms"), ("host.calib_par_ms", "ms"),
       ("trace.overhead_share", "ratio"),
       ("fail_share", "ratio")])


def log(msg):
    print(f"[bench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def _tree_hash(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _spark_jars():
    """The jars the program builds against: $SPARK_HOME/jars, else the
    `unmanagedBase` directory that build.sbt names."""
    if "SPARK_HOME" in os.environ:
        where = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        where = m.group(1) if m else ""
    jars = sorted(glob.glob(os.path.join(where, "*.jar")))
    if not jars:
        sys.exit(f"no Spark jars in {where!r} (set SPARK_HOME)")
    return jars


def _scalac(out, sources, classpath):
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = (["java"] + JVM_QUIET + ["-Xss8m", "-Xmx2g", "-cp", ":".join(classpath),
                                   "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp]
           + sorted(sources))
    res = subprocess.run(cmd, capture_output=True, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout + res.stderr)
        sys.exit(f"compile failed: {out}")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def _stamped(path, key, make):
    """Run make() unless path/.stamp already holds key."""
    stamp = os.path.join(path, ".stamp")
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == key:
                return False
    make()
    with open(stamp, "w") as f:
        f.write(key)
    return True


def build(build_dir):
    """Compile the program's classes and the harness, and generate the
    data set; each step reruns only when its inputs changed."""
    srcs = glob.glob("src/main/scala/**/*.scala", recursive=True)
    if not srcs:
        sys.exit("src/main/scala not found: run from the repository root")
    jars = _spark_jars()
    os.makedirs(build_dir, exist_ok=True)
    with open(os.path.join(build_dir, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        classes = os.path.join(build_dir, "classes")
        harness = os.path.join(build_dir, "harness")
        data = os.path.join(build_dir, f"data-sf{SCALE}")
        prog_key = _tree_hash(srcs)
        t0 = time.perf_counter()
        if _stamped(classes, prog_key, lambda: _scalac(classes, srcs, jars)):
            log(f"compiled program in {time.perf_counter() - t0:.1f}s")
        hsrcs = glob.glob(os.path.join(BENCH, "harness", "*.scala"))
        t0 = time.perf_counter()
        if _stamped(harness, prog_key + _tree_hash(hsrcs),
                    lambda: _scalac(harness, hsrcs, [classes] + jars)):
            log(f"compiled harness in {time.perf_counter() - t0:.1f}s")
        gen = os.path.join(BENCH, "gen_data.py")

        def make_data():
            shutil.rmtree(data, ignore_errors=True)
            subprocess.run([sys.executable, gen, data, str(SCALE)], check=True)
        if _stamped(data, _tree_hash([gen]), make_data):
            log(f"generated data at sf{SCALE}")
    return [harness, classes] + jars, data, prog_key


def commit_id(prog_key):
    try:
        res = subprocess.run(["git", "rev-parse", "--short=12", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        if res.returncode == 0 and res.stdout.strip():
            return res.stdout.strip()
    except OSError:
        pass
    return "src-" + prog_key[:12]


# ---------------------------------------------------------------- running

def _calib_loop(_=None):
    t0 = time.perf_counter()
    acc = 0
    for i in range(400_000):
        acc = (acc * 31 + i) % 1_000_003
    return (time.perf_counter() - t0) * 1e3


def host_calibration_ms():
    """A fixed CPU loop timed on one thread (median of three) and on
    every core at once (slowest worker). Slow readings flag a contended
    host whatever the program did; the parallel one also catches a host
    that has fewer usable cores than it reports."""
    single = statistics.median(_calib_loop() for _ in range(3))
    with multiprocessing.Pool(os.cpu_count()) as pool:
        parallel = max(pool.map(_calib_loop, range(os.cpu_count())))
    return single, parallel


class Jvm:
    """One harness JVM; its stdout lines arrive on a queue."""

    def __init__(self, classpath, work, args):
        os.makedirs(work, exist_ok=True)
        cmd = (["java"] + JVM_QUIET + JVM_MEMORY + [f"-Djava.io.tmpdir={work}",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'harness', 'log4j2.properties')}"]
               + ADD_OPENS + ["-cp", ":".join(classpath), "graftbench.Main"] + args)
        self.proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                     text=True, bufsize=1)
        self.lines = queue.Queue()
        threading.Thread(target=self._pump, daemon=True).start()

    def _pump(self):
        for line in self.proc.stdout:
            self.lines.put(line.rstrip("\n"))
        self.lines.put(None)

    def wait_line(self, prefix, deadline):
        while True:
            try:
                line = self.lines.get(timeout=max(0.1, deadline - time.monotonic()))
            except queue.Empty:
                line = None
            if line is None:
                raise RuntimeError(f"harness JVM ended or timed out before {prefix!r}")
            if line.startswith(prefix):
                return line

    def finish(self, deadline):
        try:
            self.proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        finally:
            if self.proc.poll() is None:
                self.proc.kill()
                self.proc.wait()
        if self.proc.returncode != 0:
            raise RuntimeError(f"harness JVM exited with {self.proc.returncode}")

    def kill(self):
        if self.proc.poll() is None:
            self.proc.kill()
            self.proc.wait()


def run_queries(workload, classpath, data, work, seed, seconds, trace, deadline):
    out = os.path.join(work, "record.json")
    t0 = time.perf_counter()
    jvm = Jvm(classpath, work, ["queries", workload, data, str(seed), str(seconds),
                                "1" if trace else "0", out])
    try:
        jvm.wait_line("READY", deadline)
        setup_s = time.perf_counter() - t0
        jvm.finish(deadline)
    finally:
        jvm.kill()
    with open(out) as f:
        rec = json.load(f)
    rec["setup_s"] = setup_s
    return rec


def latencies(ops, actions):
    """The geometric means of the operation and Action latencies (the
    end-to-end metrics), plus their percentiles, which the record keeps
    but the result line does not print."""
    return {"op_geomean_ms": stats.geomean(ops), "action_geomean_ms": stats.geomean(actions),
            "op_p50_ms": stats.percentile(ops, 50), "op_p90_ms": stats.percentile(ops, 90),
            "action_p50_ms": stats.percentile(actions, 50)}


def query_results(rec, golden):
    ops = rec["ops"]
    attempted, failures = stats.check_fingerprints(ops, golden)
    good = [o for o in ops if o.get("ok") and o["name"] in golden and o["fp"] == golden[o["name"]]]
    total = [o["total_ms"] for o in good]
    action = [o["action_ms"] for o in good]
    metrics = {
        "setup_s": rec["setup_s"],
        "wall_s": statistics.median(rec["passes"]),
        **latencies(total, action),
        "retained_mb": rec["retained_mb"]}
    return attempted, failures, metrics, len(total)


# ---------------------------------------------------------------- serve

def _client_module():
    sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
    import client
    return client


def _call(client, uri, state, fn):
    df = client.Df.call(state, fn, uri)
    return df.dataframe, df.values


def run_session(client, uri, s, log_req):
    """Issue one session's requests in order. Returns the Action's reply
    blocks, or None when a request failed."""
    def req(kind, state, fn):
        t0 = time.perf_counter()
        try:
            res = _call(client, uri, state, fn)
        except Exception as e:  # every failure is counted, never retried
            log_req(kind, (time.perf_counter() - t0) * 1e3, f"{type(e).__name__}: {str(e)[:200]}")
            return None
        log_req(kind, (time.perf_counter() - t0) * 1e3, None)
        return res
    rstate = None
    for i, op in enumerate(s["right"] or []):
        res = req("op", rstate, op if i == 0 else {"Op": op})
        if res is None:
            return None
        rstate = res[0]
    res = req("op", None, s["read"])
    for op in s["ops"]:
        if res is None:
            return None
        if "Join" in op:
            op = {"Join": [rstate] + op["Join"][1:]}
        res = req("op", res[0], {"Op": op})
    if res is None:
        return None
    res = req("action", res[0], {"Action": s["action"]})
    return None if res is None else res[1]


def run_client(client, uri, plan, end):
    """One closed-loop client takes sessions from `plan` in order. With
    end=None it stops at the end of the plan. Otherwise the plan is a
    sequence of cycles through sessions.SHAPES and no new cycle starts
    after `end`, so a run measures whole cycles and every run issues the
    same mix of shapes. Returns (requests as (kind, ms, error, session
    number), completed sessions as (session number, session, reply
    blocks), wall s of each whole cycle)."""
    reqs, done, cycles = [], [], []
    c0 = time.perf_counter()
    for sid, s in enumerate(plan):
        if end is not None and sid % len(sessions.SHAPES) == 0:
            now = time.perf_counter()
            if sid:
                cycles.append(now - c0)
                c0 = now
            if now >= end:
                break
        blocks = run_session(client, uri, s, lambda k, ms, err: reqs.append((k, ms, err, sid)))
        if blocks is not None:
            done.append((sid, s, blocks))
    return reqs, done, cycles


def run_serve(classpath, data, work, seed, seconds, trace, deadline):
    client = _client_module()
    socket.setdefaulttimeout(60)  # a hung request fails instead of hanging the run
    out = os.path.join(work, "record.json")
    t0 = time.perf_counter()
    jvm = Jvm(classpath, work, ["serve", data, "1" if trace else "0", out])
    try:
        port = int(jvm.wait_line("READY", deadline).split()[1])
        uri = f"http://127.0.0.1:{port}/call"
        # untimed warmup: one cycle of the timed pool, all of which must
        # pass, so the timed cycle finds the server's JIT-compiled code and
        # generated plan code in the same state in every run
        warm = sessions.session_pool(1, data)
        reqs, done, _ = run_client(client, uri, warm, None)
        errs = [r[2] for r in reqs if r[2]]
        if errs or len(done) != len(warm):
            raise RuntimeError(f"serve warmup failed: {errs[:1]}")
        untimed = len(reqs) + 2  # the server numbers requests in arrival order
        # the known timestamp-encoding defect: Take on an unprojected
        # parquet frame that still carries a timestamp column; any other
        # error aborts setup
        try:
            _call(client, uri, _call(client, uri, None, sessions.read_request("lineitem", data))[0],
                  {"Action": {"Take": 20}})
            ts_defect = 0
        except client.GraftError as e:
            if TS_DEFECT not in str(e):
                raise RuntimeError(f"timestamp probe failed: {str(e)[:200]}") from None
            ts_defect = 1
            log(f"known defect still present: Take on a timestamp frame -> 400 {str(e)[:120]}")
        setup_s = time.perf_counter() - t0

        start = time.perf_counter()
        reqs, done, cycles = run_client(client, uri, sessions.make_sessions(seed, 200, data),
                                        start + seconds)
        jvm.proc.stdin.write("stop\n")
        jvm.proc.stdin.flush()
        jvm.finish(deadline)
    finally:
        jvm.kill()
    with open(out) as f:
        rec = json.load(f)
    rec.update(setup_s=setup_s, requests=reqs, sessions=done, cycles=cycles, ts_defect=ts_defect,
               untimed_requests=untimed)
    return rec


def serve_results(rec):
    """Check every completed session's reply against DuckDB. Failed
    requests and wrong replies count as failures, and no request of a
    failed or wrong session enters a latency sample."""
    import duckdb
    con = duckdb.connect()
    reqs = rec["requests"]
    failures = [("request", r[2]) for r in reqs if r[2]]
    good = set()
    for sid, s, blocks in rec["sessions"]:
        bad = sessions.check_reply(con, s, blocks)
        if bad:
            failures.append(("reply", bad))
        else:
            good.add(sid)
    ok = [r for r in reqs if r[3] in good]
    ops = [r[1] for r in ok if r[0] == "op"]
    actions = [r[1] for r in ok if r[0] == "action"]
    metrics = {
        "setup_s": rec["setup_s"],
        "wall_s": statistics.median(rec["cycles"]),
        **latencies(ops, actions),
        "retained_mb": rec["retained_mb"]}
    return len(reqs), failures, metrics, len(ops)


# ---------------------------------------------------------------- layers

def layer_metrics(workload, rec, calib_ms, calib_par_ms, overhead):
    """Per-layer metrics of a traced run (0 where a layer did not run)."""
    m = {k: 0.0 for k in PER_LAYER}
    spans = rec.get("spans", [])
    selft = stats.self_times(spans)
    counters = rec.get("counters", {}).get("spans", {})

    def jobs(s):
        return counters.get(str(s["id"]), {}).get("jobs", 0)

    def dur_ms(s):
        return (s["end_ns"] - s["start_ns"]) / 1e6

    def named(name, among=spans):
        return [s for s in among if s["name"] == name]

    def mean(xs):
        xs = list(xs)
        return statistics.fmean(xs) if xs else 0.0

    if workload == "serve":
        def timed_owner(o):
            return o.startswith("req:") and int(o[4:]) > rec["untimed_requests"]
    else:
        def timed_owner(o):
            return o.startswith("p")
    timed_ids = {s["id"] for s in spans if timed_owner(s["owner"])}
    n_ops = len({s["owner"] for s in spans if timed_owner(s["owner"])}) or 1

    # spark counters over the timed operations, per operation
    tot = {}
    for sid, c in counters.items():
        if int(sid) in timed_ids:
            for k, v in c.items():
                tot[k] = tot.get(k, 0) + v
    for k in ("jobs", "stages", "tasks", "task_run_ms", "task_cpu_ms", "sched_wait_ms",
              "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        m[f"spark.{k}"] = tot.get(k, 0) / n_ops
    skews = [max(t) / statistics.median(t) for t in rec.get("counters", {}).get("stage_task_ms", [])
             if len(t) >= 2 and statistics.median(t) > 0]
    m["spark.task_skew"] = statistics.median(skews) if skews else 1.0

    actions = [s for s in named("exec.action") if timed_owner(s["owner"])]
    m["exec.action_ms"] = mean(dur_ms(s) for s in actions)
    # the post-run probes of every table; serve's timed Reads are reported
    # as sources.serve_read_*
    opens = [s for s in named("sources.open") if s["owner"].startswith("layer:")]
    m["sources.open_ms"] = mean(dur_ms(s) for s in opens)
    m["sources.open_jobs"] = mean(jobs(s) for s in opens)
    m["sources.scan_ms"] = mean(dur_ms(s) for s in named("sources.scan"))
    m["sources.events_normalize_ms"] = mean(dur_ms(s) for s in named("sources.events_normalize"))
    for k in ("vecdot", "vecmat_argmax", "minhash", "simhash", "tdigest"):
        m[f"functions.{k}_ms"] = mean(dur_ms(s) for s in named(f"functions.{k}"))

    if workload != "serve":
        ops = [o for o in rec["ops"] if o.get("ok")]
        builds = {s["owner"]: s for s in named("queries.build") if timed_owner(s["owner"])}
        m["queries.build_ms"] = mean(o["build_ms"] for o in ops)
        m["queries.build_jobs"] = mean(jobs(s) for s in builds.values())
        for k, field in (("analysis", "analysis_ms"), ("optimize", "optimize_ms"), ("plan", "plan_ms")):
            m[f"catalyst.{k}_ms"] = mean(o[field] for o in ops)
        if workload == "memo-pipeline":
            payers = set(rec.get("payers", []))
            pay = [o for o in ops if o["name"] in payers]
            read = [o for o in ops if o["name"] not in payers]
            m["memo.payer_build_ms"] = mean(o["build_ms"] for o in pay)
            m["memo.reader_build_ms"] = mean(o["build_ms"] for o in read)
            hits = [jobs(builds[o["owner"]]) == 0 for o in read if o["owner"] in builds]
            m["memo.reader_hit_share"] = mean(1.0 if h else 0.0 for h in hits)
    else:
        timed = [s for s in spans if s["id"] in timed_ids]
        req_spans = named("server.request", timed)
        n_req = len(req_spans) or 1
        m["server.parse_ms"] = mean(dur_ms(s) for s in named("server.parse", timed))
        m["server.replay_ms"] = sum(dur_ms(s) for s in named("server.replay", timed)) / n_req
        m["server.replay_jobs"] = sum(jobs(s) for s in named("server.replay", timed)) / n_req
        m["server.op_handle_ms"] = mean(dur_ms(s) for s in named("server.op_handle", timed))
        m["server.action_handle_ms"] = mean(dur_ms(s) for s in named("server.action_handle", timed))
        m["server.encode_ms"] = mean(dur_ms(s) for s in named("server.encode", timed))
        reads = named("sources.read", timed)
        m["sources.serve_read_ms"] = mean(dur_ms(s) for s in reads)
        m["sources.serve_read_jobs"] = mean(jobs(s) for s in reads)
        after_warmup = [r for r in rec.get("replies", []) if r[0] > rec["untimed_requests"]]
        m["server.response_bytes"] = mean(r[1] for r in after_warmup)
        client_ms = [r[1] for r in rec["requests"] if not r[2]]
        m["server.http_overhead_ms"] = mean(client_ms) - mean(dur_ms(s) for s in req_spans)
        applied = [s for s in timed if s["name"].startswith("api.apply_op.")]
        m["api.apply_op_ms"] = mean(selft[s["id"]] / 1e6 for s in applied)
        for op in API_OPS:
            m[f"api.apply_op.{op}_ms"] = mean(
                selft[s["id"]] / 1e6 for s in named(f"api.apply_op.{op}", applied))
        for i, k in enumerate(("analysis", "optimize", "plan")):
            m[f"catalyst.{k}_ms"] = mean(r[2 + i] for r in after_warmup if len(r) > 2)
        m["server.ts_defect_400"] = float(rec.get("ts_defect", 0))
    m["jvm.peak_rss_mb"] = rec["peak_rss_mb"]
    m["host.calib_ms"] = calib_ms
    m["host.calib_par_ms"] = calib_par_ms
    m["trace.overhead_share"] = overhead
    return m


def tracing_overhead(records, workload, cpus, commit, bench, traced_wall):
    """Traced wall_s over the median untraced wall_s of the same workload,
    cpus, commit and benchmark version, minus 1 (0 without a baseline)."""
    base = []
    for path in glob.glob(os.path.join(records, f"{workload}_*_c{cpus}_{commit}_untraced_*.json")):
        with open(path) as f:
            prior = json.load(f)
        if prior.get("bench") == bench:
            base.append(prior["end_to_end"]["wall_s"])
    if not base:
        log("trace.overhead_share: no untraced record of this commit and benchmark yet; "
            "reported as 0")
        return 0.0
    return traced_wall / statistics.median(base) - 1.0


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["relational", "memo-pipeline", "serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classpath, data, prog_key = build(build_dir)
    deadline = time.monotonic() + RUN_TIMEOUT_S  # the build is not part of a run
    calib, calib_par = host_calibration_ms()
    log(f"host.calib_ms={calib:.1f} host.calib_par_ms={calib_par:.1f}")
    started = time.time_ns()
    work = os.path.join(build_dir, "work", f"{os.getpid()}-{started}")
    with open(os.path.join(BENCH, "golden.json")) as f:
        golden = json.load(f)
    if golden["scale"] != SCALE:
        sys.exit(f"golden fingerprints are for sf{golden['scale']}, data is sf{SCALE}")
    try:
        if args.workload == "serve":
            rec = run_serve(classpath, data, work, args.seed, args.seconds, args.trace, deadline)
            attempted, failures, e2e, n_samples = serve_results(rec)
        else:
            rec = run_queries(args.workload, classpath, data, work, args.seed, args.seconds,
                              args.trace, deadline)
            attempted, failures, e2e, n_samples = query_results(rec, golden["fingerprints"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for name, why in failures[:20]:
        log(f"FAILED {name}: {why}")
    log(f"{args.workload}: {attempted} attempted, {len(failures)} failed; {n_samples} "
        f"latency samples support p{stats.highest_supported_percentile(n_samples)}")

    cpus = rec.get("cpus", os.cpu_count())
    commit = commit_id(prog_key)
    records = os.path.join(build_dir, "records")
    os.makedirs(records, exist_ok=True)
    kind = "traced" if args.trace else "untraced"
    bench = _tree_hash(f for f in glob.glob(os.path.join(BENCH, "**", "*.*"), recursive=True)
                       if "__pycache__" not in f)[:12]
    if args.trace:
        overhead = tracing_overhead(records, args.workload, cpus, commit, bench, e2e["wall_s"])
        metrics = layer_metrics(args.workload, rec, calib, calib_par, overhead)
        metrics["fail_share"] = len(failures) / max(1, attempted)
        units = PER_LAYER
    else:
        metrics, units = e2e, END_TO_END
    record = {"workload": args.workload, "seed": args.seed, "cpus": cpus, "commit": commit,
              "bench": bench, "traced": bool(args.trace), "seconds": args.seconds,
              "scale": SCALE, "host_calib_ms": calib, "host_calib_par_ms": calib_par,
              "attempted": attempted, "failed": len(failures), "failures": failures[:50],
              "end_to_end": e2e, "metrics": metrics}
    name = f"{args.workload}_s{args.seed}_c{cpus}_{commit}_{kind}_{started}.json"
    with open(os.path.join(records, name), "w") as f:
        json.dump(record, f, indent=1)

    print(json.dumps({
        "correct": not failures, "attempted": attempted, "failed": len(failures),
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}))


if __name__ == "__main__":
    # a terminated run still stops its JVM (the finally blocks kill it)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        main()
    except (RuntimeError, OSError, subprocess.SubprocessError) as e:
        log(f"aborted: {e}")
        sys.exit(3)
