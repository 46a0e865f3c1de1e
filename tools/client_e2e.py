"""End-to-end check of the remote usage mode: starts the graft HTTP
server (tools/run.sh graft.server.GraftServer) on a free port, drives
it with the stdlib client DSL (tools/client.py), and asserts results.

Run from the repository root after `sbt compile`:

    python3 tools/client_e2e.py [sf_dir]

Covers the reference client's canonical flows (client.py:248-331):
example_small (filter/select/aggregate/collect), arithmetic select
with alias + float constant, group_by nesting, join, order_by,
count/take, the parquet read, the 400 error surface, the reply pool
(a repeated Collect, then one after its CSV is rewritten) and the frame
pool (a CSV rewritten between two Ops of one session, and a CSV rewritten
and then Read again in a new lineage).
"""

import os
import socket
import subprocess
import sys
import tempfile
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import client
from client import (Type, Schema, Comparator, Value, Predicate,
                    Aggregator, ColumnExpr, GraftError, Df, c)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = sys.argv[1] if len(sys.argv) > 1 else '/root/testdata/sf0.001'


def free_port():
    with socket.socket() as s:
        s.bind(('127.0.0.1', 0))
        return s.getsockname()[1]


def wait_listening(uri, proc, timeout=120):
    deadline = time.time() + timeout
    while time.time() < deadline:
        if proc.poll() is not None:
            raise RuntimeError('server died: rc=%d' % proc.returncode)
        try:
            urllib.request.urlopen(uri.replace('/call', '/'), timeout=1)
            return
        except urllib.error.HTTPError:
            return  # any HTTP response means it's up
        except Exception:
            time.sleep(0.5)
    raise RuntimeError('server did not come up in %ds' % timeout)


def main():
    port = free_port()
    uri = 'http://127.0.0.1:%d/call' % port
    client.URI = uri  # module default used by Df.call
    env = dict(os.environ, SPARK_GRAFT_CPUS='4')
    proc = subprocess.Popen(
        [os.path.join(REPO, 'tools', 'run.sh'),
         'graft.server.GraftServer', str(port)],
        cwd=REPO, env=env,
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    try:
        wait_listening(uri, proc)
        run_checks()
    finally:
        proc.terminate()
        proc.wait(timeout=30)
    print('client_e2e: all checks passed')


def run_checks():
    # --- example_small (reference client.py:248-257) over a CSV ---
    with tempfile.NamedTemporaryFile('w', suffix='.csv', delete=False) as f:
        f.write('1|one|true\n2|two|false\n3|three|true\n4|four|false\n')
        csv_path = f.name
    schema = Schema([('int', Type.INT),
                     ('string', Type.STRING),
                     ('bool', Type.BOOL)])
    small = Df.from_csv(csv_path, schema, uri=client.URI)
    avg = small.filter('bool', Predicate(Comparator.EQUAL, Value(True))) \
               .select([c('int')]) \
               .aggregate({'int': Aggregator.AVERAGE}) \
               .collect()
    assert avg == {'int': {'Float': [2.0]}}, avg

    # --- arithmetic select, alias, float constant ---
    doubled = small.select([(c('int') * c(Value(2))).alias('d'),
                            (c('int') / c(Value(4))).alias('q')]) \
                   .order_by(['d']).collect()
    assert doubled['d'] == {'Int': [2, 4, 6, 8]}, doubled
    assert doubled['q'] == {'Float': [0.25, 0.5, 0.75, 1.0]}, doubled

    # --- count / take (unimplemented in the reference server) ---
    assert small.count() == {'count': {'Int': [4]}}
    took = small.order_by(['int']).take(2)
    assert took['int'] == {'Int': [1, 2]}, took

    # --- collect_page (beyond-reference): ordered pages stitch back to
    # the full collect, and an off-the-end page is empty ---
    ordered = small.order_by(['int'])
    p1 = ordered.collect_page(0, 3)
    p2 = ordered.collect_page(3, 3)
    assert p1['int'] == {'Int': [1, 2, 3]}, p1
    assert p2['int'] == {'Int': [4]}, p2
    whole = ordered.collect()
    assert p1['int']['Int'] + p2['int']['Int'] == whole['int']['Int']
    empty = ordered.collect_page(10, 3)
    assert empty.get('int', {'Int': []}).get('Int', []) == [], empty

    # --- parquet read + group_by nesting + join (driver testdata) ---
    nation = Df.from_parquet(os.path.join(SF, 'nation.parquet'),
                             uri=client.URI)
    region = Df.from_parquet(os.path.join(SF, 'region.parquet'),
                             uri=client.URI)
    # the reference's aggregate validation requires an aggregator for
    # every non-grouped column — project down before grouping
    per_region = nation.join(region, 'n_regionkey', 'r_regionkey') \
                       .select([c('r_name'), c('n_nationkey')]) \
                       .group_by(['r_name']) \
                       .aggregate({'n_nationkey': Aggregator.COUNT}) \
                       .order_by(['r_name']).collect()
    assert per_region['n_nationkey'] == {'Int': [5, 5, 5, 5, 5]}, per_region
    assert per_region['r_name']['String'] == sorted(
        per_region['r_name']['String']), per_region

    # group_by without aggregate nests values into lists — full live
    # round-trip of the nested wire variants (round-6 advice): the
    # IntList AND StringList payloads the client decodes must equal a
    # client-side regrouping of the flat collect, group for group
    flat = nation.select([c('n_regionkey'), c('n_nationkey'), c('n_name')]) \
                 .order_by(['n_nationkey']).collect()
    expect_ids, expect_names = {}, {}
    for rk, nk, nm in zip(flat['n_regionkey']['Int'],
                          flat['n_nationkey']['Int'],
                          flat['n_name']['String']):
        expect_ids.setdefault(rk, []).append(nk)
        expect_names.setdefault(rk, []).append(nm)
    nested = nation.select([c('n_regionkey'), c('n_nationkey'), c('n_name')]) \
                   .group_by(['n_regionkey']).order_by(['n_regionkey']) \
                   .collect()
    keys = nested['n_regionkey']['Int']
    assert keys == sorted(expect_ids.keys()), nested
    got_ids = nested['n_nationkey']['IntList']
    got_names = nested['n_name']['StringList']
    for i, k in enumerate(keys):
        assert got_ids[i] == sorted(got_ids[i]), nested  # nest is sorted
        assert sorted(got_ids[i]) == sorted(expect_ids[k]), (k, got_ids[i])
        assert sorted(got_names[i]) == sorted(expect_names[k]), (k, got_names[i])

    # --- beyond-reference verbs: dedup / near-dup / window top-k ---
    base = ('alpha bravo charlie delta echo foxtrot golf hotel india '
            'juliet kilo lima mike november oscar papa quebec romeo sierra')
    with tempfile.NamedTemporaryFile('w', suffix='.csv', delete=False) as f:
        f.write('1|%s tango\n' % base)     # rep of the near-dup pair
        f.write('2|%s tango\n' % base)     # exact dup of 1 (dropped)
        f.write('3|%s uniform\n' % base)   # near dup of 1 (j ~ 0.89)
        f.write('4|totally different words that share nothing at all '
                'with the phonetic alphabet corpus above here\n')
        dup_path = f.name
    dup_schema = Schema([('id', Type.INT), ('text', Type.STRING)])
    corpus = Df.from_csv(dup_path, dup_schema, uri=client.URI)
    reps = corpus.dedup_exact('id', 'text')
    assert reps.count() == {'count': {'Int': [3]}}
    kept = reps.select([c('id')]).order_by(['id']).collect()
    assert kept['id'] == {'Int': [1, 3, 4]}, kept
    # pipeline composition on the wire: dedup -> near-dup pairs
    pairs = reps.minhash_pairs('id', 'text', 0.5).collect()
    assert pairs['id_a'] == {'Int': [1]}, pairs
    assert pairs['id_b'] == {'Int': [3]}, pairs
    assert pairs['jaccard']['Float'][0] > 0.85, pairs
    # window top-k: highest id per distinct text
    topk = corpus.window_topk('text', 'id', 1).order_by(['id']).collect()
    assert topk['id'] == {'Int': [2, 3, 4]}, topk
    assert topk['rank'] == {'Int': [1, 1, 1]}, topk
    # snapshot diff: corpus (old) vs a revised copy (new) — id 2 drops
    # out, id 3's text changes, id 5 appears; unchanged ids are absent
    with tempfile.NamedTemporaryFile('w', suffix='.csv', delete=False) as f:
        f.write('1|%s tango\n' % base)
        f.write('3|%s revised entirely\n' % base)
        f.write('4|totally different words that share nothing at all '
                'with the phonetic alphabet corpus above here\n')
        f.write('5|a brand new doc\n')
        v2_path = f.name
    v2 = Df.from_csv(v2_path, dup_schema, uri=client.URI)
    diff = corpus.snapshot_diff(v2, 'id', 'text').order_by(['key']).collect()
    assert diff['key'] == {'Int': [2, 3, 5]}, diff
    assert diff['change'] == {'String': ['removed', 'changed', 'added']}, diff

    # --- round-6 verbs: pairs -> clusters, and RRF fusion ---
    # remote END-TO-END dedup: minhash pairs feed connected components
    # on the server — pair rows never come back to the client
    clusters = reps.minhash_pairs('id', 'text', 0.5) \
                   .connected_components('id_a', 'id_b') \
                   .order_by(['id']).collect()
    assert clusters['id'] == {'Int': [1, 3]}, clusters
    assert clusters['cluster'] == {'Int': [1, 1]}, clusters
    # RRF fusion of two (id, rank) lists built on the wire: doc 2 is
    # rank 2 in BOTH lists and must beat the two single-list rank-1 docs
    with tempfile.NamedTemporaryFile('w', suffix='.csv', delete=False) as f:
        f.write('10|1\n20|2\n30|3\n')
        ra_path = f.name
    with tempfile.NamedTemporaryFile('w', suffix='.csv', delete=False) as f:
        f.write('40|1\n20|2\n30|4\n')
        rb_path = f.name
    rank_schema = Schema([('id', Type.INT), ('rank', Type.INT)])
    ra = Df.from_csv(ra_path, rank_schema, uri=client.URI)
    rb = Df.from_csv(rb_path, rank_schema, uri=client.URI)
    fused = ra.rrf_fuse(rb, 'id', 'rank', k0=60, top_k=10).collect()
    assert fused['id']['Int'][0] == 20, fused
    assert fused['n_lists']['Int'][0] == 2, fused
    assert fused['rrf_fx']['Int'][0] == 2 * (10**12 // 62), fused
    os.unlink(ra_path)
    os.unlink(rb_path)
    os.unlink(v2_path)
    os.unlink(dup_path)

    # --- round-8 verb: semantic decontamination over the wire ---
    # embeddings stay server-side; only flagged (train, eval, cosine)
    # evidence rows travel back. Expected count pinned against an
    # independent DuckDB recompute of max-cosine >= 0.3 on sf0.001.
    emb = Df.from_parquet('/root/testdata/sf0.001/embeddings.parquet',
                          uri=client.URI)
    eval_df = emb.filter('vec_id', Predicate(Comparator.LESS_THAN, Value(5)))
    train_df = emb.filter('vec_id',
                          Predicate(Comparator.GREATER_THAN_OR_EQ, Value(5)))
    flagged = train_df.semantic_decontam(eval_df, 'vec_id', 'embedding', 0.3) \
                      .order_by(['train_id']).collect()
    assert len(flagged['train_id']['Int']) == 20, flagged
    assert all(t >= 5 for t in flagged['train_id']['Int']), flagged
    assert all(e < 5 for e in flagged['eval_id']['Int']), flagged
    assert all(0.3 <= c <= 1.0 + 1e-9
               for c in flagged['cosine']['Float']), flagged

    # --- error surface: unknown column is a 400 with a message ---
    try:
        small.filter('nope', Predicate(Comparator.EQUAL, Value(1)))
        raise AssertionError('expected GraftError for unknown column')
    except GraftError as e:
        assert 'nope' in str(e), e

    # --- lineage is stateless: a stale token still replays ---
    again = small.filter('bool', Predicate(Comparator.EQUAL, Value(True))) \
                 .select([c('int')]) \
                 .aggregate({'int': Aggregator.SUM}).collect()
    assert again == {'int': {'Int': [4]}}, again

    # --- reply pool: a repeated Collect gets the same reply; a
    # rewritten input file gets the new rows ---
    sorted_small = small.order_by(['int'])
    first = sorted_small.collect()
    assert sorted_small.collect() == first, first
    assert first['int'] == {'Int': [1, 2, 3, 4]}, first
    with open(csv_path, 'a') as f:
        f.write('5|five|true\n')
    rewritten = sorted_small.collect()
    assert rewritten['int'] == {'Int': [1, 2, 3, 4, 5]}, rewritten
    assert rewritten['string']['String'][-1] == 'five', rewritten

    # --- frame pool: a CSV rewritten between two Ops of one session is
    # seen by the next Action (the pooled prefix is replanned) ---
    kept = small.filter('int', Predicate(Comparator.GREATER_THAN, Value(1)))
    assert kept.count() == {'count': {'Int': [4]}}
    with open(csv_path, 'a') as f:
        f.write('6|six|false\n')
    later = kept.select([c('int')]).order_by(['int']).collect()
    assert later['int'] == {'Int': [2, 3, 4, 5, 6]}, later

    # --- pooled Read: a CSV rewritten with more rows and read again in a
    # new lineage is seen (the Read's pooled frame is replanned) ---
    with tempfile.NamedTemporaryFile('w', suffix='.csv', delete=False) as f:
        f.write('1|one|true\n2|two|false\n')
        reread_path = f.name
    first_read = Df.from_csv(reread_path, schema, uri=client.URI)
    assert first_read.count() == {'count': {'Int': [2]}}
    with open(reread_path, 'w') as f:
        f.write('1|one|true\n2|two|false\n3|three|true\n')
    second_read = Df.from_csv(reread_path, schema, uri=client.URI)
    assert second_read.count() == {'count': {'Int': [3]}}
    os.unlink(reread_path)

    os.unlink(csv_path)


if __name__ == '__main__':
    main()
