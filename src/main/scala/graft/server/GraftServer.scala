package graft.server

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.fasterxml.jackson.databind.util.RawValue
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.LambdaFunction
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.graft.ColumnBridge
import graft.api.{GraftException, GraftFrame}
import graft.sources.Sources
import graft.util.SessionMemo

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.HexFormat
import java.util.concurrent.Executors

/** The reference engine's remote usage mode: an HTTP JSON API serving
  * `POST /call` (reference: src/api.rs:149-168; the Python client DSL
  * in client.py:194-245 is the canonical consumer). Same endpoint,
  * same request/response JSON, same status codes (201 Created on
  * success, 400 on protocol/plan errors, 404 elsewhere) — a reference
  * client.py pointed at this server runs unchanged.
  *
  * Differences, all documented in [[Wire]]:
  *  - the `dataframe` state token is our lineage encoding (clients
  *    round-trip it opaquely, so this is invisible to them);
  *  - `Count` and `Take` are implemented (the reference server panics
  *    on them — src/api.rs:77 `unimplemented!()`);
  *  - Float NaN crosses the wire as JSON null.
  *
  * Built on the JDK's HttpServer (zero added dependencies). One shared
  * SparkSession; requests build lazy plans and only Actions execute —
  * a Read or Op launches no Spark job once its parquet paths have been
  * opened in this session (see [[graft.sources.Sources.parquet]]), and
  * a pooled Read opens nothing.
  *
  * Two pools, both `SessionMemo` families that die with their session,
  * keep what a replay would compute, as the reference's Pool keeps every
  * entry under its lineage hash (src/pool.rs:57-62):
  *  - `serverFrames` holds, under a hash of the token, the analyzed plan
  *    that a Read or Op built, with the fingerprint of its input files
  *    ([[Sources.fingerprintOf]]). Every Op stores the frame it builds
  *    under its new token, and every request looks its prior token (an
  *    Action its own token, a Join its right-side token) up instead of
  *    replaying it: in a session, each request analyzes only its own
  *    entry. A repeated Op still applies its entry.
  *  - A Read is looked up too, under its own one-entry token, which
  *    every lineage over the same path shares: a hit opens no source and
  *    builds no Dataset; a miss opens the source and pools the frame.
  *  - A pooled plan is used only while one direct listing of its Read
  *    paths (globs expanded again) has the fingerprint it was planned
  *    with; otherwise the token is replayed from the files and the new
  *    frame replaces the old one. Every use runs on a new Dataset of the
  *    request's own over the pooled plan, so no executed plan is pooled
  *    or shared between request threads.
  *  - A frame with no fingerprint (a verb that checkpoints, such as
  *    `ConnectedComponents`) or with an interpreted lambda in its plan
  *    (a List column's aggregation, rule 16) is not pooled: it is
  *    replayed every time, as its descendants are.
  *  - `serverReplies` holds the rendered `blocks` of an Action asked over
  *    the same token, on a server with the same row cap, over input
  *    files with the same fingerprint: it is answered without a Spark
  *    job, and without building a Dataset over the frame. A reply is
  *    kept only if the files list the same after it was computed, and
  *    only if the frame has a fingerprint.
  *  - An Action that fails (a 400, an over-cap Collect) keeps nothing.
  *    Concurrent identical Actions compute once.
  *  - A Take or CollectPage without an OrderBy keeps the first valid
  *    answer it computed.
  *  - `serverFrames` holds at most [[FrameBudget]] frames and
  *    `serverReplies` at most [[PoolBudgetBytes]], all sessions
  *    together, oldest first.
  */
object GraftServer {

  /** Most frames the frame pool holds, all sessions together; the
    * oldest leave first. A frame is an analyzed plan, and a chain of Ops
    * shares its prefix's plan and file index: one cycle of serve's
    * 16-session pool plans fewer than 80 tokens (PERF.md has the heap per
    * frame). */
  val FrameBudget: Long = 256

  /** Analyzed frames of Read and Op tokens, each weighing 1. */
  private val frames = SessionMemo.bounded[Planned]("serverFrames", FrameBudget, 1L)(_ => 1L)

  /** A token's frame as the pool holds it: its analyzed plan, the
    * facade's grouping state and the fingerprint of its input files
    * when it was planned (None: it has none). */
  private final case class Planned(plan: LogicalPlan, groupedBy: Seq[String],
                                   strictArith: Boolean, inputs: Option[String]) {
    /** A frame of the caller's own over the plan. A Dataset tags the root
      * of its plan with its id (a mutable set, read by the ambiguous
      * self-join check), so each call roots a no-op Project of its own
      * above the pooled plan, and no request writes to a pooled node. */
    def frame(spark: SparkSession): GraftFrame =
      GraftFrame(ColumnBridge.ofRows(spark, Project(plan.output, plan)), groupedBy, strictArith)

    /** Only a fingerprinted plan without an interpreted lambda is pooled:
      * a lambda's variable is mutable state that concurrent jobs over
      * one plan instance must not share (rule 16). */
    def poolable: Boolean = inputs.nonEmpty &&
      !plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[LambdaFunction])))
  }

  private def planned(f: GraftFrame): (Planned, Boolean) = {
    val p = Planned(f.df.queryExecution.analyzed, f.groupedBy, f.strictArith,
      Sources.fingerprintOf(f.df))
    (p, p.poolable)
  }

  /** The frame of a token: pooled while a fresh listing of its input files
    * has the pooled fingerprint, else replayed from the files (its nested
    * tokens looked up in turn) and pooled anew. */
  private def frameOf(spark: SparkSession, state: JsonNode): Planned = {
    Wire.opsOf(state) // a missing or empty token is a 400 before any lookup
    frames.fresh(spark, tokenKey(state)) { p =>
      Sources.fingerprintOf(spark, p.plan, relist = true) == p.inputs
    } {
      planned(Wire.replay(spark, state, frameOf(spark, _).frame(spark)))
    }
  }

  private def tokenKey(state: JsonNode): String = sha256(Seq(Wire.render(state)))

  private def sha256(parts: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach(part => md.update((part + "\u0000").getBytes(StandardCharsets.UTF_8)))
    HexFormat.of().formatHex(md.digest())
  }

  /** Most bytes of replies the pool holds, all sessions together; the
    * oldest replies leave first. */
  val PoolBudgetBytes: Long = 32L << 20

  /** A reply heavier than this is served but not pooled. */
  val PoolEntryCapBytes: Long = 1L << 20

  /** Rendered `blocks` JSON of answered Actions, weighed in UTF-8 bytes. */
  private val replies = SessionMemo.bounded[String]("serverReplies",
    PoolBudgetBytes, PoolEntryCapBytes)(_.getBytes(StandardCharsets.UTF_8).length.toLong)

  /** The pool key of an Action: SHA-256 over the rendered token, the
    * rendered Action, the server's row cap and the input fingerprint of
    * the frame, as [[frameOf]] validated it. */
  private def replyKey(state: JsonNode, action: JsonNode,
                       maxCollectRows: Option[Long], inputs: String): String =
    sha256(Seq(Wire.render(state), Wire.render(action),
      maxCollectRows.fold("uncapped")(_.toString), inputs))

  /** Handle one parsed request body → (status, response JSON/text). */
  def handle(spark: SparkSession, body: JsonNode): (Int, String) =
    handle(spark, body, None)

  /** As [[handle]], with an optional server-side cap on rows a single
    * Collect may return. Default None = exact reference semantics
    * (`Collect` materializes everything, api.rs:62-75). With a cap, a
    * too-large Collect is rejected 400 — BEFORE the driver holds more
    * than cap+1 rows (the probe is `limit(cap+1).collect()`, so driver
    * memory is bounded by the cap even for a pathological remote
    * query) — and the client is pointed at the beyond-reference
    * `CollectPage {offset, limit}` action, which streams any result in
    * bounded slices (compose with order_by for stable page frames).
    */
  def handle(spark: SparkSession, body: JsonNode,
             maxCollectRows: Option[Long]): (Int, String) =
    try {
      val state = body.get("dataframe")
      val fn = body.get("function")
      if (fn == null || !fn.isObject || fn.size() != 1)
        throw new GraftException(s"malformed function: $fn")
      val tag = fn.fieldNames().next()
      tag match {
        case "Read" | "Op" =>
          // plan-building: validate eagerly (the facade throws on bad
          // schema/alias/keys like the reference), execute nothing. The
          // prior token is looked up (or replayed, which re-validates
          // every entry: a bad token is a 400 here, as for an Action),
          // and its frame is what an Op builds on. A Read ignores it.
          val entry = if (tag == "Read") fn else fn.get("Op")
          val noPrior = state == null || state.isNull
          val prior = if (tag == "Read" && noPrior) None else Some(frameOf(spark, state))
          def token(ops: ArrayNode): ObjectNode = {
            val t = Wire.obj()
            t.set[JsonNode]("ops", ops.add(entry.deepCopy[JsonNode]()))
            t
          }
          val newState = token(if (noPrior) Wire.arr() else state.get("ops").deepCopy[ArrayNode]())
          if (tag == "Read") {
            // a Read is its own one-entry token's frame, which every
            // lineage over the same path shares: a hit opens nothing
            val frame = frameOf(spark, token(Wire.arr()))
            if (prior.nonEmpty) frames.put(spark, tokenKey(newState))((frame, frame.poolable))
          } else {
            val frame = Wire.applyOp(spark, prior.get.frame(spark), entry, frameOf(spark, _).frame(spark))
            frame.df.schema // force analysis so plan errors surface now
            frames.put(spark, tokenKey(newState))(planned(frame))
          }
          val resp = Wire.obj()
          resp.set[JsonNode]("dataframe", newState)
          resp.set[JsonNode]("blocks", Wire.obj())
          (201, Wire.render(resp))
        case "Action" =>
          // a reply-pool hit analyzes nothing: the frame is built only
          // when the Action computes
          val pooled = frameOf(spark, state)
          lazy val frame = pooled.frame(spark)
          val action = fn.get("Action")
          def blocks: ObjectNode =
            if (action.isTextual && action.asText() == "Collect") {
              maxCollectRows match {
                case Some(cap) =>
                  // clamp the probe (cap is server config, not client
                  // input): a cap ≥ Int.MaxValue must not wrap negative
                  // in limit() — probe at Int.MaxValue and the cap
                  // check below still holds
                  val probeN = math.min(cap + 1, Int.MaxValue.toLong).toInt
                  val probe = frame.df.limit(probeN).collect()
                  if (probe.length > cap)
                    throw new GraftException(
                      s"Collect result exceeds the server row cap ($cap); " +
                        "page it with Action {\"CollectPage\": {\"offset\": N, " +
                        "\"limit\": M}} (order_by first for stable pages)")
                  Wire.blocksOf(probe, frame.df.schema)
                case None => Wire.blocksOf(frame.df.collect(), frame.df.schema)
              }
            } else if (action.isObject && action.has("CollectPage")) {
              val p = action.get("CollectPage")
              if (p == null || !p.has("offset") || !p.has("limit"))
                throw new GraftException(s"CollectPage needs {offset, limit}: $action")
              val off = p.get("offset").asLong()
              val lim = p.get("limit").asLong()
              if (off < 0 || lim <= 0)
                throw new GraftException(s"CollectPage offset/limit out of range: $action")
              // offset/limit feed Int-typed Dataset operators: values
              // above Int.MaxValue would wrap on .toInt into a negative
              // (500) or a silently wrong page — reject as a 400
              // validation error like the sign checks above
              if (off > Int.MaxValue.toLong || lim > Int.MaxValue.toLong)
                throw new GraftException(
                  s"CollectPage offset/limit exceed Int.MaxValue: $action")
              maxCollectRows.foreach { cap =>
                if (lim > cap) throw new GraftException(
                  s"CollectPage limit $lim exceeds the server row cap ($cap)")
              }
              Wire.blocksOf(
                frame.df.offset(off.toInt).limit(lim.toInt).collect(),
                frame.df.schema)
            } else if (action.isTextual && action.asText() == "Count") {
              val b = Wire.obj(); val a = Wire.arr().add(frame.count())
              val tagged = Wire.obj(); tagged.set[JsonNode]("Int", a)
              b.set[JsonNode]("count", tagged); b
            } else if (action.isObject && action.has("Take")) {
              val limited = frame.take(action.get("Take").asInt())
              Wire.blocksOf(limited.df.collect(), limited.df.schema)
            } else throw new GraftException(s"unknown action: $action")
          val json = pooled.inputs match {
            case Some(inputs) =>
              replies(spark, replyKey(state, action, maxCollectRows, inputs)) {
                val reply = Wire.render(blocks)
                (reply, Sources.fingerprintOf(spark, pooled.plan, relist = true).contains(inputs))
              }
            case None => Wire.render(blocks)
          }
          val resp = Wire.obj()
          resp.set[JsonNode]("dataframe", state.deepCopy[JsonNode]())
          resp.putRawValue("blocks", new RawValue(json))
          (201, Wire.render(resp))
        case other =>
          throw new GraftException(s"unknown function tag: $other")
      }
    } catch {
      // 400 like the reference (src/api.rs:25-28: every error is
      // BadRequest with a debug-printed message body)
      case e: GraftException => (400, s"DataFrame(${e.getMessage})")
      case e: org.apache.spark.sql.AnalysisException => (400, s"DataFrame(${e.getMessage})")
      case e: Throwable =>
        e.printStackTrace()
        (500, s"Internal(${e.getClass.getSimpleName}: ${e.getMessage})")
    }

  /** Start the server; returns it (caller stops). Port 0 = ephemeral.
    * `maxCollectRows` None = reference Collect semantics (default). */
  def start(spark: SparkSession, port: Int,
            maxCollectRows: Option[Long] = None): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/call", new HttpHandler {
      override def handle(x: HttpExchange): Unit = {
        val (status, payload) =
          if (x.getRequestMethod != "POST") (404, "not found")
          else try {
            val body = new String(x.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
            GraftServer.handle(spark, Wire.parse(body), maxCollectRows)
          } catch {
            case _: com.fasterxml.jackson.core.JacksonException => (400, "MalformedJSON")
            case e: Throwable => (500, s"Internal(${e.getClass.getSimpleName}: ${e.getMessage})")
          }
        val bytes = payload.getBytes(StandardCharsets.UTF_8)
        x.getResponseHeaders.set("Content-Type",
          if (status == 201) "application/json" else "text/plain")
        x.sendResponseHeaders(status, bytes.length.toLong)
        val os = x.getResponseBody
        try os.write(bytes) finally os.close()
      }
    })
    // 8 daemon workers: an idle pool never holds the JVM open once the
    // server has stopped (the server does not shut its executor down)
    server.setExecutor(Executors.newFixedThreadPool(8, { (r: Runnable) =>
      val t = new Thread(r, "graft-server-worker")
      t.setDaemon(true)
      t
    }))
    server.start()
    server
  }

  def main(args: Array[String]): Unit = {
    val port = args.headOption.map(_.toInt).getOrElse(3000)
    val spark = graft.SparkEntry.localSession()
    val cap = sys.env.get("GRAFT_MAX_COLLECT_ROWS").map(_.toLong)
    start(spark, port, cap)
    println(s"[graft-server] listening on http://127.0.0.1:$port/call" +
      cap.map(c => s" (collect row cap $c)").getOrElse(""))
    Thread.currentThread().join()
  }
}
