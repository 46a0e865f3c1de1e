package graftbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicLong

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ArrayNode
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{Row, SparkSession}
import graft.api.{GraftException, GraftFrame}
import graft.server.{GraftServer, Wire}

/** The `serve` workload's program side. Untraced, it is exactly
  * `GraftServer.start` on one shared session. Traced, the benchmark's own
  * HTTP handler serves each request by calling Wire's public functions
  * in the order GraftServer.handle calls them (parse; replay the prior
  * lineage twice for a Read/Op, once to validate it and once to build on
  * it; applyOp; for an Action replay, execute and blocksOf), with a span
  * around each call. The wire format of the replies is unchanged.
  */
final case class ServeRun(dataDir: String, trace: Boolean, out: String,
                          cpus: Int, work: String) {
  import Main.mapper

  private val reqIds = new AtomicLong(0)
  /** Per traced request: [request number, response bytes, then the
    * Catalyst analysis/optimization/planning ms of a row-fetching Action]. */
  private val replies = new java.util.concurrent.ConcurrentLinkedQueue[Array[Double]]()

  def run(): Unit = {
    Trace.enabled = trace
    val spark = Main.session(cpus, work)
    val counters = new JobCounters
    if (trace) {
      Trace.attach(spark.sparkContext)
      spark.sparkContext.addSparkListener(counters)
    }
    val server = if (trace) tracedServer(spark) else GraftServer.start(spark, 0)
    println(s"READY ${server.getAddress.getPort}"); System.out.flush()
    scala.io.StdIn.readLine() // the client side is done
    server.stop(0)
    val rec = mapper.createObjectNode()
    rec.put("retained_mb", Main.retainedMb())
    if (trace) Layers(spark, dataDir).run()
    rec.put("peak_rss_mb", Main.peakRssMb())
    rec.put("cpus", cpus)
    if (trace) {
      rec.set("spans", Trace.toJson(mapper))
      rec.set("counters", counters.toJson(mapper))
      rec.set("replies", mapper.valueToTree(replies.toArray))
    }
    Main.writeJson(out, rec)
  }

  private def tracedServer(spark: SparkSession): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/call", (x: HttpExchange) => {
      val reqNo = reqIds.incrementAndGet()
      var phases = Array.empty[Double]
      val (status, payload) = Trace.span("server.request", s"req:$reqNo") {
        try {
          val body = new String(x.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
          handle(spark, Trace.span("server.parse")(Wire.parse(body)), p => phases = p)
        } catch {
          case _: com.fasterxml.jackson.core.JacksonException => (400, "MalformedJSON")
          case e: GraftException => (400, s"DataFrame(${e.getMessage})")
          case e: org.apache.spark.sql.AnalysisException => (400, s"DataFrame(${e.getMessage})")
          case e: Throwable => (500, s"Internal(${e.getClass.getSimpleName}: ${e.getMessage})")
        }
      }
      val bytes = payload.getBytes(StandardCharsets.UTF_8)
      replies.add(Array(reqNo.toDouble, bytes.length.toDouble) ++ phases)
      x.getResponseHeaders.set("Content-Type",
        if (status == 201) "application/json" else "text/plain")
      x.sendResponseHeaders(status, bytes.length.toLong)
      val os = x.getResponseBody
      try os.write(bytes) finally os.close()
    })
    server.setExecutor(Executors.newFixedThreadPool(8))
    server.start()
    server
  }

  private def handle(spark: SparkSession, body: JsonNode,
                     catalyst: Array[Double] => Unit): (Int, String) = {
    val state = body.get("dataframe")
    val fn = body.get("function")
    if (fn == null || !fn.isObject || fn.size() != 1)
      throw new GraftException(s"malformed function: $fn")
    val resp = Wire.obj()
    fn.fieldNames().next() match {
      case tag @ ("Read" | "Op") => Trace.span("server.op_handle") {
        val entry = if (tag == "Read") fn else fn.get("Op")
        val hasPrior = state != null && !state.isNull
        val priorOps =
          if (!hasPrior) Wire.arr()
          else {
            Trace.span("server.replay")(Wire.replay(spark, state))
            state.get("ops").deepCopy[ArrayNode]()
          }
        val opName = entry.fieldNames().next()
        val prior = if (hasPrior) Trace.span("server.replay")(Wire.replay(spark, state)) else null
        val frame = Trace.span(if (tag == "Read") "sources.read" else s"api.apply_op.$opName") {
          val f = Wire.applyOp(spark, prior, entry)
          f.df.schema
          f
        }
        val newState = Wire.obj()
        newState.set[JsonNode]("ops", priorOps.add(entry.deepCopy[JsonNode]()))
        resp.set[JsonNode]("dataframe", newState)
        resp.set[JsonNode]("blocks", Wire.obj())
      }
      case "Action" => Trace.span("server.action_handle") {
        val frame = Trace.span("server.replay")(Wire.replay(spark, state))
        val action = fn.get("Action")
        def encode(f: GraftFrame, rows: => Array[Row]) = {
          val r = Trace.span("exec.action")(rows)
          val qe = f.df.queryExecution
          catalyst(Array("analysis", "optimization", "planning").map(Fingerprint.phaseMs(qe, _)))
          Trace.span("server.encode")(Wire.blocksOf(r, f.df.schema))
        }
        val blocks =
          if (action.isTextual && action.asText() == "Collect") encode(frame, frame.df.collect())
          else if (action.isObject && action.has("CollectPage")) {
            val p = action.get("CollectPage")
            val (off, lim) = (p.get("offset").asInt(), p.get("limit").asInt())
            encode(frame, frame.df.offset(off).limit(lim).collect())
          } else if (action.isTextual && action.asText() == "Count") {
            val n = Trace.span("exec.action")(frame.count())
            val b = Wire.obj(); val tagged = Wire.obj()
            tagged.set[JsonNode]("Int", Wire.arr().add(n)); b.set[JsonNode]("count", tagged); b
          } else if (action.isObject && action.has("Take")) {
            val limited = frame.take(action.get("Take").asInt())
            encode(limited, limited.df.collect())
          } else throw new GraftException(s"unknown action: $action")
        resp.set[JsonNode]("dataframe", state.deepCopy[JsonNode]())
        resp.set[JsonNode]("blocks", blocks)
      }
      case other => throw new GraftException(s"unknown function tag: $other")
    }
    (201, Trace.span("server.render")(Wire.render(resp)))
  }
}
