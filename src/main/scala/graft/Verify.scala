package graft
import graft.util.{QueryTrace, SessionMemo}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare, and one
  * [[graft.util.QueryTrace]] record per query in trace.jsonl. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional 3rd arg: comma-separated query-name filter (local spot
    // checks only; the driver always passes exactly 2 args)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = SparkEntry.localSession()
    new java.io.File(outDir).mkdirs()
    // one trace line per query, flushed as it finishes; the oracle
    // compare reads only the directories next to it
    val trace = new QueryTrace.Jsonl(Paths.get(s"$outDir/trace.jsonl"))
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      val (out, rec) = QueryTrace.traced(spark, name) {
        val df = fn(spark, sfDir)
        // The driver's pandas comparator only hashes SCALAR cells: an
        // array/struct/map/binary output column dies in sort_values →
        // factorize ("unhashable type") — the round-8 q210/q217 red
        // rows. Refuse at dump time so the local gate can never pass
        // what the driver fails (encode lists as joined strings).
        val nested = df.schema.fields.filter { f =>
          f.dataType match {
            case _: org.apache.spark.sql.types.ArrayType  => true
            case _: org.apache.spark.sql.types.StructType => true
            case _: org.apache.spark.sql.types.MapType    => true
            case org.apache.spark.sql.types.BinaryType    => true
            case _ => false
          }
        }
        if (nested.nonEmpty) throw new IllegalArgumentException(
          s"non-scalar output columns ${nested.map(_.name).mkString(",")} " +
            "— the driver comparator only hashes scalar cells")
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      trace.write(rec)
      out.left.foreach { e =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a crashed query must show up as a FAILING correctness row,
        // not silently vanish from the report (round-4: 10 crashed
        // queries were absent from CORRECTNESS_r04 and went unnoticed).
        // A 1-row marker with an impossible schema guarantees a
        // schema+hash mismatch against any oracle.
        try {
          import spark.implicits._
          Seq(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}")
            .toDF("__graft_query_crashed")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case m: Throwable =>
          System.err.println(s"[verify] $name crash marker write FAILED: " +
            s"${m.getClass.getName}: ${m.getMessage}")
        }
      }
    }
    trace.close()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Containment oracles (q31/q32/q36/...) verify the just-written
    // Spark result itself in DuckDB: the SQL reads the emitted parquet
    // back and joins every row against independently-recomputed ground
    // truth (exact shingle Jaccard / cosine / rank bounds). Any bogus
    // row falls out of the join → row-count mismatch → FAIL. The
    // placeholder is resolved here because only Verify knows outDir.
    val outAbs = Paths.get(outDir).toAbsolutePath.toString
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v.replace("__GRAFT_OUT__", outAbs))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // what the run's memos did, per family: the counts PERF.md's memo
    // map is read from
    SessionMemo.stats(spark).toSeq.sortBy(_._1).foreach { case (family, s) =>
      System.err.println(
        f"[verify] memo $family builds=${s.builds} hits=${s.hits} build_ms=${s.buildMs}%.0f")
    }
    spark.stop()
  }
}
