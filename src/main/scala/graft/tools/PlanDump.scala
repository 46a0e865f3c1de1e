package graft.tools

import java.nio.file.{Files, Paths}

/** Dumps `explain("formatted")` for SELECTED queries to individual
  * files — the per-optimization plan evidence the round logs commit
  * (plans/rN/<query>_<tag>.txt). Unlike [[Explain]] (the full pinned
  * registry → EXPLAINS.md), this takes an explicit query list so a
  * before/after pair can be captured around one change.
  *
  *   tools/run.sh graft.tools.PlanDump <outDir> <tag> q1,q2,...
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: PlanDump <outDir> <tag> <q1,q2,...>")
    val (outDir, tag, names) = (args(0), args(1), args(2).split(",").toSeq)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    // a fixed 4 cores on every host, so the plans stay comparable
    val spark = graft.SparkEntry.localSession(4, "ERROR")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, dir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), txt)
      println(s"[plandump] wrote $outDir/${name}_$tag.txt")
    }
    spark.stop()
  }
}
