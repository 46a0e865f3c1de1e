package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path, PathFilter}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex

/** Spark's own leaf-file lister, `private[sql]` in Spark 4: the listing
  * an `InMemoryFileIndex` runs when it is opened, without building an
  * index (no partition inference, no file-status cache, no `JobConf`). */
object LeafFiles {
  /** Every leaf file under `roots` (a root that is a file lists itself),
    * hidden `_`/`.` names skipped and `filter` applied, as the index
    * lists them; a missing root lists nothing. */
  def list(spark: SparkSession, roots: Seq[Path], conf: Configuration,
           filter: PathFilter, options: Map[String, String]): Seq[FileStatus] =
    InMemoryFileIndex.bulkListLeafFiles(roots, conf, filter, spark, options).flatMap(_._2)
}
