package graft.layers

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types.StructType

/** High-water-mark incremental processing — the reference's manual
  * anti-reprocessing pattern (`silver_job.py:127-137`, `gold_job.py:51-63`)
  * re-expressed without a driver round-trip: the max() aggregate joins
  * back as a broadcast scalar, so the filter stays inside one distributed
  * plan. That plan costs more than the batch: the mark is a full max()
  * aggregate over every file of the target, and the comparison is the
  * condition of a BroadcastNestedLoopJoin, not a scan filter — the
  * source scan reports no pushed filters, so every source row is read
  * and compared.
  */
object Hwm {

  /** Rows of `source` with tsCol strictly above max(tsCol) of `target`
    * (all rows when target is absent/empty — first run).
    */
  def newerThan(source: DataFrame, target: Option[DataFrame], tsCol: String): DataFrame =
    target match {
      case None => source
      case Some(t) =>
        val hwm = t.agg(F.max(F.col(tsCol)).as("__hwm"))
        source.crossJoin(F.broadcast(hwm))
          .filter(F.col("__hwm").isNull || F.col(tsCol) > F.col("__hwm"))
          .drop("__hwm")
    }

  /** Read a parquet layer if it exists (the target may not have been
    * written yet on a first incremental run). Existence goes through the
    * Hadoop FileSystem resolved from the path's own scheme + session conf,
    * so s3a://, hdfs:// and file:// warehouses all work — a local
    * java.io.File check would silently report "absent" for every
    * object-store path and re-process the full history. A given `schema`
    * binds the read to it, so no job reads parquet footers to infer one.
    */
  def readIfExists(
      spark: SparkSession,
      path: String,
      schema: Option[StructType] = None): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) Some(schema.fold(spark.read)(spark.read.schema).parquet(path)) else None
  }
}
