package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.{functions => F}

/** Alert-delivery analog of the reference's Slack webhook
  * (`spark/app/realtime_prediction_job.py:115-209`): the scoring stream
  * lands would-be notifications in the alert-log table
  * ([[graft.streaming.ScoringStream]], idempotent per trans_num); this
  * tool FOLLOWS that table and renders each alert in the reference's
  * message shape (risk emoji, transaction id, amount, customer,
  * merchant, probability, location, detection time) — the delivery leg,
  * minus the webhook the sandbox can't reach.
  *
  * The render is a pure Column expression over alert-log ⋈ transactions
  * (broadcast — the alert batch is notification-sized by definition);
  * only the final formatted strings reach the driver, exactly the rows a
  * webhook POST loop would carry.
  *
  * Usage: runMain graft.tools.AlertTail <alertsPath> <txPath> [checkpointDir]
  */
object AlertTail {

  /** The reference's risk emoji map (`realtime_prediction_job.py:126-131`). */
  private def emoji(risk: org.apache.spark.sql.Column) =
    F.when(risk === "HIGH", "🔴")
      .when(risk === "MEDIUM", "🟡")
      .when(risk === "LOW", "🟢")
      .otherwise("⚪")

  /** One message per alert row, in the reference's field order: header,
    * transaction id, amount ($%.2f), customer (first last), merchant,
    * fraud probability (%.1f%%), risk level, location (city, state),
    * detection time. `tx` is the parsed transaction table (bronze shape);
    * alerts missing a transaction row keep N/A fields rather than being
    * dropped — a notification must never vanish because enrichment
    * lagged.
    *
    * Join shape: Spark cannot broadcast the PRESERVED side of an outer
    * join (unmatched build rows aren't trackable across executors), so a
    * single `right_outer` keeping all alerts would silently fall back to
    * a sort-merge join that shuffles the whole transaction table per
    * notification batch. Instead: an INNER join with the alert batch
    * broadcast (tx streams in place, column-pruned, never shuffled),
    * plus a left-anti of the alert batch against the matched ids —
    * themselves a broadcast-sized projection — union'd back with N/A
    * enrichment. Two narrow unshuffled passes over tx beat one pass that
    * shuffles it.
    *
    * Per-field N/A handling is explicit `when(isNotNull)`: the
    * tempting `coalesce(format_string(...), lit("N/A"))` never fires —
    * Java's Formatter renders a null arg as the string "null" (so
    * `format_string` returns "$null", non-null), and `concat_ws` skips
    * nulls and returns "" rather than null.
    */
  def render(alerts: DataFrame, tx: DataFrame): DataFrame = {
    val t = tx.select("trans_num", "amt", "first", "last", "merchant", "city", "state")
    val matched = t.join(F.broadcast(alerts), Seq("trans_num"))
    val missing = alerts
      .join(F.broadcast(matched.select("trans_num")), Seq("trans_num"), "left_anti")
      .withColumn("amt", F.lit(null).cast("double"))
      .withColumn("first", F.lit(null).cast("string"))
      .withColumn("last", F.lit(null).cast("string"))
      .withColumn("merchant", F.lit(null).cast("string"))
      .withColumn("city", F.lit(null).cast("string"))
      .withColumn("state", F.lit(null).cast("string"))
    message(matched).unionByName(message(missing))
  }

  private def message(enriched: DataFrame): DataFrame =
    enriched.select(F.col("trans_num"), F.col("prediction_time"),
      F.concat(
        F.lit("🚨 FRAUD DETECTED "), emoji(F.col("risk_level")),
        F.lit(" | "), F.coalesce(F.col("risk_level"), F.lit("?")), F.lit(" Risk"),
        F.lit(" | tx `"), F.col("trans_num"), F.lit("`"),
        F.lit(" | "),
        F.when(F.col("amt").isNotNull, F.format_string("$%.2f", F.col("amt")))
          .otherwise(F.lit("N/A")),
        F.lit(" | "),
        F.when(F.col("first").isNotNull || F.col("last").isNotNull,
          F.concat_ws(" ", F.col("first"), F.col("last"))).otherwise(F.lit("N/A")),
        F.lit(" @ "), F.coalesce(F.col("merchant"), F.lit("N/A")),
        F.lit(" | prob "),
        F.format_string("%.1f%%", F.col("prediction_score") * 100),
        F.lit(" | 📍 "),
        F.when(F.col("city").isNotNull || F.col("state").isNotNull,
          F.concat_ws(", ", F.col("city"), F.col("state"))).otherwise(F.lit("N/A")),
        F.lit(" | ⏰ "), F.col("prediction_time").cast("string")
      ).as("message"))

  /** Follow the alert log: each micro-batch of new alert rows is rendered
    * against the transaction table and handed to `sink` (default:
    * println — the webhook stand-in), ordered by prediction time then id
    * so re-runs print deterministically. The alert log is already
    * idempotent per trans_num (ScoringStream's in-batch dedup and
    * anti-join), so each alert is delivered at most once per checkpoint
    * lineage.
    */
  def follow(spark: SparkSession, alertsPath: String, txPath: String,
      checkpointDir: String, sink: String => Unit = println): StreamingQuery = {
    val schema = spark.read.parquet(alertsPath).schema
    spark.readStream.schema(schema).parquet(alertsPath)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val tx = spark.read.parquet(txPath)
          render(batch, tx)
            .orderBy("prediction_time", "trans_num")
            .select("message")
            .collect() // notification-sized: exactly the webhook loop's rows
            .foreach(r => sink(r.getString(0)))
        }
      }
      .start()
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: AlertTail <alertsPath> <txPath> [checkpointDir]")
    val spark = graft.runtime.GraftSession.get("alert-tail")
    spark.sparkContext.setLogLevel("ERROR")
    val ckpt = args.lift(2).getOrElse(s"/tmp/graft-alerttail-${System.nanoTime()}")
    val q = follow(spark, args(0), args(1), ckpt)
    q.awaitTermination()
  }
}
