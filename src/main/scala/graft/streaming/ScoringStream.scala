package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import org.apache.spark.ml.PipelineModel

import graft.ingest.Debezium
import graft.layers.{Hwm, Silver}
import graft.ml.ModelRegistry
import graft.scoring.{MlModel, RuleModel}

/** Real-time scoring loop (`spark/app/realtime_prediction_job.py`),
  * collapsed from the reference's 4-process round-trip (Spark → HTTP →
  * FastAPI → Postgres) into one in-process pipeline (SURVEY §3.4):
  * parse → silver features → rule score → idempotent predictions sink +
  * alert log, all inside foreachBatch.
  *
  * No row `collect()`: the reference iterates rows on the driver
  * (`realtime_prediction_job.py:314`); here scoring is a Column expression
  * and the existence check is a distributed left-anti join, so the path
  * scales with executors. Only the in-batch key check of a large batch
  * brings a hash per row to the driver ([[oneRowPerKey]]).
  */
object ScoringStream {

  /** Batch-side scoring kernel, also used by the streaming query.
    * Scores with the registered ML model when one is supplied (the
    * reference's Production-model path), otherwise with the rule model
    * (its no-artifact fallback). Returns only predictions for trans_nums
    * not yet present.
    */
  def scoreBatch(
      batch: DataFrame,
      existing: Option[DataFrame],
      model: Option[(PipelineModel, String)] = None): DataFrame = {
    val silver = graft.functions.FraudFeatures.withFeatures(
      Silver.filled(Silver.typed(batch)))
    // crude late-data guard, as the reference does (year 2019-2025 filter,
    // realtime_prediction_job.py:293-295)
    val bounded = silver.filter(F.year(F.col("trans_timestamp")).between(2019, 2030))
    val preds = model match {
      case Some((m, version)) => MlModel.predict(bounded, m, version)
      case None => RuleModel.predict(bounded)
    }
    RuleModel.newPredictionsOnly(preds, existing)
  }

  /** Whether the micro-batch runs as ONE task, where its `trans_num`
    * dedup needs no exchange and the epoch lands one predictions file
    * and at most one alerts file, not one per source split for every
    * later trigger to list and open. It does when its plan statistics fit
    * one `spark.sql.files.maxPartitionBytes` split and stay under
    * [[OneTaskMaxBytes]], or when the source planned a single partition
    * anyway. A larger batch keeps the source's partitions and goes
    * through [[oneRowPerKey]].
    */
  private def runsAsOneTask(batch: DataFrame): Boolean = {
    val cut = math.min(OneTaskMaxBytes, batch.sparkSession.sessionState.conf.filesMaxPartitionBytes)
    batch.queryExecution.optimizedPlan.stats.sizeInBytes <= cut || batch.rdd.getNumPartitions == 1
  }

  /** The one-task cut in plan statistics (~6.5 KB per parsed envelope
    * row, so ~2.5k rows; the benchmark's 100-row alert trigger reads
    * 0.65 MB, StreamBench's 60k-row trigger ~390 MB). Measured on 4
    * cores with 3 or 10 landed files per trigger, the two paths' triggers
    * interleaved into growing tables: after 10 to 30 triggers of history
    * one task was faster at 100, 1k and 3k rows (by 100-600 ms, its
    * epochs leaving a quarter of the files), and at 5k and 10k rows only
    * once 8 to 16 earlier triggers had landed. A lone trigger without
    * history was as fast or faster on the planned splits at every size
    * tried, 100 rows to 5k (by 0-230 ms).
    */
  private val OneTaskMaxBytes: Long = 16L << 20

  /** `scored` with one row per `trans_num`, for a batch of several
    * partitions. A single-stage job brings the 64-bit hashes of the
    * cached keys to the driver (8 bytes a row) and looks for a repeat;
    * the rows go through a `trans_num` exchange only when one repeats.
    * Measured on a 60k-row trigger (4 cores), a dedup of every batch
    * through that exchange cost ~1.5 s in a fresh JVM, a shuffled
    * `groupBy` check of the keys ~3.5 s fresh and ~0.3 s warm, this
    * check ~0.8 s fresh and ~0.2 s warm.
    */
  private def oneRowPerKey(scored: DataFrame): DataFrame = {
    import scored.sparkSession.implicits._
    val hashes = scored.select(F.xxhash64(F.col("trans_num"))).as[Long].collect()
    java.util.Arrays.sort(hashes)
    if ((1 until hashes.length).forall(i => hashes(i) != hashes(i - 1))) scored
    else scored.dropDuplicates("trans_num").cache()
  }

  /** What the anti-joins read of a sink table: no footer-inference job. */
  private val keySchema = Some(StructType(Seq(StructField("trans_num", StringType))))

  /** The standing scoring query. Each micro-batch is scored with one row
    * per `trans_num` ([[runsAsOneTask]], [[oneRowPerKey]]), so a replay
    * that lands in its original's micro-batch is scored and alerted once;
    * a replay in a LATER micro-batch is dropped by the predictions
    * anti-join ([[RuleModel.newPredictionsOnly]]). The alerts are written
    * FIRST, each leg behind its own `trans_num` anti-join against its
    * table. The two appends are not atomic together: a crash between them
    * re-runs the batch with the alerts landed and the predictions not.
    * The predictions anti-join then lets the whole batch through again,
    * and only the alerts anti-join keeps its alerts from landing twice.
    * In the other order, a crash would leave predictions whose replay the
    * anti-join empties, and their alerts would be lost. A batch-keyed
    * overwrite of the alerts would not do either: a re-run after a
    * partial predictions write rescores only the remainder and would drop
    * the prefix's alerts. Both anti-joins read their table against a
    * one-column `trans_num` schema, so no trigger runs a parquet
    * footer-inference job.
    */
  def start(
      spark: SparkSession,
      inputDir: String,
      predictionsPath: String,
      alertsPath: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
      model: Option[(PipelineModel, String)] = None): StreamingQuery = {
    val parsed = Debezium.parse(BronzeStream.readEnvelopes(spark, inputDir))
    parsed.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val existing = Hwm.readIfExists(spark, predictionsPath, keySchema)
        val oneTask = runsAsOneTask(batch)
        val scored = scoreBatch(
          if (oneTask) batch.coalesce(1).dropDuplicates("trans_num") else batch,
          existing, model).cache()
        val preds = if (oneTask) scored else oneRowPerKey(scored)
        // the Slack-alert leg (`realtime_prediction_job.py:115-209`)
        // becomes an alert-log table of the would-be notifications
        val alerts = preds.filter(F.col("is_fraud_predicted") === 1)
          .select("trans_num", "prediction_score", "risk_level", "prediction_time")
        RuleModel.newPredictionsOnly(alerts, Hwm.readIfExists(spark, alertsPath, keySchema))
          .write.mode("append").parquet(alertsPath)
        preds.write.mode("append").parquet(predictionsPath)
        preds.unpersist()
        scored.unpersist()
        ()
      }
      .start()
  }

  /** The reference's realtime topology: load the current Production model
    * from the registry at stream start (`realtime_prediction_job.py:414-436`
    * + the API's MLflow load, `main.py:386-393`) and score with it, falling
    * back to the rule model when nothing has been promoted yet.
    */
  def startWithRegistry(
      spark: SparkSession,
      inputDir: String,
      predictionsPath: String,
      alertsPath: String,
      checkpointDir: String,
      modelRoot: String,
      modelName: String = "fraud_detection_rf",
      trigger: Trigger = Trigger.ProcessingTime("10 seconds")): StreamingQuery =
    start(spark, inputDir, predictionsPath, alertsPath, checkpointDir, trigger,
      model = ModelRegistry.loadProduction(spark, modelRoot, modelName))
}
