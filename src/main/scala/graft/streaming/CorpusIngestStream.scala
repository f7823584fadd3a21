package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.{functions => F}

import graft.operators.{Dedup, NearDupIndex, Par}

/** Streaming corpus ingest with incremental dedup against persisted
  * history — the streaming face of [[graft.operators.NearDupIndex]]:
  * every micro-batch is
  *
  *   1. curated by the pluggable `curate` hook (quality / repetition /
  *      redaction gates — identity by default), then intra-batch
  *      deduplicated (near-dup pairs → connected components → min-id
  *      representative, the same policy as the batch pipeline);
  *   2. probed against the `<indexName>_*` tables and stripped of docs
  *      that near-duplicate ANY previously ingested doc;
  *   3. landed in the accepted corpus AND folded into the index, so the
  *      next micro-batch sees this one as history.
  *
  * Delivery semantics: EFFECTIVELY EXACTLY-ONCE under replay, because
  * every per-batch effect is an idempotent overwrite keyed by the batch
  * id and the recomputation is deterministic:
  *
  *   - the probe excludes the batch's own epoch
  *     (`excludeEpoch = Some(batchId)`), so a partially folded previous
  *     attempt of the SAME batch cannot shadow its own docs — the
  *     replayed batch recomputes the identical accepted set (this is why
  *     `curate` must be pure);
  *   - the accepted docs land by OVERWRITE of `batch=<id>/` under
  *     `acceptedPath` — a replay rewrites the same directory, never
  *     duplicates (readers `spark.read.parquet(acceptedPath)` and see a
  *     `batch` provenance partition column);
  *   - the index fold is [[graft.operators.NearDupIndex.append]]'s
  *     dynamic partition overwrite of `epoch=<id>` — idempotent by
  *     construction.
  *
  * A crash between any two of these steps therefore converges on replay
  * instead of duplicating or dropping. Docs shorter than the shingle
  * width n carry no shingles and bypass near-dedup entirely; gate such
  * fragments upstream with a length filter. Doc ids must be unique
  * corpus-wide (the index keys by id — [[graft.operators.NearDupIndex.append]]
  * guards and throws on a collision).
  *
  * Scale: the per-trigger work is sized by the micro-batch and its
  * candidate set, never by the corpus — history participates only through
  * the bucketed index scans ([[graft.operators.NearDupIndex]] invariant,
  * PlanSpec-asserted). The driver never touches rows.
  */
object CorpusIngestStream {

  /** One JSON doc per line: {"doc_id": …, "text": "…"}. */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  /** The per-micro-batch pipeline: curate → intra-batch dedup → probe
    * history (excluding this epoch) → land survivors (overwrite of
    * `batch=<batchId>`) → fold into the index (overwrite of
    * `epoch=<batchId>`). Exposed so specs can drive crash/replay
    * scenarios without a streaming query; every step is deterministic
    * and idempotent per batch id (see object scaladoc).
    *
    * The batch text is tokenized, shingled, and MinHash-coded exactly
    * ONCE: the cached (shingle, count, bucket) relations feed all three
    * consumers — intra-batch pair generation, the history probe
    * ([[graft.operators.NearDupIndex.probeCoded]], buckets semi-joined to
    * intra survivors), and the index fold
    * ([[graft.operators.NearDupIndex.appendCoded]], all relations
    * semi-joined to the accepted set). The pre-r7 shape re-shingled per
    * consumer (3× tokenize+explode+distinct, 2× 64-hash signatures) and
    * re-ran the guard/digest aggregates separately; at micro-batch sizes
    * the trigger's cost is the JOB COUNT, not the data, so the r7 shape
    * shares every pass that can be shared, overlaps `appendCoded`'s
    * independent writes, sizes every shuffle to the batch
    * ([[MicroBatchConf]], session 32 → 8), resolves intra components on
    * the driver ([[graft.operators.Dedup.connectedComponents]]'
    * bounded small-graph tier instead of 2+ eager checkpoint rounds),
    * and lands each index epoch as one file per bucket (bucket-aligned
    * repartition in [[graft.operators.NearDupIndex.appendCoded]]).
    * Measured (one trigger of 5k docs × ~60 words, 10% planted
    * near-dups, quiet local[32]): 20.9 s (r6) → 8.2 s per trigger;
    * StreamBench corpus leg 171 → 545 docs/s at batch 5k. Stage
    * breakdown (each cached relation forced eagerly so the stages
    * separate, seconds): curate 0.5 /
    * shingle 0.6 / code 0.7 / intra 1.7 (pairs 1.0, components 0.3) /
    * probe 0.9 / land 0.2 / fold 2.8 (stats 0.3, guard 0.1,
    * shingles∥counts writes 1.1, buckets write 1.0, digest 0.1) — the
    * remaining constant is the catalog/commit overhead of the four
    * idempotent writes plus ~8 sub-second jobs, all of which amortize
    * with batch size.
    *
    * `crashAfterFoldRelations` is CRASH INJECTION for specs only: when
    * `Some(k)`, the fold stops after its k-th relation write (as if the
    * JVM died there) so a test can replay the batch and prove
    * convergence. Production callers never set it.
    */
  private[graft] def processBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      acceptedPath: String,
      indexName: String,
      minJ: Double,
      cfg: NearDupIndex.Config,
      curate: DataFrame => DataFrame,
      compactEvery: Int = 0,
      crashAfterFoldRelations: Option[Int] = None,
      shufflePartitions: Option[Int] = Some(8)): Unit =
   MicroBatchConf.withShufflePartitions(spark, shufflePartitions) {
    // maintenance runs FIRST, before the probe: a crash mid-compaction
    // replays this trigger, and re-running the (replay-idempotent)
    // compaction to its fixpoint BEFORE any probe means the probe never
    // reads a half-compacted index (where a cold doc's shingle rows
    // exist in both the source epoch and the consolidated partition,
    // which would overcount its jaccard and silently over-drop).
    // upToEpoch = batchId - 1: checkpoint-committed epochs can never be
    // replayed, so folding them can't shadow a replayed batch's own docs.
    if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
      NearDupIndex.compact(spark, indexName, upToEpoch = batchId - 1)
    // full-row dedup first: a re-delivered file (same doc in two files of
    // one trigger) must not wedge the stream on append's id guard — the
    // guard throws, the replay re-reads the same files, and the trigger
    // can never commit. Identical rows are absorbed here; the SAME id
    // with DIFFERENT content still reaches the guard and fails loudly —
    // that is upstream corruption worth stopping the stream for, not
    // something to paper over with an arbitrary pick. Batch-sized shuffle.
    val b = curate(batch.dropDuplicates()).cache()
    // code the batch ONCE (see scaladoc): these two cached relations are
    // every downstream stage's input
    val sh = Dedup.shingleTable(b, "doc_id", "text", cfg.n).cache()
    // tiny (one row per doc) but read by three consumers (intra verify,
    // probe verify, fold relation) — cache saves two shuffles over sh
    val counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).as("n_sh")).cache()
    val buckets = Dedup.lshBuckets(
      Dedup.minhashSignatures(sh, "doc_id", cfg.numHashes),
      "doc_id", cfg.bands, cfg.rowsPerBand).cache()
    val accepted = try {
      // 1. intra-batch: one representative per near-dup cluster
      val pairs = Dedup.verifyCandidates(
        Dedup.lshCandidates(buckets, "doc_id"), sh, counts, minJ)
      // connectedComponents runs eagerly (checkpointed label rounds)
      val intraLosers = Dedup.connectedComponents(pairs, "a_id", "b_id")
        .filter(F.col("id") =!= F.col("comp"))
        .select(F.col("id").as("doc_id"))
      val intra = b.join(intraLosers, Seq("doc_id"), "left_anti")
      // 2. cross-history: drop anything the index already covers; a replay
      //    must not be shadowed by its own partial fold, hence excludeEpoch.
      //    Buckets are narrowed to the intra survivors (losers must not
      //    spend history candidates); full-batch shingles/counts are fine —
      //    the candidate join restricts them to the same survivor set.
      val histProbe = NearDupIndex.probeCoded(spark, sh,
        buckets.join(intraLosers, Seq("doc_id"), "left_anti"), counts,
        "doc_id", indexName, minJ, cfg, excludeEpoch = Some(batchId))
      val histLosers = histProbe.select(F.col("a_id").as("doc_id")).distinct()
      intra.join(histLosers, Seq("doc_id"), "left_anti").cache()
    } catch { case t: Throwable =>
      buckets.unpersist(); counts.unpersist(); sh.unpersist(); b.unpersist(); throw t
    }
    try {
      // 3. land the survivors and fold them into history — both are
      //    idempotent overwrites keyed by batchId with no ordering
      //    dependency (a crash anywhere replays both to the same state),
      //    so the land write runs CONCURRENTLY with the fold's guard and
      //    early relation writes. The fold is listed first so its
      //    failure stays primary; the land write still finishes before
      //    the finally unpersists its caches, so a replayed trigger never
      //    overwrites batch=N under an orphaned land write.
      if (!accepted.isEmpty) {
        val accIds = accepted.select("doc_id")
        Par.awaitAll(Seq(
          () => crashAfterFoldRelations match {
            case Some(k) =>
              NearDupIndex.appendPartial(accepted, "doc_id", "text", indexName, batchId, cfg, k)
            case None =>
              NearDupIndex.appendCoded(accepted,
                sh.join(accIds, Seq("doc_id"), "left_semi"),
                buckets.join(accIds, Seq("doc_id"), "left_semi"),
                "doc_id", indexName, batchId, cfg,
                counts = Some(counts.join(accIds, Seq("doc_id"), "left_semi")))
          },
          () => accepted.write.mode("overwrite").parquet(s"$acceptedPath/batch=$batchId")))
      }
    } finally {
      // this runs once per trigger, forever — and a FAILED trigger gets
      // replayed in the same session, so the release must happen on the
      // error path too or retries accumulate caches without bound
      accepted.unpersist()
      buckets.unpersist()
      counts.unpersist()
      sh.unpersist()
      b.unpersist()
    }
   }

  /** `curate` runs FIRST on every micro-batch (before any dedup) — plug
    * the batch-side curation operators in here, e.g.
    * `b => b.join(Curation.repetitionStats(b, "doc_id", "text")
    *   .filter($"keep" === 1).select("doc_id"), Seq("doc_id"), "left_semi")`.
    * Identity by default. It must be a pure column-level transform — the
    * same rows must fail on replay for the exactly-once story to hold.
    */
  def start(
      spark: SparkSession,
      inputDir: String,
      acceptedPath: String,
      checkpointDir: String,
      indexName: String,
      minJ: Double = 0.6,
      cfg: NearDupIndex.Config = NearDupIndex.Config(),
      trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
      curate: DataFrame => DataFrame = identity,
      compactEvery: Int = 0,
      maxFilesPerTrigger: Int = 10,
      shufflePartitions: Option[Int] = Some(8)): StreamingQuery = {
    val docs = spark.readStream
      .schema(docSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(inputDir)
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          processBatch(spark, batch, batchId, acceptedPath, indexName, minJ, cfg, curate,
            compactEvery, shufflePartitions = shufflePartitions)
      }
      .start()
  }
}
