package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}
import org.apache.spark.sql.{functions => F}

import graft.operators.IvfIndex

/** Streaming embedding ingest with near-duplicate suppression against the
  * persisted IVF index — the vector analog of [[CorpusIngestStream]]:
  * every micro-batch is
  *
  *   1. curated by the pluggable `curate` hook (defaults to [[vecGate]]:
  *      null / NaN / near-zero-norm embeddings are rejected BEFORE
  *      assignment — a zero-norm vector would make every cosine against
  *      it NaN, so once landed it poisons the gate forever);
  *   2. assigned to its `nProbeGate` nearest cells (EXACT assignment,
  *      kernel routed by cell count inside
  *      [[graft.operators.IvfIndex.assignCellsMulti]] — see the
  *      gate-kernel note in the object body);
  *   3. deduplicated intra-batch and against the indexed history by
  *      cosine >= maxCos, via CELL-LOCAL joins — a batch vector is only
  *      ever compared to vectors of its probed cells, so the per-trigger
  *      cost is |batch| x nProbeGate x (corpus / C), never
  *      |batch| x corpus (the IVF argument applied to dedup instead of
  *      search). The micro-batch side of the history comparison is
  *      BROADCAST: `cell` has only C distinct values, so a shuffle join
  *      would cap parallelism at C tasks — broadcasting lets history
  *      stream partition-parallel, unshuffled. `maxFilesPerTrigger`
  *      bounds file COUNT, not bytes, so a batch of unexpectedly large
  *      files could outgrow the broadcast: batches over
  *      `broadcastMaxRows` fall back to a SALTED shuffle join
  *      (deterministic hash(id) salt on the many side, batch exploded
  *      over the salt range) that restores C x [[SaltFanout]]-way
  *      parallelism without broadcasting anything;
  *   4. landed by OVERWRITE of `batch=<id>/` under `acceptedPath` and
  *      folded into the index (under its NEAREST cell, `cells[0]`) via
  *      [[graft.operators.IvfIndex.append]]'s epoch partition overwrite.
  *
  * Delivery semantics: effectively exactly-once under replay, by the same
  * construction as [[CorpusIngestStream]] — the history side of the dedup
  * gate EXCLUDES the batch's own epoch, every write is an idempotent
  * overwrite keyed by the batch id, and the recomputation is
  * deterministic (`curate` must be pure). Vector ids must be unique
  * corpus-wide AND within a batch (the fold's guard throws on either).
  *
  * The near-dup gate is approximate exactly where IVF search is, softened
  * by multi-probe: with `nProbeGate = 1` a near-duplicate pair split
  * across a cell boundary is missed; with the default `nProbeGate = 2`
  * each batch vector is also compared against its second-nearest cell —
  * a pair straddling a Voronoi face sits close to that face, so the
  * straddled cell is (near-)always the runner-up and the pair is caught
  * at ~2x gate cost. Pairs whose probe lists still do not overlap (3+
  * cells meeting at the vector, nProbeGate too small) remain missed —
  * the exact alternative is [[graft.operators.Similarity]]'s blocked
  * all-pairs, at O(N²) — the wrong trade inside a streaming trigger.
  */
object EmbeddingIngestStream {

  /** One JSON doc per line: {"vec_id": ..., "embedding": [d0, d1, ...]}. */
  val vecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(DoubleType))))

  /** Batches whose EXPLODED size (rows × nProbeGate — the broadcast
    * frames carry one row per probed cell) exceeds this skip the
    * broadcast gate joins for the salted-shuffle fallback. 200k exploded
    * rows of 64-dim doubles is ~100 MB on the driver — comfortably
    * inside broadcast limits; callers with fat vectors should lower it
    * (bytes ≈ rows × nProbeGate × dims × 8 × 2).
    */
  val BroadcastMaxRows: Long = 200000L

  /** Salt width of the fallback joins: the many side is salted by
    * hash(id), the batch side exploded over the range, restoring
    * C × SaltFanout-way join parallelism when `cell`'s C distinct values
    * alone would bottleneck a shuffle join.
    */
  val SaltFanout: Int = 32

  // Gate kernel selection: with `coarseProbesGate = 0` (the default) the
  // assignment stays EXACT and IvfIndex.assignCellsMulti routes it by
  // cell count — the shuffle-free literal kernel up to
  // LiteralKernelMaxCells, the O(1)-plan shuffle-free MATRIX kernel above
  // (measured 8-30x faster from C=128 up, and the only constructible
  // plan at corpus-scale C). A positive coarseProbesGate opts into the
  // approximate two-level tier — since round 13 the two-level MATRIX
  // kernel (0.27 s at C=512 where its literal form took 29 s), the
  // n·√C·d dial for indexes whose cell count grows with the corpus;
  // exact assignment stays the default until C makes n·C·d itself the
  // trigger wall.

  /** Ready-made `curate` hook (and the default): drops rows whose
    * embedding is null, contains a null/NaN element, or has norm below
    * `minNorm`. Pure and deterministic, as the replay contract requires.
    */
  def vecGate(minNorm: Double = 1e-6): DataFrame => DataFrame = df =>
    df.filter(F.col("embedding").isNotNull &&
      !F.exists(F.col("embedding"), x => x.isNull || F.isnan(x)) &&
      F.aggregate(F.col("embedding"), F.lit(0.0), (acc, x) => acc + x * x)
        > minNorm * minNorm)

  /** The per-micro-batch pipeline, exposed for crash/replay specs (same
    * contract as [[CorpusIngestStream.processBatch]]). Steps: curate →
    * assign top-nProbeGate cells → intra-batch dedup (probe-cell-local
    * self-join, keep min id) → history dedup (probe-cell-local join vs
    * the index minus this epoch) → land survivors → fold under their
    * nearest cell. `crashBeforeFold` is crash injection for specs: land,
    * then stop as if the JVM died before the fold.
    */
  private[graft] def processBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      acceptedPath: String,
      indexRoot: String,
      maxCos: Double,
      nProbeGate: Int = 2,
      curate: DataFrame => DataFrame = vecGate(),
      broadcastMaxRows: Long = BroadcastMaxRows,
      compactEvery: Int = 0,
      crashBeforeFold: Boolean = false,
      rebuildEvery: Int = 0,
      rebuildMaxShare: Double = 0.5,
      rebuildMinTotal: Long = 1000L,
      shufflePartitions: Option[Int] = Some(8),
      coarseProbesGate: Int = 0): Unit =
   MicroBatchConf.withShufflePartitions(spark, shufflePartitions) {
    // `indexRoot` is a HANDLE: resolved to its live generation every
    // trigger, so a rebuild committed below (or by another maintenance
    // driver) is picked up without restarting the stream
    val root0 = IvfIndex.currentRoot(spark, indexRoot)
    // maintenance FIRST, before the gate reads history: compaction is
    // replay-idempotent, so a crash mid-compaction re-runs it to its
    // fixpoint here before any probe sees a half-compacted index.
    // upToEpoch = batchId - 1: checkpoint-committed epochs can never be
    // replayed, so folding them can't shadow a replayed batch.
    if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
      IvfIndex.compact(spark, root0, upToEpoch = batchId - 1)
    // drift response on its own cadence: the monitor read is metadata-
    // sized (cellcounts relation), so a balanced index pays ~nothing. A
    // triggered rebuild folds every epoch EXCEPT this one (a crashed
    // previous attempt of THIS trigger may have folded epoch=batchId —
    // consolidating it would self-shadow the replay's dedup gate) into a
    // fresh generation under the handle, then commits the CURRENT
    // pointer. Crash windows converge: before the flip the replay
    // re-runs the (full-overwrite, idempotent) rebuild; after it, the
    // generation guard below makes the replay a no-op.
    val liveRoot =
      if (rebuildEvery > 0 && batchId > 0 && batchId % rebuildEvery == 0) {
        val gen = s"$indexRoot/gen-$batchId"
        if (root0 != gen && IvfIndex.rebuildIfSkewed(spark, root0, gen,
            rebuildMaxShare, rebuildMinTotal, excludeEpoch = Some(batchId))) {
          // carry the serving contract across the geometry change BEFORE
          // the flip: a rebuild writes no serving config (the old dial is
          // meaningless over new cells), so without this step a calibrated
          // index would silently degrade to DefaultProbes after an
          // unattended drift rebuild. Recalibrate against the new
          // generation at the SAME (k, target) — sample queries are the
          // new generation's own vectors (calibrateProbes hash-orders and
          // heads them, the stored-dial convention). Crash windows
          // converge: pre-flip crashes replay the (idempotent) rebuild +
          // recalibration; post-flip the generation guard no-ops.
          IvfIndex.servingConfig(spark, root0).foreach { sc =>
            IvfIndex.calibrateAndStore(spark, gen,
              IvfIndex.vectors(spark, gen)
                .select(F.col("id").as("vec_id"), F.col("vec").as("embedding")),
              "vec_id", "embedding", sc.k, sc.targetRecall)
          }
          IvfIndex.flipCurrent(spark, indexRoot, gen)
          gen
        } else root0
      } else root0
    // full-row dedup first: a re-delivered file (same vector in two files
    // of one trigger) must not wedge the stream on append's id guard —
    // identical rows are absorbed here, while the same id with DIFFERENT
    // content still reaches the guard and fails loudly (upstream
    // corruption, not something to pick-one past). Batch-sized shuffle;
    // array columns group by value, so this is safe on the embedding col.
    // kernel dial: 0 (default) = exact assignment, auto-routed by cell
    // count inside assignCellsMulti (literal kernel at small C, the
    // matrix kernel once the index grows — resolved per trigger
    // like the generation root, no restart); > 0 = the explicit
    // approximate two-level literal kernel
    val assigned = IvfIndex.assignCellsMulti(
        curate(batch.dropDuplicates()), "vec_id", "embedding", liveRoot,
        nProbeGate, math.max(0, coarseProbesGate))
      .withColumn("cell", F.col("cells").getItem(0))
      .withColumn("nrm", F.sqrt(F.call_function("vec_dot", F.col("vec"), F.col("vec"))))
      .cache()
    // one count materializes the cache AND decides the join strategy —
    // maxFilesPerTrigger bounds file count, not bytes, so the broadcast
    // assumption must be checked per batch, not assumed. The broadcast
    // frames are EXPLODED over the probe cells, so the bound applies to
    // rows × nProbeGate, not the raw batch size.
    val small = assigned.count() * nProbeGate <= broadcastMaxRows
    val saltRange = F.array((0 until SaltFanout).map(s => F.lit(s.toLong)): _*)

    def cos(aVec: String, aNrm: String, bVec: String, bNrm: String) =
      F.call_function("vec_dot", F.col(aVec), F.col(bVec)) / (F.col(aNrm) * F.col(bNrm))

    // 1. intra-batch: drop the larger id of any pair at >= maxCos whose
    //    probe lists overlap (both sides exploded over their cells — a
    //    face-straddling pair meets in whichever probed cell they share;
    //    a pair sharing two matches twice, distinct() absorbs it)
    val a = assigned.select(F.col("id").as("a_id"), F.col("vec").as("a_vec"),
      F.col("nrm").as("a_nrm"), F.explode(F.col("cells")).as("probe_cell"))
    val b = assigned.select(F.col("id").as("b_id"), F.col("vec").as("b_vec"),
      F.col("nrm").as("b_nrm"), F.explode(F.col("cells")).as("probe_cell"))
    val intraJoined =
      if (small) a.join(F.broadcast(b), Seq("probe_cell"))
      else a.withColumn("salt", F.explode(saltRange))
        .join(b.withColumn("salt", F.pmod(F.xxhash64(F.col("b_id")), F.lit(SaltFanout.toLong))),
          Seq("probe_cell", "salt"))
    val intraLosers = intraJoined
      .filter(F.col("a_id") < F.col("b_id"))
      .filter(cos("a_vec", "a_nrm", "b_vec", "b_nrm") >= maxCos)
      .select(F.col("b_id").as("id")).distinct()
    val intra = assigned.join(intraLosers, Seq("id"), "left_anti")

    // 2. cross-history: the join key is `cell` alone (C distinct values),
    //    so a shuffle join would cap parallelism at C tasks and funnel
    //    each cell's ENTIRE history through one of them. The micro-batch
    //    side is broadcast instead (salted-shuffle fallback for oversized
    //    batches, see scaladoc): history streams partition-parallel in
    //    place, never shuffled, never bottlenecked by key cardinality.
    //    The history SCAN is restricted to the cells the batch actually
    //    probes, as a LITERAL IN over the collected cell set (<= C ints,
    //    metadata-scale) — a join-side restriction alone would still READ
    //    the whole table; the literal predicate prunes the untouched cell
    //    partitions, so per-trigger I/O is the batch's probed cells, not
    //    the corpus. Batch epoch excluded so replays are not self-shadowed.
    // collected from the CACHED assignment, not from `intra` — reading
    // intra here would re-run the whole intra-dedup self-join just to
    // learn the cell set, and a superset of intra's cells prunes just as
    // correctly (an extra cell's history rows join to nothing)
    val batchCells = assigned.select(F.explode(F.col("cells")).as("c"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val hist = IvfIndex.vectors(spark, liveRoot, excludeEpoch = Some(batchId))
      .filter(F.col("cell").isin(batchCells: _*))
      .select(F.col("id").as("b_id"), F.col("vec").as("b_vec"),
        F.col("nrm").as("b_nrm"), F.col("cell"))
    val batchSide = intra.select(F.col("id"), F.col("vec").as("a_vec"),
      F.col("nrm").as("a_nrm"), F.explode(F.col("cells")).as("cell"))
    val histJoined =
      if (small) hist.join(F.broadcast(batchSide), Seq("cell"))
      else hist.withColumn("salt", F.pmod(F.xxhash64(F.col("b_id")), F.lit(SaltFanout.toLong)))
        .join(batchSide.withColumn("salt", F.explode(saltRange)), Seq("cell", "salt"))
    val histLosers = histJoined
      .filter(cos("a_vec", "a_nrm", "b_vec", "b_nrm") >= maxCos)
      .select("id").distinct()
    // keep (vec, nrm, cell) on the survivors: the fold reuses them, so
    // the C-way assignment kernel runs once per trigger, not twice
    val accepted = intra.join(histLosers, Seq("id"), "left_anti").cache()

    try {
      // 3. land then fold — both idempotent overwrites keyed by batchId
      if (!accepted.isEmpty) {
        accepted.select(F.col("id").as("vec_id"), F.col("vec").as("embedding"))
          .write.mode("overwrite").parquet(s"$acceptedPath/batch=$batchId")
        if (!crashBeforeFold)
          IvfIndex.appendAssigned(
            accepted.select("id", "vec", "nrm", "cell"), liveRoot, batchId)
      }
    } finally {
      // release on the error path too — a failed trigger is replayed in
      // the same session, and retries must not accumulate caches
      accepted.unpersist()
      assigned.unpersist()
    }
   }

  def start(
      spark: SparkSession,
      inputDir: String,
      acceptedPath: String,
      checkpointDir: String,
      indexRoot: String,
      maxCos: Double = 0.995,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
      nProbeGate: Int = 2,
      curate: DataFrame => DataFrame = vecGate(),
      broadcastMaxRows: Long = BroadcastMaxRows,
      compactEvery: Int = 0,
      rebuildEvery: Int = 0,
      rebuildMaxShare: Double = 0.5,
      rebuildMinTotal: Long = 1000L,
      maxFilesPerTrigger: Int = 10,
      shufflePartitions: Option[Int] = Some(8),
      coarseProbesGate: Int = 0): StreamingQuery = {
    val vecs = spark.readStream
      .schema(vecSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(inputDir)
    vecs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          processBatch(spark, batch, batchId, acceptedPath, indexRoot, maxCos,
            nProbeGate, curate, broadcastMaxRows, compactEvery,
            rebuildEvery = rebuildEvery, rebuildMaxShare = rebuildMaxShare,
            rebuildMinTotal = rebuildMinTotal, shufflePartitions = shufflePartitions,
            coarseProbesGate = coarseProbesGate)
      }
      .start()
  }
}
