package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}

/** Persisted MinHash-LSH band index over a historical corpus — the text
  * analog of [[IvfIndex]], serving incremental-ingest dedup without
  * recomputing OR reshuffling history.
  *
  * [[Dedup.minhashNearDupAgainst]] re-derives the historical signatures
  * on every call; fine for one-off comparisons, wrong for a standing
  * ingest pipeline where the same 100 TB corpus would be re-shingled and
  * re-hashed per batch. This index does the historical work ONCE:
  *
  *   - `<name>_buckets`  (id, band_idx, band_hash), bucketed by band_hash
  *   - `<name>_shingles` (id, shingle),             bucketed by id
  *   - `<name>_counts`   (id, n_sh),                bucketed by id
  *
  * All three are catalog tables (`bucketBy(...).saveAsTable`, so they
  * compose with `runtime.Catalog`'s persistent-metastore sessions), each
  * additionally PARTITIONED by an `epoch` column — the unit of
  * incremental ingest and of crash recovery (see [[append]]). The
  * per-batch [[probe]] then:
  *
  *   1. codes ONLY the batch, joins its buckets to `<name>_buckets` on
  *      (band_idx, band_hash) — the index side reads its buckets in
  *      place (`HashPartitioning(band_hash)` satisfies the join's
  *      clustering requirement; bucketing spans epoch partitions), only
  *      the batch side shuffles;
  *   2. verifies candidates with exact Jaccard against
  *      `<name>_shingles` / `<name>_counts`, whose id-bucketing again
  *      satisfies the (b_id, shingle) / (b_id) join clustering — no
  *      Exchange ever sits above a historical scan (PlanSpec asserts
  *      this on the physical plan tree).
  *
  * Per-batch cost is therefore sized by the batch and the candidate set,
  * never by the corpus. After an accepted batch, [[append]] folds it into
  * history as one epoch. Each epoch adds one file-set per bucket;
  * [[compact]] periodically folds cold epochs into the consolidated
  * partition to keep file counts bounded (the ingest streams can run it
  * on a cadence via their `compactEvery` parameter).
  */
object NearDupIndex {

  final case class Config(
      n: Int = 3, numHashes: Int = 64, bands: Int = 32, rowsPerBand: Int = 2,
      buckets: Int = 16) {
    require(bands * rowsPerBand <= numHashes)
  }

  /** Epoch the initial [[build]] writes under. Streaming batch ids start
    * at 0, so the build corpus can never collide with an ingest epoch.
    */
  val BuildEpoch: Long = -1L

  /** The three index relations for one batch, tagged with its epoch:
    * (dataframe, table suffix, bucket column). Column order matters —
    * `insertInto` matches by POSITION and the `epoch` partition column
    * sits last in each table's schema.
    */
  private def relations(sh: DataFrame, bucketRel: DataFrame, countsRel: DataFrame,
      idCol: String, epoch: Long): Seq[(DataFrame, String, String)] = {
    val tag = F.lit(epoch).as("epoch")
    val shingles = sh.select(F.col(idCol), F.col("shingle"), tag)
    val counts = countsRel.select(F.col(idCol), F.col("n_sh"), tag)
    val buckets = bucketRel.select(F.col(idCol), F.col("band_idx"), F.col("band_hash"), tag)
    Seq((shingles, "_shingles", idCol), (counts, "_counts", idCol),
      (buckets, "_buckets", "band_hash"))
  }

  /** The per-doc shingle-count relation (id, n_sh) for a shingle table. */
  private def countShingles(sh: DataFrame, idCol: String): DataFrame =
    sh.groupBy(idCol).agg(F.count(F.lit(1)).as("n_sh"))

  /** The LSH bucket relation (id, band_idx, band_hash) for a shingle
    * relation under `cfg`'s band family.
    */
  private def codeBuckets(sh: DataFrame, idCol: String, cfg: Config): DataFrame =
    Dedup.lshBuckets(
      Dedup.minhashSignatures(sh, idCol, cfg.numHashes), idCol, cfg.bands, cfg.rowsPerBand)

  /** Offline build: shingle + sign the corpus once, persist the bucket /
    * shingle / count relations as epoch-partitioned bucketed catalog
    * tables under `name` (the build corpus is epoch [[BuildEpoch]]),
    * plus a 1-row `_meta` table recording the band family — [[probe]] and
    * [[append]] refuse to run against an index built with different
    * parameters (a mismatched family would silently produce garbage
    * candidates).
    */
  def build(corpus: DataFrame, idCol: String, textCol: String, name: String,
      cfg: Config = Config()): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // drop any previous digest BEFORE overwriting the relations: a crash
    // mid-build would otherwise leave a digest describing the OLD corpus
    // next to the NEW relations, and a later append screening against it
    // could prove a colliding id "clean". Digest-less epochs only degrade
    // the guard to its exact-scan fallback.
    spark.sql(s"DROP TABLE IF EXISTS ${name}_digest")
    val sh = Dedup.shingleTable(corpus, idCol, textCol, cfg.n).cache()
    relations(sh, codeBuckets(sh, idCol, cfg), countShingles(sh, idCol), idCol,
        BuildEpoch).foreach { case (df, suffix, bucketCol) =>
      df.write.mode("overwrite")
        .partitionBy("epoch")
        .bucketBy(cfg.buckets, bucketCol).sortBy(bucketCol)
        .saveAsTable(s"$name$suffix")
    }
    Seq((cfg.n, cfg.numHashes, cfg.bands, cfg.rowsPerBand, cfg.buckets))
      .toDF("n", "num_hashes", "bands", "rows_per_band", "buckets")
      .write.mode("overwrite").saveAsTable(s"${name}_meta")
    // the build corpus's id digest seeds the batch-sized collision guard
    // (see [[graft.operators.IdDigest]]); long ids only — other id types
    // keep the exact-scan guard
    if (corpus.schema(idCol).dataType == org.apache.spark.sql.types.LongType)
      IdDigest.digestFrame(corpus.select(F.col(idCol).as("id")), "id", BuildEpoch)
        .coalesce(1).write.mode("overwrite")
        .partitionBy("epoch").saveAsTable(s"${name}_digest")
    sh.unpersist()
  }

  /** Throws unless `cfg` equals the family the index was built with. */
  private def requireSameFamily(spark: SparkSession, name: String, cfg: Config): Unit = {
    val m = spark.table(s"${name}_meta").head()
    val stored = Config(m.getAs[Int]("n"), m.getAs[Int]("num_hashes"),
      m.getAs[Int]("bands"), m.getAs[Int]("rows_per_band"), m.getAs[Int]("buckets"))
    require(stored == cfg,
      s"index '$name' was built with $stored but probed/appended with $cfg")
  }

  /** Epoch partitions present in the index — one `SHOW PARTITIONS`
    * metastore call against the counts relation, metadata-only (no data
    * I/O). The guard uses it to find epochs that predate the digest
    * table and must be exact-scanned.
    */
  private def presentEpochs(spark: SparkSession, name: String): Seq[Long] =
    spark.sql(s"SHOW PARTITIONS ${name}_counts").collect().toSeq
      .map(_.getString(0).stripPrefix("epoch=").toLong)

  /** Serializes the dynamic-overwrite conf window across THIS object's
    * writers — two graft ingest streams sharing one SparkSession (a
    * supported topology: StreamBench builds both legs on one session)
    * cannot race on the set/restore below.
    */
  private val overwriteConfLock = new Object

  /** Runs `body` with dynamic partition-overwrite enabled, restoring the
    * previous session value after. The session conf is the ONLY lever
    * that works here: the per-write
    * `option("partitionOverwriteMode", "dynamic")` that the path-based
    * writes use ([[IvfIndex.appendAssigned]]) is silently IGNORED on the
    * catalog `insertInto` path — verified empirically on this Spark: the
    * insert becomes a STATIC overwrite and truncates every other epoch's
    * partitions. Session-global for the duration (caveat: a concurrent
    * non-graft static-overwrite writer on the same SparkSession inside
    * the window would also overwrite dynamically); graft's own writers
    * are serialized by [[overwriteConfLock]] — every graft writer that
    * needs a catalog-table dynamic overwrite (including
    * [[graft.layers.Compaction.compactTable]]) must go through THIS
    * helper, not a private conf toggle of its own.
    */
  private[graft] def withDynamicOverwrite[T](spark: SparkSession)(body: => T): T =
    overwriteConfLock.synchronized {
      val key = "spark.sql.sources.partitionOverwriteMode"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "dynamic")
      try body finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }

  /** Fold an accepted batch into the index under partition
    * `epoch=<epoch>`. Run AFTER the batch passes [[probe]] — the next
    * batch then dedups against it, which is what makes continuous ingest
    * self-consistent.
    *
    * Idempotent under replay BY CONSTRUCTION: each relation is written by
    * DYNAMIC PARTITION OVERWRITE of its `epoch=<epoch>` partition, never
    * a blind append — replaying the same (batch, epoch) overwrites the
    * same three partitions with the same rows, so the index converges to
    * exactly one copy no matter where a previous attempt crashed
    * (mid-relation, between relations, or after completion). The caller
    * owns the epoch ↦ batch mapping: `epoch` must uniquely and stably
    * identify the batch (a streaming batch id does; [[BuildEpoch]] is
    * reserved for [[build]]), and a replay must present the same rows.
    * The bucket relation — the only one that makes a doc DISCOVERABLE as
    * a candidate — still goes last, so a partially folded epoch is never
    * half-visible to a concurrent probe.
    *
    * Doc ids must be unique across the index's lifetime: the shingle and
    * count relations key by id, so a batch re-using the id of an
    * already-indexed doc would double that id's shingle rows and fan out
    * its counts join — permanently corrupting its Jaccard. With
    * `requireNewIds` (default), append runs a batch-sized guard join
    * against `<name>_counts` (excluding this epoch, so replays pass) and
    * throws on collision instead.
    */
  def append(batch: DataFrame, idCol: String, textCol: String, name: String,
      epoch: Long, cfg: Config = Config(), requireNewIds: Boolean = true): Unit = {
    val sh = Dedup.shingleTable(batch, idCol, textCol, cfg.n).cache()
    // also unpersist on a failed write — retries re-cache
    try appendCoded(batch, sh, codeBuckets(sh, idCol, cfg), idCol, name, epoch, cfg,
      requireNewIds)
    finally sh.unpersist()
  }

  /** [[append]] for a caller that has ALREADY shingled and LSH-coded the
    * batch — the streaming ingest trigger computes (shingles, buckets)
    * once for its intra-batch dedup and history probe, then folds the
    * accepted SUBSET here by semi-join instead of re-tokenizing a third
    * time. `sh` / `buckets` must cover exactly `batch`'s rows under the
    * index's band family; the caller owns their caching.
    */
  private[graft] def appendCoded(batch: DataFrame, sh: DataFrame, buckets: DataFrame,
      idCol: String, name: String, epoch: Long, cfg: Config,
      requireNewIds: Boolean = true, counts: Option[DataFrame] = None): Unit = {
    val spark = batch.sparkSession
    requireSameFamily(spark, name, cfg)
    val longIds = batch.schema(idCol).dataType == org.apache.spark.sql.types.LongType
    // ONE combined aggregate over the batch serves three consumers that
    // each used to run their own pass: the internal-uniqueness guard
    // (count vs count-distinct), the digest range screen (min/max), and
    // the digest row itself — per-trigger job count is the throughput
    // constant at micro-batch sizes, so passes that can share, share.
    val stats: Option[(Long, Long, Long)] =
      if (longIds) {
        val r = batch.agg(F.count(F.lit(1)).as("n"),
          F.count_distinct(F.col(idCol)).as("nd"),
          F.min(idCol).as("mn"), F.max(idCol).as("mx")).head()
        val n = r.getLong(0)
        if (requireNewIds && n != r.getLong(1)) {
          val dups = batch.groupBy(idCol).count().filter(F.col("count") > 1)
            .limit(5).collect().map(_.get(0))
          require(dups.isEmpty, // always false here — build the sample for the message
            s"batch contains internally duplicated ids (sample: ${dups.mkString(",")}); " +
              "ids must be unique within a batch as well as across the index lifetime")
        }
        Some((n, if (n == 0) 0L else r.getLong(2), if (n == 0) 0L else r.getLong(3)))
      } else None
    if (requireNewIds) {
      // batch-INTERNAL uniqueness for non-long id types (long ids were
      // checked by the combined stats pass above): a doc id arriving
      // twice WITHIN one batch would pass the cross-epoch join below
      // (it excludes this epoch) and double its shingle rows.
      if (!longIds) {
        val dups = batch.groupBy(idCol).count().filter(F.col("count") > 1)
          .limit(5).collect().map(_.get(0))
        require(dups.isEmpty,
          s"batch contains internally duplicated ids (sample: ${dups.mkString(",")}); " +
            "ids must be unique within a batch as well as across the index lifetime")
      }
      // cross-epoch check via the per-epoch id digests where available
      // (long ids + a `_digest` table): range + bloom screening is
      // batch-sized and usually proves the append clean with zero
      // index-data I/O; only bloom-hit (or digest-less) epochs get the
      // exact scan, epoch-partition-pruned. Other id types, and indexes
      // built before digests existed, keep the full exact scan.
      val scanEpochs: Option[Seq[Long]] =
        if (longIds && spark.catalog.tableExists(s"${name}_digest")) {
          // lazy frame: suspectEpochs pulls metadata once (serving both
          // the coverage set and the range screen) and bloom binaries
          // only for range-overlapping epochs
          val digests = spark.table(s"${name}_digest").filter(F.col("epoch") =!= epoch)
          Some(IdDigest.suspectEpochs(
            batch.select(F.col(idCol).as("id")), "id", digests,
            presentEpochs = presentEpochs(spark, name).filter(_ != epoch),
            precomputed = stats))
        } else None
      if (scanEpochs.forall(_.nonEmpty)) {
        val hist = spark.table(s"${name}_counts").filter(F.col("epoch") =!= epoch)
        val pruned = scanEpochs.fold(hist)(es => hist.filter(F.col("epoch").isin(es: _*)))
        val collisions = batch.select(F.col(idCol))
          .join(pruned, Seq(idCol), "left_semi")
          .limit(5).collect().map(_.get(0))
        require(collisions.isEmpty,
          s"batch re-uses ids already in index '$name' (sample: ${collisions.mkString(",")}); " +
            "ids must be unique across the index lifetime")
      }
    }
    withDynamicOverwrite(spark) {
      // the digest's bloom build only reads batch ids — it overlaps the
      // relation writes below (its WRITE still happens last, after
      // counts: a digest must never COVER an epoch whose counts partition
      // isn't committed, or a crash window would let a colliding later
      // append bloom-hit, exact-scan an absent partition, and pass). The
      // relation writes are listed first so their failure stays primary.
      val (_, digest) = Par.both({
        val rels = relations(sh, buckets,
          counts.getOrElse(countShingles(sh, idCol)), idCol, epoch)
        // shingles ∥ counts: independent tables, neither makes the epoch
        // DISCOVERABLE (buckets) nor COVERED (digest) — a crash leaving
        // any subset converges on replay exactly as the sequential order
        // did. Buckets still go strictly last.
        val Seq(shinglesRel, countsRel, bucketsRel) = rels
        // align the write partitioning with the table's bucket spec:
        // repartition(numBuckets, bucketCol) uses the SAME partition-id
        // expression as the bucketed-table writer (pmod(murmur3, n)), so
        // each task holds exactly one bucket and the epoch lands as ONE
        // file per bucket per relation — instead of (input partitions ×
        // buckets) small files whose create/commit overhead dominated the
        // fold at micro-batch sizes and whose listing cost compaction
        // existed to claw back. The extra shuffle is batch-sized.
        def aligned(rel: (DataFrame, String, String)): (DataFrame, String) = {
          val (df, suffix, bucketCol) = rel
          (df.repartition(cfg.buckets, F.col(bucketCol)), suffix)
        }
        // both inserts finish before anything can leave the dynamic-
        // overwrite window: a surviving insertInto under the restored
        // static mode would truncate every other epoch's partitions
        Par.awaitAll(Seq(shinglesRel, countsRel).map(aligned).map { case (df, suffix) =>
          () => df.write.mode("overwrite").insertInto(s"$name$suffix")
        })
        val (df, suffix) = aligned(bucketsRel)
        df.write.mode("overwrite").insertInto(s"$name$suffix")
      }, if (longIds) Some(IdDigest.digestFrame(
          batch.select(F.col(idCol).as("id")), "id", epoch, precomputed = stats))
        else None)
      // fold this epoch's id digest under the same overwrite discipline;
      // a pre-digest index gains its digest table on first append (its
      // old epochs stay uncovered → conservatively exact-scanned)
      digest.foreach { d =>
        if (spark.catalog.tableExists(s"${name}_digest"))
          d.write.mode("overwrite").insertInto(s"${name}_digest")
        else d.write.partitionBy("epoch").saveAsTable(s"${name}_digest")
      }
    }
  }

  /** Test hook: perform only the first `firstRelations` of [[append]]'s
    * three partition writes — simulates a crash mid-fold so specs can
    * prove the replayed [[append]] converges instead of corrupting.
    */
  private[graft] def appendPartial(batch: DataFrame, idCol: String, textCol: String,
      name: String, epoch: Long, cfg: Config, firstRelations: Int): Unit = {
    val sh = Dedup.shingleTable(batch, idCol, textCol, cfg.n)
    withDynamicOverwrite(batch.sparkSession) {
      relations(sh, codeBuckets(sh, idCol, cfg), countShingles(sh, idCol), idCol,
          epoch).take(firstRelations).foreach {
        case (df, suffix, bucketCol) =>
          df.repartition(cfg.buckets, F.col(bucketCol))
            .write.mode("overwrite").insertInto(s"$name$suffix")
      }
    }
  }

  /** Fold every epoch <= `upToEpoch` of all three index relations into
    * the consolidated [[BuildEpoch]] partition — the maintenance operator
    * the scaladoc's "periodically fold cold epochs together" delegates
    * to. Each [[append]] adds one file-set per bucket per relation, so a
    * long-running ingest's probe eventually pays more in file listing
    * than in data; compaction bounds that without changing any probe
    * answer (each relation is a bag of rows whose epoch column only
    * records WHICH fold wrote them) and without touching hot epochs.
    *
    * Replay-idempotent by the same argument as [[IvfIndex.compact]]:
    * every relation's rows are unique in their data columns (shingles
    * and buckets are distinct by construction, counts keys by id), so
    * the consolidated content is a full-row `dropDuplicates` fixpoint —
    * a crash at ANY point (mid-stage, mid-fold, mid-delete) re-runs to
    * the identical index. Staging tables (`<rel>__compacting`) break the
    * read-overwrite cycle; the fold is the same dynamic partition
    * overwrite as [[append]]; bucketing is preserved because
    * `insertInto` a bucketed catalog table re-clusters on write.
    *
    * Maintenance context: single maintenance driver, not concurrent with
    * an [[append]] of an epoch <= `upToEpoch`.
    */
  def compact(spark: SparkSession, name: String, upToEpoch: Long): Unit = {
    require(upToEpoch >= BuildEpoch, s"upToEpoch must be >= $BuildEpoch")
    val suffixes = Seq("_shingles", "_counts", "_buckets")
    val cold = suffixes.flatMap { s =>
      spark.sql(s"SHOW PARTITIONS $name$s").collect().toSeq
        .map(_.getString(0).stripPrefix("epoch=").toLong)
    }.distinct.filter(_ <= upToEpoch)
    if (cold.isEmpty || cold == Seq(BuildEpoch)) return

    val numBuckets = spark.table(s"${name}_meta").head().getAs[Int]("buckets")
    suffixes.foreach { s =>
      val t = spark.table(s"$name$s")
      val dataCols = t.columns.filter(_ != "epoch").toSeq
      val staging = s"$name${s}__compacting"
      t.filter(F.col("epoch") <= upToEpoch) // partition-pruned: cold epochs only
        .select(dataCols.map(F.col): _*)
        .dropDuplicates()
        .write.mode("overwrite").saveAsTable(staging)
      // bucket-aligned fold (see [[appendCoded]]): the consolidated
      // partition lands as exactly one file per bucket — the very file
      // count this maintenance pass exists to restore. Bucket count is
      // the file-parallelism knob at scale; size it with the corpus.
      val bucketCol = if (s == "_buckets") "band_hash" else dataCols.head
      withDynamicOverwrite(spark) {
        spark.table(staging)
          .select(dataCols.map(F.col) :+ F.lit(BuildEpoch).as("epoch"): _*)
          .repartition(numBuckets, F.col(bucketCol))
          .write.mode("overwrite").insertInto(s"$name$s")
      }
    }
    // consolidated digest over the folded id set (one bloom instead of
    // k); recomputed AFTER the counts fold so it reads the fixpoint
    val counts = spark.table(s"${name}_counts")
    val idCol = counts.columns.head
    if (counts.schema(idCol).dataType == org.apache.spark.sql.types.LongType &&
        spark.catalog.tableExists(s"${name}_digest")) {
      val digest = IdDigest.digestFrame(
        counts.filter(F.col("epoch") === BuildEpoch).select(F.col(idCol).as("id")),
        "id", BuildEpoch)
      withDynamicOverwrite(spark) {
        digest.write.mode("overwrite").insertInto(s"${name}_digest")
      }
    }
    // digest partitions dropped FIRST: a crash mid-loop then leaves
    // relation partitions the re-run still lists as cold (refolded and
    // dropped normally). The other order would strand digest rows
    // forever — `cold` consults the three relations, so an epoch with
    // no relation partitions is never folded again.
    (s"${name}_digest" +: suffixes.map(s => s"$name$s"))
      .filter(spark.catalog.tableExists)
      .foreach { t =>
        cold.filter(_ != BuildEpoch).foreach { e =>
          spark.sql(s"ALTER TABLE $t DROP IF EXISTS PARTITION (epoch=$e)")
        }
      }
    suffixes.foreach(s => spark.sql(s"DROP TABLE IF EXISTS $name${s}__compacting"))
  }

  /** Historical relation scan: epoch filter (partition-pruned), then
    * projection to the kernel's expected columns.
    */
  private def histRel(spark: SparkSession, table: String, cols: Seq[String],
      excludeEpoch: Option[Long]): DataFrame = {
    val t = spark.table(table)
    excludeEpoch.fold(t)(e => t.filter(F.col("epoch") =!= e))
      .select(cols.map(F.col): _*)
  }

  /** Near-dup pairs between `batch` and the indexed history: emits
    * (a_id = batch doc, b_id = historical doc, shared, jaccard) with
    * exact Jaccard >= minJ. `cfg` is validated against the `_meta`
    * table — probing with a different band family than the build throws
    * instead of silently missing candidates.
    *
    * `excludeEpoch` drops one epoch partition from the history side —
    * an ingest pipeline replaying batch E probes with
    * `excludeEpoch = Some(E)` so a partially folded previous attempt of
    * the SAME batch cannot shadow its own docs (which would silently
    * empty the recomputed accepted set).
    */
  def probe(spark: SparkSession, batch: DataFrame, idCol: String, textCol: String,
      name: String, minJ: Double, cfg: Config = Config(),
      excludeEpoch: Option[Long] = None): DataFrame =
    probeTracked(spark, batch, idCol, textCol, name, minJ, cfg, excludeEpoch)._1

  /** [[probe]] plus a cleanup handle that unpersists the batch-shingle
    * cache — long-lived callers (streaming foreachBatch, once per
    * trigger) must call it after their actions complete, or the per-call
    * caches accumulate in executor storage unboundedly. One-shot batch
    * callers can ignore it.
    */
  private[graft] def probeTracked(spark: SparkSession, batch: DataFrame,
      idCol: String, textCol: String, name: String, minJ: Double,
      cfg: Config = Config(),
      excludeEpoch: Option[Long] = None): (DataFrame, () => Unit) = {
    val bSh = Dedup.shingleTable(batch, idCol, textCol, cfg.n).cache()
    val bCounts = bSh.groupBy(idCol).agg(F.count(F.lit(1)).as("n_sh"))
    val verified = probeCoded(spark, bSh, codeBuckets(bSh, idCol, cfg), bCounts,
      idCol, name, minJ, cfg, excludeEpoch)
    (verified, () => { bSh.unpersist(blocking = true); () })
  }

  /** [[probe]] for a caller that has ALREADY shingled and LSH-coded the
    * batch (same contract as [[appendCoded]]): `bSh` = (id, shingle),
    * `bBuckets` = (id, band_idx, band_hash) under the index's band
    * family, `bCounts` = (id, n_sh). The candidate set is restricted by
    * whatever subset of ids `bBuckets` carries, so a streaming trigger
    * passes full-batch shingles/counts but survivor-filtered buckets.
    * Caller owns all caching.
    */
  private[graft] def probeCoded(spark: SparkSession, bSh: DataFrame, bBuckets: DataFrame,
      bCounts: DataFrame, idCol: String, name: String, minJ: Double, cfg: Config,
      excludeEpoch: Option[Long]): DataFrame = {
    requireSameFamily(spark, name, cfg)
    val hBuckets = histRel(spark, s"${name}_buckets",
      Seq(idCol, "band_idx", "band_hash"), excludeEpoch)
    val cands = bBuckets.select(F.col(idCol), F.col("band_idx"), F.col("band_hash"))
      .toDF("a_id", "band_idx", "band_hash")
      .join(hBuckets.toDF("b_id", "band_idx", "band_hash"),
        Seq("band_idx", "band_hash"))
      .select("a_id", "b_id").distinct()
    Dedup.jaccardVerifyBipartite(
      cands, bSh, histRel(spark, s"${name}_shingles", Seq(idCol, "shingle"), excludeEpoch),
      bCounts, histRel(spark, s"${name}_counts", Seq(idCol, "n_sh"), excludeEpoch), minJ)
  }
}
