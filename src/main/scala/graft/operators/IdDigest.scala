package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression}
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.{functions => F}

/** Per-epoch id digests — the batch-sized replacement for the persisted
  * indexes' full-index id-collision scan.
  *
  * [[IvfIndex.append]] and [[NearDupIndex.append]] promise "per-trigger
  * cost sized by the batch", but their `requireNewIds` guard used to scan
  * the ENTIRE index id column per append — per-trigger work sized by the
  * corpus, the one contract violation both scaladocs carried. The digest
  * makes the guard metadata-sized: each epoch fold also writes one tiny
  * digest row `(n, min_id, max_id, bloom)` under the same
  * `epoch=<batch id>` partition-overwrite discipline (so digests are as
  * replay-idempotent as the data they describe), and the guard then
  *
  *   1. compares the batch's id RANGE against each digest's `[min, max]`
  *      (driver-side, no job) — with monotone id regimes (snowflake ids,
  *      timestamps) most epochs are disjoint and drop out here;
  *   2. probes the surviving epochs' BLOOM filters in ONE batch-sized
  *      aggregate (the bloom binary rides into the plan as a literal —
  *      Spark's own `BloomFilterMightContain`, codegen'd);
  *   3. exact-scans ONLY the epochs whose bloom reports a hit — a
  *      partition-pruned semi-join, reading nothing on a clean append
  *      (bloom false negatives are impossible, so a collision can never
  *      slip through; false positives only cost a pruned scan).
  *
  * Epochs present in the index but carrying NO digest row (an index
  * built before digests existed) are conservatively exact-scanned — the
  * guard degrades to the old behavior instead of missing collisions.
  *
  * Ids must be LongType — the digest blooms hash raw longs
  * (`putLong`/`mightContainLong`), matching both index contracts.
  */
object IdDigest {

  /** Bloom sizing: ~0.1% false-positive rate up to [[CapItems]] distinct
    * ids per epoch (~7 MB of bits at the cap). Beyond the cap — e.g. the
    * consolidated epoch a compaction writes — the fpp degrades gracefully:
    * more false hits, each costing one pruned exact scan, never a missed
    * collision.
    */
  val Fpp: Double = 0.001
  val CapItems: Long = 4000000L

  /** Builder for `graft_bloom_contains`: Spark's internal
    * bloom-membership expression has no public SQL name, so
    * [[graft.plans.GraftExtensions]] injects it under this one and the
    * guard can probe a literal bloom without a UDF.
    */
  def builder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2, "graft_bloom_contains(bloom, value)")
    BloomFilterMightContain(exprs(0), exprs(1))
  }

  /** The digest relation rows for one batch: exactly one row
    * `(n, min_id, max_id, bloom, epoch)` — `epoch` last so the frame can
    * be written by position into an epoch-partitioned relation. Two
    * batch-sized passes (one agg, one bloom build); the result is
    * metadata-sized.
    */
  def digestFrame(batch: DataFrame, idCol: String, epoch: Long,
      precomputed: Option[(Long, Long, Long)] = None): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    require(batch.schema(idCol).dataType == LongType,
      s"id digests require a LongType id column, got ${batch.schema(idCol).dataType}")
    val ids = batch.select(F.col(idCol).as("id"))
    // callers that already aggregated the batch (e.g. the append guard's
    // combined stats pass) supply (n, min, max) so the only job here is
    // the bloom build
    val r = precomputed match {
      case Some((n0, mn0, mx0)) => org.apache.spark.sql.Row(n0, mn0, mx0)
      case None => ids.agg(F.count(F.lit(1)).as("n"),
        F.min("id").as("min_id"), F.max("id").as("max_id")).head()
    }
    val n = r.getLong(0)
    val bloomBytes =
      if (n == 0) Array.empty[Byte]
      else {
        val bloom = ids.stat.bloomFilter("id", math.max(1L, math.min(n, CapItems)), Fpp)
        val bos = new java.io.ByteArrayOutputStream()
        bloom.writeTo(bos)
        bos.toByteArray
      }
    Seq((n, if (n == 0) 0L else r.getLong(1), if (n == 0) 0L else r.getLong(2),
      bloomBytes, epoch))
      .toDF("n", "min_id", "max_id", "bloom", "epoch")
  }

  /** Epochs the exact collision scan must visit for `batch`:
    * digest-covered epochs whose range overlaps the batch AND whose bloom
    * reports at least one batch id, plus every `presentEpochs` entry with
    * NO digest row (an index written before digests existed — scanned
    * unconditionally). Empty result = provably clean append, zero
    * index-data I/O. `digests` is the digest RELATION
    * (n, min_id, max_id, bloom, epoch) and `presentEpochs` the epochs
    * physically present in the index, BOTH with the replaying batch's
    * own epoch already filtered out by the caller.
    *
    * Driver traffic is staged to match the screen: one collect brings
    * back only the metadata columns (epoch-count-sized — a few longs per
    * epoch; compaction keeps epoch counts bounded) and serves both the
    * coverage set and the range screen; the bloom BINARIES are fetched
    * in a second collect restricted to the range-overlapping epochs —
    * with monotone id regimes that set is empty and no bloom ever
    * reaches the driver. Executor work is ONE aggregate over the batch
    * probing all fetched blooms per row.
    */
  def suspectEpochs(batch: DataFrame, idCol: String,
      digests: DataFrame, presentEpochs: Seq[Long],
      precomputed: Option[(Long, Long, Long)] = None): Seq[Long] = {
    // metadata only — never the bloom column (parquet prunes it away).
    // An n = 0 row still COVERS its epoch (provably empty, nothing to
    // scan); it just can't be a suspect.
    val meta = digests.select("epoch", "n", "min_id", "max_id").collect().toSeq
    val covered = meta.map(_.getAs[Long]("epoch")).toSet
    val uncovered = presentEpochs.filterNot(covered)
    val screenable = meta.filter(_.getAs[Long]("n") > 0L)
    if (screenable.isEmpty) return uncovered

    val ids = batch.select(F.col(idCol).as("id")).cache()
    try {
      // `precomputed` (n, min, max) skips the batch aggregate — the
      // append guard's combined stats pass already has it
      val b = precomputed match {
        case Some((n0, mn0, mx0)) => org.apache.spark.sql.Row(n0, mn0, mx0)
        case None => ids.agg(F.count(F.lit(1)).as("n"),
          F.min("id").as("mn"), F.max("id").as("mx")).head()
      }
      if (b.getLong(0) == 0L) return uncovered
      val (bMin, bMax) = (b.getLong(1), b.getLong(2))
      val overlapping = screenable.collect {
        case d if d.getAs[Long]("max_id") >= bMin && d.getAs[Long]("min_id") <= bMax =>
          d.getAs[Long]("epoch")
      }
      if (overlapping.isEmpty) return uncovered
      val blooms = digests.filter(F.col("epoch").isin(overlapping: _*))
        .select("epoch", "bloom").collect().toSeq

      // one pass over the batch: per overlapping epoch, did ANY id hit?
      val probes: Seq[Column] = blooms.map { d =>
        F.max(F.when(
          F.call_function("graft_bloom_contains",
            F.lit(d.getAs[Array[Byte]]("bloom")), F.col("id")), 1).otherwise(0))
          .as(s"e${d.getAs[Long]("epoch")}")
      }
      val hits = ids.agg(probes.head, probes.tail: _*).head()
      val suspects = blooms.zipWithIndex.collect {
        case (d, i) if hits.getInt(i) == 1 => d.getAs[Long]("epoch")
      }
      suspects ++ uncovered
    } finally ids.unpersist()
  }
}
