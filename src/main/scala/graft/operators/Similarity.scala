package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}

/** Approximate/exact nearest-neighbor search over an embedding column.
  *
  * Three tiers, by scale:
  *   1. [[cosineTopK]] — brute-force scan against one query vector:
  *      O(N·d), embarrassingly parallel, the correctness baseline.
  *   2. [[cosinePairs]] — all-pairs above a threshold. Quadratic; only
  *      for corpus slices that fit a bucket. At 100 TB, use [[Dedup]]-style
  *      LSH or [[IvfIndex]] cells first and verify within buckets.
  *   3. [[IvfIndex]] — the persisted scale tier: offline KMeans fit,
  *      vectors written `partitionBy(cell)`, queries scan only the nProbe
  *      probed cells via physical partition pruning.
  *
  * Hot loops use the native [[graft.plans.DotProduct]] expression (the
  * higher-order-function composition is interpreted — see its scaladoc);
  * norms are precomputed once per vector, never per pair.
  */
object Similarity {

  private def dot(a: Column, b: Column): Column = F.call_function("vec_dot", a, b)
  private def norm(v: Column): Column = F.sqrt(F.call_function("vec_dot", v, v))

  /** Exact top-k cosine neighbors of the vector with id == queryId.
    * The query vector travels as a broadcast (one row), so this is a
    * single scan + TakeOrderedAndProject — no shuffle of the corpus.
    */
  def cosineTopK(df: DataFrame, idCol: String, vecCol: String, queryId: Long, k: Int): DataFrame = {
    val q = df.filter(F.col(idCol) === queryId)
      .select(F.col(vecCol).as("q_vec"), norm(F.col(vecCol)).as("q_norm"))
    df.filter(F.col(idCol) =!= queryId)
      .crossJoin(F.broadcast(q))
      .select(
        F.col(idCol).as("neighbor_id"),
        F.round(dot(F.col(vecCol), F.col("q_vec")) / (norm(F.col(vecCol)) * F.col("q_norm")), 4)
          .as("cos_sim"))
      .orderBy(F.col("cos_sim").desc, F.col("neighbor_id"))
      .limit(k)
  }

  /** Batch kNN JOIN: exact top-k cosine neighbors for EVERY row of a
    * query set at once — the retrieval-pair mining primitive (RAG
    * training pairs, hard-negative mining, embedding-space labeling),
    * where [[cosineTopK]] serves one query. Queries are broadcast by
    * contract (a query set is ~10³–10⁶ rows against a corpus of 10⁹+);
    * the corpus is scanned ONCE, never shuffled at its own size: the
    * per-query top-k goes through the map-side-combining `topk_rows`
    * aggregate, so each map task reduces its partition to ≤ k rows per
    * query BEFORE the shuffle — shuffle volume is partitions × |Q| × k,
    * independent of corpus size. (The [[IvfIndex]] probe tier answers
    * the same question sub-linearly when an index exists; this is the
    * exact no-index path.)
    *
    * Self-matches (same id on both sides, the self-join case) are
    * excluded. Ties cut on (rounded cos DESC, neighbor id ASC) — engine-
    * deterministic. Emits (query_id, rank, neighbor_id, cos_sim).
    */
  def knnJoin(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    // adaptive spread (see [[Par]]): the whole O(N·|Q|·d) dot-product scan
    // is map-side against the broadcast query set — its parallelism IS the
    // corpus partition count
    val c = Par.spread(corpus.select(F.col(idCol), F.col(vecCol)), F.col(idCol))
      .select(F.col(idCol).cast("long").as("neighbor_id"),
        F.col(vecCol).as("c_vec"), norm(F.col(vecCol)).as("c_norm"))
    val q = queries.select(F.col(idCol).cast("long").as("query_id"),
      F.col(vecCol).as("q_vec"), norm(F.col(vecCol)).as("q_norm"))
    c.crossJoin(F.broadcast(q))
      .filter(F.col("neighbor_id") =!= F.col("query_id"))
      .select(F.col("query_id"),
        F.struct(
          F.round(dot(F.col("c_vec"), F.col("q_vec")) / (F.col("c_norm") * F.col("q_norm")), 4)
            .as("cos_sim"),
          F.col("neighbor_id")).as("cand"))
      .groupBy("query_id")
      .agg(F.call_function("topk_rows", F.col("cand"), F.lit(k)).as("top"))
      .select(F.col("query_id"), F.posexplode(F.col("top")))
      .select(F.col("query_id"), (F.col("pos") + 1).cast("int").as("rank"),
        F.col("col.neighbor_id").as("neighbor_id"), F.col("col.cos_sim").as("cos_sim"))
  }

  /** Deterministic Gaussian hyperplanes for RP-LSH, shared between the
    * Spark operators and the DuckDB oracle builder (which embeds these
    * exact constants as SQL literals so both engines compute identical
    * sign bits).
    */
  def hyperplanes(planes: Int, dim: Int, seed: Long): Seq[IndexedSeq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(planes)(IndexedSeq.fill(dim)(rnd.nextGaussian()))
  }

  /** Exact all-pairs cosine >= minCos WITHOUT a corpus broadcast: the
    * classic blocked (triangle) all-pairs distribution. Each vector is
    * assigned a block by id hash; the B(B+1)/2 ordered block pairs form a
    * tiny relation; each side replicates its rows to the block pairs it
    * participates in, and the pair computation happens inside an
    * equi-join on (block_a, block_b) — a shuffle-distributed
    * SortMergeJoin, never a BroadcastNestedLoopJoin of the corpus.
    *
    * Still O(N²) compute (it is the exact answer), but it scales
    * horizontally: communication is O(N·B), per-reducer work (N/B)², so
    * B ≈ sqrt(2·cluster parallelism) keeps every executor busy and nothing
    * needs the whole corpus in memory. `blocks = 0` (default) derives B
    * from `defaultParallelism` so the same call saturates a 1000-executor
    * cluster; pass an explicit B to pin it. For true near-dup thresholds
    * (>= ~0.8) prefer [[rpLshNearDupPairs]], which prunes candidates
    * instead of distributing the full quadratic.
    */
  def cosinePairsBlocked(
      df: DataFrame, idCol: String, vecCol: String, minCos: Double,
      blocks: Int = 0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val blockCount =
      if (blocks > 0) blocks
      else {
        // B(B+1)/2 block pairs ≈ parallelism → B ≈ sqrt(2P); floor of 8
        // keeps the sf0.001 spec corpus distributed too
        val p = spark.sparkContext.defaultParallelism
        math.max(8, math.round(math.sqrt(2.0 * p)).toInt)
      }
    val blockPairs = (for { i <- 0 until blockCount; j <- i until blockCount } yield (i, j))
      .toDF("ba", "bb")
    // adaptive spread (see [[Par]]): the block-pair explosion below is a
    // broadcast join, i.e. a NARROW stage — off a single-row-group file
    // the whole N·B replication (and the shuffle write feeding the block
    // join) would run in one task
    val base = Par.spread(df.select(F.col(idCol), F.col(vecCol)), F.col(idCol))
      .select(F.col(idCol).as("id"), F.col(vecCol).as("vec"),
        norm(F.col(vecCol)).as("nrm"),
        F.pmod(F.hash(F.col(idCol)), F.lit(blockCount)).as("blk"))
    val lhs = base.select(F.col("id").as("a_id"), F.col("vec").as("a_vec"),
        F.col("nrm").as("a_norm"), F.col("blk").as("ba"))
      .join(blockPairs, "ba")
    val rhs = base.select(F.col("id").as("b_id"), F.col("vec").as("b_vec"),
        F.col("nrm").as("b_norm"), F.col("blk").as("bb"))
      .join(blockPairs, "bb")
    lhs.join(rhs, Seq("ba", "bb"))
      // distinct blocks meet once (each unordered pair lands in exactly one
      // ordered block pair); the diagonal needs the id tiebreak
      .filter(F.col("ba") < F.col("bb") || F.col("a_id") < F.col("b_id"))
      .withColumn("cos_sim",
        F.round(dot(F.col("a_vec"), F.col("b_vec")) / (F.col("a_norm") * F.col("b_norm")), 4))
      .filter(F.col("cos_sim") >= minCos)
      .select(
        F.least(F.col("a_id"), F.col("b_id")).as("a_id"),
        F.greatest(F.col("a_id"), F.col("b_id")).as("b_id"),
        F.col("cos_sim"))
  }

  /** Multi-probe RP-LSH approximate top-k (Lv et al., VLDB 2007 shape):
    * `planes` seeded hyperplanes give every vector a sign-bit cell code;
    * the probe set is the query's own cell plus all single-bit-flip
    * neighbors (hamming <= 1), so only ~ (planes+1)/2^planes of the
    * corpus is ranked. Fully deterministic given the seed — the DuckDB
    * oracle recomputes identical cells from the same literal hyperplanes
    * (integer probing, no centroid averages, no iterative fit), which is
    * what makes this ANN tier hash-checkable where KMeans IVF is not.
    * At scale, write the corpus partitioned by cell ([[graft.operators.IvfIndex]]
    * does this for the KMeans tier) and the probe filter becomes physical
    * partition pruning.
    */
  def lshMultiProbeTopK(
      df: DataFrame, idCol: String, vecCol: String, queryId: Long, k: Int,
      planes: Int = 4, dim: Int = 64, seed: Long = 7L): DataFrame = {
    val hp = hyperplanes(planes, dim, seed)
    val code = hp.zipWithIndex
      .map { case (p, j) =>
        F.when(dot(F.col(vecCol), F.array(p.map(F.lit(_)): _*)) > 0, F.lit(1 << j))
          .otherwise(F.lit(0))
      }
      .reduce((a, b) => a.bitwiseOR(b))
    val coded = df.select(F.col(idCol), F.col(vecCol), code.as("cell"))
    val q = coded.filter(F.col(idCol) === queryId)
      .select(F.col(vecCol).as("q_vec"), norm(F.col(vecCol)).as("q_norm"),
        F.col("cell").as("q_cell"))
    coded.filter(F.col(idCol) =!= queryId)
      .crossJoin(F.broadcast(q)) // 1-row broadcast scalar, like cosineTopK
      .filter(F.expr("bit_count(cell ^ q_cell)") <= 1)
      .select(
        F.col(idCol).as("neighbor_id"),
        F.round(dot(F.col(vecCol), F.col("q_vec")) / (norm(F.col(vecCol)) * F.col("q_norm")), 4)
          .as("cos_sim"))
      .orderBy(F.col("cos_sim").desc, F.col("neighbor_id"))
      .limit(k)
  }

  /** Int8 scalar quantization of an embedding column: per-vector
    * symmetric scale = max|v| / 127, codes = round(v / scale). Emits
    * (idCol, q_codes: array<tinyint>, q_scale, q_norm) — a relation 4×
    * narrower than the float vectors, which is the point: at 100 TB the
    * quantized table is what gets persisted and scanned, and the float
    * vectors are only fetched for the final re-rank of a handful of
    * candidates ([[quantizedTopK]]). Deterministic, engine-portable
    * (round-half-up on non-negative magnitudes matches SQL ROUND).
    */
  def quantizeEmbeddings(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    // adaptive spread (see [[Par]]): per-element quantization is the map
    // cost; off a single-row-group file it would run on one core
    Par.spread(df.select(F.col(idCol), F.col(vecCol)), F.col(idCol))
      .select(F.col(idCol),
        F.col(vecCol),
        (F.array_max(F.transform(F.col(vecCol), x => F.abs(x))) / 127.0).as("q_scale"),
        norm(F.col(vecCol)).as("q_norm"))
      .withColumn("q_codes",
        F.transform(F.col(vecCol), x => F.round(x / F.col("q_scale")).cast("byte")))
      .select(idCol, "q_codes", "q_scale", "q_norm")
  }

  /** Quantized-scan top-k with exact re-rank: rank the corpus by the
    * int8-approximated cosine (scaleA·scaleQ·dot(codesA, codesQ) /
    * (normA·normQ)), keep the top `k·margin` candidates, then re-rank
    * just those against the FULL float vectors for exact cosines.
    *
    * Scale shape: the scan phase reads only the 4×-compressed quantized
    * relation (codes + two scalars/row) and ends in TakeOrdered — no
    * shuffle; the re-rank joins `k·margin` rows (broadcast) back to the
    * float table. With 64-dim int8 the quantization error per cosine is
    * ~1e-3, so a 3× margin re-covers the exact top-k with huge slack —
    * SimilaritySpec asserts equality with [[cosineTopK]] and the qe05
    * oracle is the EXACT brute-force answer.
    */
  def quantizedTopK(df: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int, margin: Int = 3): DataFrame = {
    val quant = quantizeEmbeddings(df, idCol, vecCol)
    val qRow = quant.filter(F.col(idCol) === queryId)
      .select(F.col("q_codes").as("qq_codes"), F.col("q_scale").as("qq_scale"),
        F.col("q_norm").as("qq_norm"))
    val approx = quant.filter(F.col(idCol) =!= queryId)
      .crossJoin(F.broadcast(qRow)) // 1-row broadcast, like cosineTopK
      .select(F.col(idCol),
        (dot(F.col("q_codes").cast("array<float>"), F.col("qq_codes").cast("array<float>"))
          * F.col("q_scale") * F.col("qq_scale")
          / (F.col("q_norm") * F.col("qq_norm"))).as("approx_cos"))
      .orderBy(F.col("approx_cos").desc, F.col(idCol))
      .limit(k * margin)
    val exactQ = df.filter(F.col(idCol) === queryId)
      .select(F.col(vecCol).as("q_vec"), norm(F.col(vecCol)).as("exact_q_norm"))
    df.join(F.broadcast(approx.select(idCol)), idCol)
      .crossJoin(F.broadcast(exactQ))
      .select(
        F.col(idCol).as("neighbor_id"),
        F.round(dot(F.col(vecCol), F.col("q_vec")) / (norm(F.col(vecCol)) * F.col("exact_q_norm")), 4)
          .as("cos_sim"))
      .orderBy(F.col("cos_sim").desc, F.col("neighbor_id"))
      .limit(k)
  }

  /** All pairs (a < b) with cosine >= minCos. Brute-force kernel — the
    * verification stage of an LSH/IVF pipeline, or a direct answer for
    * bounded slices.
    */
  def cosinePairs(df: DataFrame, idCol: String, vecCol: String, minCos: Double): DataFrame = {
    val n = df.select(F.col(idCol).as("a_id"), F.col(vecCol).as("a_vec"),
      norm(F.col(vecCol)).as("a_norm"))
    val m = df.select(F.col(idCol).as("b_id"), F.col(vecCol).as("b_vec"),
      norm(F.col(vecCol)).as("b_norm"))
    n.join(m, F.col("a_id") < F.col("b_id"))
      .withColumn("cos_sim",
        F.round(dot(F.col("a_vec"), F.col("b_vec")) / (F.col("a_norm") * F.col("b_norm")), 4))
      .filter(F.col("cos_sim") >= minCos)
      .select("a_id", "b_id", "cos_sim")
  }

  /** Random-hyperplane (SimHash-for-vectors) LSH near-dup pairs:
    * `bits` hyperplanes drawn deterministically from `seed`; the sign
    * pattern is banded into chunks; pairs sharing any chunk are verified
    * with exact cosine >= minCos.
    *
    * This is the 100 TB path for [[cosinePairs]]: candidate generation is
    * bucket-local and the signature is `bits` codegen'd `vec_dot` calls
    * against literal hyperplane arrays. The collision probability of one
    * bit is 1 - θ/π, so the method prunes well for HIGH thresholds
    * (cos >= ~0.8, near-duplicate territory); at low thresholds use IVF
    * blocking instead.
    */
  def rpLshNearDupPairs(
      df: DataFrame, idCol: String, vecCol: String, minCos: Double,
      dim: Int, bits: Int = 24, chunkBits: Int = 3, seed: Long = 42L,
      candidateBounded: Boolean = true): DataFrame = {
    require(bits % chunkBits == 0, "bits must divide into chunks")
    val rnd = new scala.util.Random(seed)
    val planes: Seq[Column] = Seq.fill(bits)(
      F.array(Seq.fill(dim)(F.lit(rnd.nextGaussian())): _*))

    val sig = planes.zipWithIndex
      .map { case (h, j) =>
        F.when(F.call_function("vec_dot", F.col(vecCol), h) > 0, F.lit(1L << j))
          .otherwise(F.lit(0L))
      }
      .reduce((a, b) => a.bitwiseOR(b))

    val nChunks = bits / chunkBits
    val mask = (1L << chunkBits) - 1
    // adaptive spread (see [[Par]]): the `bits` vec_dot signature
    // projections are the CPU cost of this kernel, and a single-row-group
    // embedding file would compute them all on one core
    val src = Par.spread(df.select(F.col(idCol), F.col(vecCol)), F.col(idCol))
    // signature relation carries ONLY (id, sig): the verify step below
    // must not inherit the 24 vec_dot projections per row it would
    // recompute per side
    val sigs = src.select(F.col(idCol), sig.as("__sig"))
    val chunks = sigs.select(F.col(idCol),
      F.explode(F.array((0 until nChunks).map(j =>
        F.struct(F.lit(j).as("chunk_idx"),
          F.shiftrightunsigned(F.col("__sig"), j * chunkBits).bitwiseAND(mask).as("chunk"))): _*)).as("c"))
      .select(F.col(idCol), F.col("c.chunk_idx"), F.col("c.chunk"))

    val a = chunks.toDF("a_id", "chunk_idx", "chunk")
    val b = chunks.toDF("b_id", "chunk_idx", "chunk")
    // when candidate-bounded, the list is consumed twice (the union id
    // list + the verify join) and each lazy pass would recompute the
    // `bits` vec_dot signatures per join side — localCheckpoint instead
    // of cache() because this entry point has no cleanup handle, and
    // checkpoint blocks are ContextCleaner-reclaimed once the result is
    // unreferenced (a CacheManager entry never is). On the unbounded
    // dial the list is consumed once: keep the fully lazy single-pass
    // plan.
    val cands0 = a.join(b, Seq("chunk_idx", "chunk"))
      .filter(F.col("a_id") < F.col("b_id"))
      .select("a_id", "b_id").distinct()
    val cands = if (candidateBounded) cands0.localCheckpoint() else cands0

    // candidate-bounded exact verify (same discipline as the MinHash
    // kernel): only vectors referenced by some candidate pair join —
    // the exchange is candidate-sized, not corpus-sized, when chunked
    // banding is SELECTIVE. ONE union-id broadcast filters the vector
    // relation once for both sides (round 8's two per-side builds were
    // the kernels' fixed-cost watch item). The prefilter consumes
    // `cands` once more (the chunk self-join re-runs per consumer — no
    // cache, no cleanup handle on this entry point), so on a
    // deliberately DENSE dial (small chunkBits driving recall → 1, e.g.
    // the qe09 oracle row, where candidates cover ~every id and the
    // prefilter buys nothing) pass candidateBounded = false to keep the
    // single-pass plan.
    val base = src.select(F.col(idCol), F.col(vecCol), norm(F.col(vecCol)).as("__n"))
    val (lhs, rhs) =
      if (!candidateBounded)
        (base.toDF("a_id", "a_vec", "a_norm"), base.toDF("b_id", "b_vec", "b_norm"))
      else {
        val ids = F.broadcast(
          cands.select(F.col("a_id").as("__cid"))
            .union(cands.select(F.col("b_id").as("__cid"))).distinct())
        val fil = base.toDF("__cid", "__vec", "__nrm")
          .join(ids, Seq("__cid"), "left_semi")
        (fil.toDF("a_id", "a_vec", "a_norm"), fil.toDF("b_id", "b_vec", "b_norm"))
      }
    cands.join(lhs, "a_id").join(rhs, "b_id")
      .withColumn("cos_sim",
        F.round(dot(F.col("a_vec"), F.col("b_vec")) / (F.col("a_norm") * F.col("b_norm")), 4))
      .filter(F.col("cos_sim") >= minCos)
      .select("a_id", "b_id", "cos_sim")
  }

  /** Semantic deduplication over an embedding column (the SemDeDup recipe,
    * Abbas et al. 2023, arXiv:2303.09540): cosine near-dup pairs →
    * connected components → one representative per semantic cluster (the
    * min-id member, which IS the component label under
    * [[Dedup.connectedComponents]]' min-label propagation). The
    * embedding-space complement of the token-space clustering in
    * `Dedup`/qd17 — catches paraphrases and translations that share no
    * shingles.
    *
    * Emits one row per input vector: (idCol, component, cluster_size,
    * is_rep). Filtering `is_rep = 1` keeps exactly one doc per semantic
    * cluster; `cluster_size` is the threshold-picking signal.
    *
    * Scale: the default pair generator is the EXACT blocked all-pairs
    * kernel ([[cosinePairsBlocked]] — quadratic by contract, the oracle
    * tier). At 100 TB pass `candidatePairs = rpLshNearDupPairs(...)` or
    * [[IvfIndex.cellLocalPairs]] instead: everything downstream
    * (components, sizes, rep choice) is sized by the PAIR LIST, never the
    * corpus, and the component rounds shuffle only edges
    * ([[Dedup.connectedComponents]]' contract).
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String, minCos: Double,
      candidatePairs: Option[DataFrame] = None): DataFrame = {
    val pairs = candidatePairs
      .getOrElse(cosinePairsBlocked(df, idCol, vecCol, minCos))
      .select("a_id", "b_id")
    val comp = Dedup.connectedComponents(pairs, "a_id", "b_id")
      .withColumnRenamed("id", idCol)
    // vectors in no pair are their own singleton component
    val labeled = df.select(F.col(idCol))
      .join(comp, Seq(idCol), "left")
      .select(F.col(idCol),
        F.coalesce(F.col("comp"), F.col(idCol)).as("component"))
    val sizes = labeled.groupBy("component")
      .agg(F.count(F.lit(1)).as("cluster_size"))
    labeled.join(sizes, "component")
      .select(F.col(idCol), F.col("component"), F.col("cluster_size"),
        (F.col(idCol) === F.col("component")).cast("int").as("is_rep"))
  }

  /** Cluster-stratified diversity sample: assign every vector to a
    * deterministic RP-LSH cell (sign bits over [[hyperplanes]], the same
    * seeded family [[lshMultiProbeTopK]] probes), then keep `perCell`
    * vectors per cell by a seeded portable hash — a downsample that
    * preserves semantic COVERAGE instead of the marginal distribution
    * (uniform sampling keeps duplicates of the dense modes and starves
    * rare regions; per-cell quotas keep every region represented).
    *
    * Per-cell selection goes through the [[graft.plans.TopKAggregate]]
    * map-side top-k aggregate, not a window: each map task reduces to
    * ≤ perCell rows per cell BEFORE the shuffle, so cell skew never
    * single-partitions the corpus. The sort key is the 2⁵⁰-bounded
    * [[graft.functions.TextFunctions.portableHash64]] — exactly
    * representable in the aggregate's double sort slot AND recomputable
    * bit-for-bit by any engine with md5, which keeps the whole operator
    * oracle-checkable. More planes → more cells → finer strata; 2^planes
    * should be sized well below the corpus count.
    *
    * Emits (cell, rank, idCol) with rank 1..perCell in hash order.
    */
  def clusterStratifiedSample(df: DataFrame, idCol: String, vecCol: String,
      perCell: Int, planes: Int = 4, dim: Int = 64, seed: Long = 7L,
      sampleSeed: String = "cs1"): DataFrame = {
    require(perCell > 0, s"perCell must be positive, got $perCell")
    val hp = hyperplanes(planes, dim, seed)
    val code = hp.zipWithIndex
      .map { case (p, j) =>
        F.when(dot(F.col(vecCol), F.array(p.map(F.lit(_)): _*)) > 0, F.lit(1 << j))
          .otherwise(F.lit(0))
      }
      .reduce((a, b) => a.bitwiseOR(b))
    val h = F.pmod(
      graft.functions.TextFunctions.portableHash64(
        F.concat(F.lit(sampleSeed + "-"), F.col(idCol).cast("string"))),
      F.lit(1L << 50))
    df.select(F.col(idCol), code.as("cell"), h.as("__h"))
      .groupBy("cell")
      // topk_rows ranks field0 double DESC, field1 long ASC: negate the
      // hash so rank order is hash ASC with the id tiebreak
      .agg(F.call_function("topk_rows",
        F.struct((-F.col("__h")).cast("double").as("q"), F.col(idCol)),
        F.lit(perCell)).as("top"))
      .select(F.col("cell"), F.posexplode(F.col("top")))
      .select(F.col("cell"), (F.col("pos") + 1).cast("int").as("rank"),
        F.col(s"col.$idCol").as(idCol))
  }

}
