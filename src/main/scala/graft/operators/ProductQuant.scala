package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}

/** Product quantization (PQ) — the third compression tier of the ANN
  * stack (float scan → SQ8 int8 re-rank → PQ): vectors are split into
  * `m` subspaces, each subspace k-means-coded to one of `k` centroid
  * ids, so a D-float vector stores as m single-byte codes — 32× smaller
  * than float32 at (m=8, D=64) vs SQ8's 4×. Query-time scoring is
  * ASYMMETRIC DISTANCE COMPUTATION: the query precomputes an m×k table
  * of subspace inner products ONCE (driver-side, metadata-scale), and
  * each corpus row's approximate cosine is m table LOOKUPS — no
  * per-row float math at all — followed by an exact re-rank of the
  * k·margin survivors on the full vectors (the same margin discipline
  * as [[Similarity.quantizedTopK]]). Jégou et al., "Product
  * Quantization for Nearest Neighbor Search" (TPAMI 2011).
  *
  * All cosine-space: vectors are L2-normalized before coding, so
  * `sum_j <q_j, c_{j,code_j}>` approximates the cosine directly.
  *
  * Scale: training is a DRIVER-LOCAL Lloyd's loop over a deterministic
  * hash-ordered sample (m·k·dim doubles of state — metadata; the
  * standard PQ practice of sampling the train set); encoding is one
  * narrow codegen'd pass (m·k literal `vec_dot`s per row, one-off per
  * corpus); the scan side of a query reads ONLY the m-byte codes
  * (column pruning — the float vectors are touched just for the
  * k·margin re-rank rows). The codes relation drops into the same
  * epoch/partition discipline as the SQ8 columns if persisted beside
  * an [[IvfIndex]]; spec-gated (recall + planted-duplicate contracts,
  * like the RP-LSH tier) — PQ scores are approximate by construction,
  * so no SQL oracle can hash-match them.
  */
object ProductQuant {

  /** Trained codebooks: `centroids(j)(c)` is subspace j's c-th centroid
    * (length dim/m). */
  final case class Codebooks(m: Int, k: Int, dim: Int,
      centroids: Array[Array[Array[Double]]]) {
    def subDim: Int = dim / m
  }

  /** Train per-subspace codebooks on a deterministic sample: rows are
    * hash-ordered by id (portable, seed-stable) and the first
    * `sampleN` normalized vectors feed a local Lloyd's loop per
    * subspace (k-means, first-k-distinct init — deterministic, no RNG).
    */
  def train(df: DataFrame, idCol: String, vecCol: String, m: Int, k: Int,
      sampleN: Int = 10000, iters: Int = 15): Codebooks = {
    // k caps at 128: codes persist as SIGNED bytes, and a code >= 128
    // would wrap negative — element_at then reads from the array END
    // (silently wrong ADC) or index 0 (error). 16-64 is the usual PQ
    // range; 256 would need unsigned decode at every lookup.
    require(m >= 1 && k >= 2 && k <= 128, s"need 1 <= m, 2 <= k <= 128; got m=$m k=$k")
    val sample = withNormalized(df.select(F.col(idCol).as("id"), F.col(vecCol)), vecCol)
      .select(F.col("id"), F.col("__vn").as("v"))
      .orderBy(F.xxhash64(F.col("id")), F.col("id"))
      .limit(sampleN)
      .collect()
      .map(_.getAs[Seq[Double]]("v").toArray)
    require(sample.nonEmpty, "cannot train PQ on an empty relation")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val ds = dim / m
    val centroids = Array.tabulate(m) { j =>
      val slices = sample.map(v => java.util.Arrays.copyOfRange(v, j * ds, (j + 1) * ds))
      lloyd(slices, k, iters)
    }
    Codebooks(m, k, dim, centroids)
  }

  /** Local Lloyd's k-means: init = first k distinct points (padded by
    * repetition when the sample has fewer), empty clusters re-seeded
    * from the globally farthest point — all deterministic.
    */
  private def lloyd(xs: Array[Array[Double]], k: Int, iters: Int): Array[Array[Double]] = {
    val distinct = xs.distinctBy(_.toSeq).take(k)
    var cents = Array.tabulate(k)(i => distinct(i % distinct.length).clone())
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    (0 until iters).foreach { _ =>
      val sums = Array.fill(k)(new Array[Double](xs.head.length))
      val counts = new Array[Long](k)
      xs.foreach { x =>
        var best = 0; var bd = Double.MaxValue; var c = 0
        while (c < k) { val d = d2(x, cents(c)); if (d < bd) { bd = d; best = c }; c += 1 }
        counts(best) += 1
        val s = sums(best); var i = 0
        while (i < x.length) { s(i) += x(i); i += 1 }
      }
      // deterministic empty-cluster re-seed with DISTINCT points: the
      // i-th empty slot takes the i-th farthest-from-any-centroid
      // sample — seeding every empty slot with the SAME farthest point
      // would leave duplicate centroids that stay empty forever
      // (assignment always prefers the lowest-indexed duplicate)
      lazy val farthest = xs.sortBy(x => -cents.map(d2(x, _)).min)
      var nextSeed = 0
      cents = Array.tabulate(k) { c =>
        if (counts(c) == 0) {
          val s = farthest(math.min(nextSeed, farthest.length - 1))
          nextSeed += 1
          s
        } else sums(c).map(_ / counts(c))
      }
    }
    cents
  }

  /** Stage (vec double-cast → norm → normalized vec) as three
    * PROJECTION steps on named columns. The single-expression
    * alternative — `transform(v, x => x / sqrt(vec_dot(v, v)))` —
    * embeds the norm inside the lambda, and higher-order functions are
    * CodegenFallback with no subexpression elimination: the full
    * self-product would re-run for EVERY element, O(D²) interpreted
    * work per row (measured 36× on the encode pass). With `__n` an
    * attribute reference, the lambda divides by a computed value.
    * Returns the frame with `__vn` (unit vector) appended.
    */
  private def withNormalized(df: DataFrame, vecCol: String): DataFrame =
    df.withColumn("__v", asDouble(F.col(vecCol)))
      .withColumn("__n", F.sqrt(F.call_function("vec_dot", F.col("__v"), F.col("__v"))))
      .withColumn("__vn", F.transform(F.col("__v"), x => x / F.col("__n")))
      .drop("__v", "__n")

  /** Encode every vector as m codes: per subspace, argmin over the k
    * literal centroids — the [[IvfIndex.assignCellsMulti]] kernel
    * applied per slice; one narrow codegen'd pass, no shuffle. Emits
    * (idCol, pq_codes array<tinyint>).
    */
  def encode(df: DataFrame, idCol: String, vecCol: String, cb: Codebooks): DataFrame = {
    // materialize the normalized vector, THEN each subspace slice, as
    // projection steps — the k candidate structs of a subspace then
    // reference one computed slice column instead of re-slicing (and
    // re-normalizing) k times each. A wrong-dimension row fails LOUDLY
    // here: a short slice would otherwise truncate the vec_dot and
    // produce plausible-looking garbage codes.
    val staged = withNormalized(df.select(F.col(idCol), F.col(vecCol)), vecCol)
      .withColumn("__vn",
        F.when(F.size(F.col("__vn")) === cb.dim, F.col("__vn"))
          .otherwise(F.raise_error(F.concat(
            F.lit(s"pq encode: vector dim != codebook dim ${cb.dim} for $idCol="),
            F.col(idCol).cast("string")))
            .cast(s"array<double>")))
      .select(F.col(idCol) +: (0 until cb.m).map(j =>
        F.slice(F.col("__vn"), j * cb.subDim + 1, cb.subDim).as(s"__s$j")): _*)
    val codeCols: Seq[Column] = (0 until cb.m).map { j =>
      val slice = F.col(s"__s$j")
      val cands = (0 until cb.k).map { c =>
        val cent = cb.centroids(j)(c)
        val cArr = F.array(cent.map(F.lit(_)).toIndexedSeq: _*)
        val cc = cent.map(x => x * x).sum
        F.struct(
          (F.lit(cc) - F.lit(2.0) * F.call_function("vec_dot", slice, cArr)).as("d"),
          F.lit(c).as("c"))
      }
      F.array_sort(F.array(cands: _*)).getItem(0).getField("c")
    }
    staged.select(F.col(idCol),
      F.transform(F.array(codeCols: _*), c => c.cast("byte")).as("pq_codes"))
  }

  /** Approximate top-k by ADC + exact re-rank: the query's m×k inner-
    * product table is computed once on the driver and baked in as
    * LITERAL arrays, so each corpus row scores as m `element_at`
    * lookups over its byte codes — the scan reads codes only. The
    * k·margin best candidates re-rank exactly on the full vectors
    * (id-pruned join), restoring exact cosines and absorbing PQ's
    * quantization error the way [[Similarity.quantizedTopK]]'s margin
    * does for SQ8. Output: (neighbor_id, cos_sim) rounded to 4, ranked
    * (cos_sim DESC, id).
    */
  def topK(codes: DataFrame, vectors: DataFrame, idCol: String, vecCol: String,
      query: Array[Double], cb: Codebooks, k: Int, margin: Int = 10): DataFrame = {
    require(query.length == cb.dim, s"query dim ${query.length} != codebook dim ${cb.dim}")
    val qn = {
      val n = math.sqrt(query.map(x => x * x).sum)
      query.map(_ / n)
    }
    // the ADC table: table(j)(c) = <q_j, centroid_{j,c}>
    val tables: Seq[Column] = (0 until cb.m).map { j =>
      val qSub = java.util.Arrays.copyOfRange(qn, j * cb.subDim, (j + 1) * cb.subDim)
      F.array(cb.centroids(j).map(cent =>
        F.lit(cent.zip(qSub).map { case (a, b) => a * b }.sum)).toIndexedSeq: _*)
    }
    val adc = (0 until cb.m).map(j =>
      F.element_at(tables(j), F.col("pq_codes").getItem(j).cast("int") + 1))
      .reduce(_ + _)
    // a codes row of the wrong arity would null its getItem, null the
    // ADC sum, and silently sort out of candidacy — fail loudly instead
    val candidates = codes
      .withColumn("pq_codes",
        F.when(F.size(F.col("pq_codes")) === cb.m, F.col("pq_codes"))
          .otherwise(F.raise_error(F.concat(
            F.lit(s"pq topK: codes arity != m=${cb.m} for $idCol="),
            F.col(idCol).cast("string"))).cast("array<tinyint>")))
      .select(F.col(idCol), adc.as("approx_cos"))
      .orderBy(F.col("approx_cos").desc, F.col(idCol))
      .limit(k * margin)
    val qArr = F.array(query.map(F.lit(_)).toIndexedSeq: _*)
    val qNorm = math.sqrt(query.map(x => x * x).sum)
    vectors.join(F.broadcast(candidates.select(idCol)), idCol)
      .select(F.col(idCol).as("neighbor_id"), asDouble(F.col(vecCol)).as("__v"))
      .select(F.col("neighbor_id"),
        F.round(F.call_function("vec_dot", F.col("__v"), qArr)
          / (F.sqrt(F.call_function("vec_dot", F.col("__v"), F.col("__v")))
            * F.lit(qNorm)), 4).as("cos_sim"))
      .orderBy(F.col("cos_sim").desc, F.col("neighbor_id"))
      .limit(k)
  }

  private def asDouble(c: Column): Column = F.transform(c, x => x.cast("double"))
}
