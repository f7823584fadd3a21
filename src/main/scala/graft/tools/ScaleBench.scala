package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}

import graft.operators.{Dedup, IvfIndex, Similarity}
import graft.runtime.{GraftSession, Tables}

/** Scale-crossover evidence for the approximate tiers (not part of the
  * driver contract): times each EXACT kernel beside its scale-tier
  * replacement on progressively larger corpora derived from the driver's
  * sf testdata, so the "approximate tier takes over at 100 TB" story is
  * measured, not asserted.
  *
  * Corpus derivations preserve the similarity structure LINEARLY (organic
  * corpora don't get quadratically more duplicates as they grow):
  *   - documents: replica r suffixes every token with `_r` — replicas
  *     share no shingles, each keeps the original near-dup structure;
  *   - boilerplate variant: the SAME 30-token sentence is appended to
  *     every 10th doc — shared-shingle doc frequency then grows WITH the
  *     corpus, the organic failure mode (headers, licenses, templates)
  *     that blows up the exact kernel's shingle self-join quadratically;
  *   - embeddings: replica r applies a seeded dimension permutation plus
  *     sign flips (an orthogonal transform: intra-block cosines exact,
  *     cross-block decorrelated), and every 10th vector gets a planted
  *     near-dup (small perturbation, cos >= ~0.99).
  *
  * Four legs:
  *   1. text_pairs — [[Dedup.jaccardPairs]] vs [[Dedup.minhashNearDupPairs]]
  *      on the benign-df corpus: verified pair sets must be IDENTICAL at
  *      these band settings; with bounded shingle sharing both kernels
  *      scale near-linearly (the LSH tier costs a small constant more).
  *   2. text_boilerplate — the naive exact kernel vs the production
  *      configuration (LSH + `maxDocFreq` skew guard) as boilerplate df
  *      grows with the corpus: exact candidate volume grows ~k², the
  *      guarded tier stays ~linear, and the VERIFIED pair sets are still
  *      identical (a boilerplate-only overlap can never reach J >= 0.6:
  *      28 shared shingles over ~86-shingle docs caps J at ~0.24).
  *   3. semantic_dedup — [[Similarity.semanticDedup]] over the exact
  *      blocked all-pairs kernel vs over [[IvfIndex.cellLocalPairs]]
  *      with cell count GROWING with the corpus (C = 8k): candidates
  *      Σ n_c² stay ~linear per vector while exact pays n²; planted
  *      near-dups measure representative agreement.
  *   4. ann_topk — [[Similarity.knnJoin]] brute top-k vs [[IvfIndex]]
  *      probes (build amortizes over queries) with measured recall@10.
  *   5. pipeline — the COMPOSED corpus build ([[CurationPipeline]])
  *      end to end at 1×/4×/8× corpus: proves the composition scales,
  *      not just the kernels.
  *
  *   6. highd_assign — the d=1536 × C=2048 flat-vs-two-level assignment
  *      reading (the measured crossover in
  *      [[graft.plans.TwoLevelNearestCellsExpression]]'s scaladoc),
  *      regenerated per round so the claim stays standing evidence.
  *
  * Usage: runMain graft.tools.ScaleBench [sfDir] [outJson] [legs]
  * (`legs` = comma-set of text,boiler,semantic,ann,pipeline,highd;
  * default all).
  * Writes the result table to `outJson` (default docs/BENCH_SCALE.json)
  * and prints each row as it lands.
  */
object ScaleBench {

  private def time[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val r = f
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** Block-replicate documents: replica r gets disjoint ids and a
    * token-rewritten text (suffix `_r`), so shingle sets are disjoint
    * across replicas and near-dup structure scales linearly.
    */
  private def replicateDocs(docs: DataFrame, k: Int): DataFrame =
    (0 until k).map { r =>
      docs.select(
        (F.col("doc_id") + F.lit(r * 10000000L)).as("doc_id"),
        F.array_join(
          F.transform(F.split(F.col("text"), " "), t => F.concat(t, F.lit(s"_$r"))),
          " ").as("text"))
    }.reduce(_.union(_))

  /** The 30-token boilerplate sentence every 10th doc carries — its
    * shingles' doc frequency grows linearly with the corpus.
    */
  private val Boilerplate: String =
    (1 to 30).map(i => s"bp$i").mkString(" ")

  private def withBoilerplate(docs: DataFrame): DataFrame =
    docs.withColumn("text",
      F.when(F.col("doc_id") % 10 === 0,
        F.concat(F.col("text"), F.lit(" " + Boilerplate)))
        .otherwise(F.col("text")))

  /** Block-replicate embeddings under a per-replica orthogonal transform
    * (seeded dim permutation + sign flips): intra-block cosines exact,
    * cross-block decorrelated. Every 10th vector gains a planted
    * near-dup (id + 5e6, coordinate noise ~1% of scale).
    */
  private def replicateVecs(emb: DataFrame, k: Int, dim: Int): DataFrame = {
    val blocks = (0 until k).map { r =>
      val rnd = new scala.util.Random(1000L + r)
      val perm = rnd.shuffle((0 until dim).toVector)
      val sign = IndexedSeq.fill(dim)(if (rnd.nextBoolean()) 1.0 else -1.0)
      emb.select(
        (F.col("vec_id") + F.lit(r * 10000000L)).as("vec_id"),
        F.array((0 until dim).map(d =>
          F.col("embedding").getItem(perm(d)).cast("double") * F.lit(sign(d))): _*)
          .as("embedding"))
    }.reduce(_.union(_))
    val dups = blocks.filter(F.col("vec_id") % 10 === 0)
      .select((F.col("vec_id") + 5000000L).as("vec_id"),
        F.transform(F.col("embedding"),
          x => x * (F.lit(1.0) + (F.pmod(F.xxhash64(F.col("vec_id"), x), F.lit(100L))
            .cast("double") - 50.0) / 5000.0)).as("embedding"))
    blocks.union(dups)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outJson = args.lift(1).getOrElse("docs/BENCH_SCALE.json")
    // dev iteration: arg 3 selects legs, e.g. "ann" or "text,boiler"
    val legs = args.lift(2).map(_.split(",").toSet)
      .getOrElse(Set("text", "boiler", "semantic", "ann", "contract", "pipeline", "highd"))
    val load0 = graft.Bench.loadavg()
    val spark = GraftSession.get("scale-bench")
    spark.sparkContext.setLogLevel("ERROR")

    val docs = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    val emb = Tables.load(spark, sfDir, "embeddings").select("vec_id", "embedding")
    val dim = emb.head().getSeq[Any](1).size
    val rows = scala.collection.mutable.ArrayBuffer.empty[String]
    def emit(row: String): Unit = { rows += row; println(row) }

    // --- 1. benign-df corpus: exact shingle self-join vs MinHash+LSH
    if (legs("text")) for (k <- Seq(1, 2, 4, 8)) {
      val df = replicateDocs(docs, k).cache()
      val n = df.count()
      val (tEx, nEx) = time(Dedup.jaccardPairs(df, "doc_id", "text", 3, 0.6).count())
      val (tLsh, nLsh) = time(Dedup.minhashNearDupPairs(df, "doc_id", "text", 3, 0.6).count())
      emit(s"""{"leg":"text_pairs","scale":$k,"n_docs":$n,""" +
        f""""exact_sec":$tEx%.2f,"lsh_sec":$tLsh%.2f,""" +
        s""""exact_pairs":$nEx,"lsh_pairs":$nLsh,"identical":${nEx == nLsh}}""")
      df.unpersist()
    }

    // --- 2. boilerplate corpus: naive exact vs production (LSH + skew guard)
    if (legs("boiler")) for (k <- Seq(1, 2, 4, 8)) {
      val df = withBoilerplate(replicateDocs(docs, k)).cache()
      val n = df.count()
      val (tEx, nEx) = time(Dedup.jaccardPairs(df, "doc_id", "text", 3, 0.6).count())
      val (tLsh, nLsh) = time(
        Dedup.minhashNearDupPairs(df, "doc_id", "text", 3, 0.6, maxDocFreq = 50).count())
      emit(s"""{"leg":"text_boilerplate","scale":$k,"n_docs":$n,""" +
        f""""exact_naive_sec":$tEx%.2f,"lsh_guarded_sec":$tLsh%.2f,""" +
        s""""exact_pairs":$nEx,"lsh_pairs":$nLsh,"identical":${nEx == nLsh}}""")
      df.unpersist()
    }

    // --- 3. semantic dedup: exact blocked all-pairs vs IVF cell-local
    //     pairs with C growing with the corpus. 32× extends the leg past
    //     the local[32] crossover: cells ∝ n keeps per-cell cost constant
    //     (the tier is ~linear) while the exact kernel is quadratic by
    //     contract — the separation the smaller scales only hint at.
    // 256× (563k vecs, C=2,048) is the current frontier octave: both
    // quadratic-by-contract parties (exact kernel, and the flat n·C
    // assignment's C-growth) are out of their regime there — the row
    // compares the routed matrix kernel against the n·√C two-level tier
    // at the cell count where their separation is the 100 TB story
    if (legs("semantic")) for (k <- Seq(1, 4, 16, 32, 64, 128, 256)) {
      val v = replicateVecs(emb, k, dim).cache()
      val n = v.count()
      // the exact kernel is quadratic BY CONTRACT — past 32× it only
      // re-proves that at minutes of wall-clock; the larger rows instead
      // compare the IVF assignment kernels against each other
      // (verification is exact in both, so representative equality still
      // certifies the tier end-to-end)
      val (tEx, repEx) =
        if (k <= 32) time(
          Similarity.semanticDedup(v, "vec_id", "embedding", 0.9)
            .filter(F.col("is_rep") === 1).count())
        else (-1.0, -1L)
      val root = s"/tmp/graft-scalebench-sem-$k-${System.nanoTime()}"
      val (tBuild, _) = time(
        IvfIndex.build(v, "vec_id", "embedding", root, numCentroids = 8 * k))
      val (tIvf, repIvf) = time(
        Similarity.semanticDedup(v, "vec_id", "embedding", 0.9,
          candidatePairs = Some(IvfIndex.cellLocalPairs(spark, root, 0.9, nProbe = 2)))
          .filter(F.col("is_rep") === 1).count())
      // the two-level (coarse √C → fine) assignment tier: cuts the
      // n·C·d assignment term to ~n·√C·d — since round 13 the two-level
      // MATRIX kernel (TwoLevelNearestCellsExpression), so it runs at
      // every scale including 128× where its old CASE-chain literal
      // form was not constructible in reasonable time
      val (tIvf2, repIvf2) = time(
        Similarity.semanticDedup(v, "vec_id", "embedding", 0.9,
          candidatePairs = Some(IvfIndex.cellLocalPairs(spark, root, 0.9, nProbe = 2,
            coarseProbes = 2)))
          .filter(F.col("is_rep") === 1).count())
      // skipped exact legs emit null, not a -1 sentinel: a ledger consumer
      // comparing exact_reps to ivf_reps for the equality certification
      // must be able to tell "not run" from a real value
      val exactFields =
        if (tEx < 0) """"exact_sec":null,"exact_reps":null"""
        else f""""exact_sec":$tEx%.2f,"exact_reps":$repEx"""
      val twoLevelFields =
        if (tIvf2 < 0) """"ivf2_pairs_sec":null,"ivf2_reps":null"""
        else f""""ivf2_pairs_sec":$tIvf2%.2f,"ivf2_reps":$repIvf2"""
      emit(s"""{"leg":"semantic_dedup","scale":$k,"n_vecs":$n,"n_cells":${8 * k},""" +
        s"""$exactFields,""" +
        f""""ivf_build_sec":$tBuild%.2f,"ivf_pairs_sec":$tIvf%.2f,""" +
        s"""$twoLevelFields,"ivf_reps":$repIvf}""")
      v.unpersist()
    }

    // --- 4. ANN: brute kNN join vs IVF probe. Two recall readings: the
    //     near-dup retrieval the dedup pipeline performs (is the planted
    //     cos≈0.9999 twin found? — cell-local by construction) and the
    //     harsher top-10 overlap on data with little cluster structure
    //     (the textbook IVF trade nProbe tunes). The probe path is the
    //     SERVING api (one driver-side job per query, partition-pruned
    //     scan); knnJoin is the batch api (one job for all queries) —
    //     compare throughput per leg accordingly.
    if (legs("ann")) for (k <- Seq(1, 4, 16)) {
      val v = replicateVecs(emb, k, dim).cache()
      val n = v.count()
      // deterministic query set: ids 0,10,...,90 carry a planted twin at
      // id+5e6; ids 1,11,...,91 don't
      val queries = v.filter(F.col("vec_id") < 100 &&
        (F.col("vec_id") % 10 === 0 || F.col("vec_id") % 10 === 1)).cache()
      val qRows = queries.collect()
      val nq = qRows.length
      val (tBrute, _) = time(Similarity.knnJoin(v, queries, "vec_id", "embedding", 10).count())
      val bruteTop = Similarity.knnJoin(v, queries, "vec_id", "embedding", 10)
        .collect().groupBy(_.getAs[Long]("query_id"))
        .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
      val root = s"/tmp/graft-scalebench-ivf-$k-${System.nanoTime()}"
      val cells = 8 * k
      val nProbe = math.max(4, cells / 8)
      val (tBuild, _) = time(
        IvfIndex.build(v, "vec_id", "embedding", root, numCentroids = cells))
      val (tProbe, ivfTop) = time {
        qRows.map { r =>
          val qid = r.getAs[Long]("vec_id")
          val qv = r.getSeq[Double](1).toArray
          qid -> IvfIndex.topKByVector(spark, root, qv, 10, nProbe = nProbe,
              excludeId = Some(qid))
            .collect().map(_.getAs[Long]("neighbor_id")).toSet
        }.toMap
      }
      // the BATCH api over the same index/probe budget — one job for the
      // whole query set (the apples-to-apples comparison with knnJoin,
      // where the per-query probe above is the serving-latency api)
      val (tJoin, joinTop) = time {
        IvfIndex.knnJoin(spark, root, queries, "vec_id", "embedding", 10, nProbe = nProbe)
          .collect().groupBy(_.getAs[Long]("query_id"))
          .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
      }
      val joinRecall = joinTop.map { case (q, s) =>
        (s intersect bruteTop.getOrElse(q, Set.empty)).size.toDouble / 10.0
      }.sum / joinTop.size
      val recall = ivfTop.map { case (q, s) =>
        (s intersect bruteTop.getOrElse(q, Set.empty)).size.toDouble / 10.0
      }.sum / ivfTop.size
      val dupQs = ivfTop.keySet.filter(_ % 10 == 0)
      val dupRecall = dupQs.count(q => ivfTop(q).contains(q + 5000000L))
        .toDouble / dupQs.size
      // PQ tier over the same corpus: train+encode once (amortizes like
      // the IVF build), per-query ADC over the m-byte codes + exact
      // re-rank — the 32× compression path's wall time and recall
      val (tPqBuild, (cb, codes)) = time {
        val cb0 = graft.operators.ProductQuant.train(v, "vec_id", "embedding", m = 8, k = 16)
        val c = graft.operators.ProductQuant.encode(v, "vec_id", "embedding", cb0).cache()
        c.count()
        (cb0, c)
      }
      // margin is PQ's recall dial (re-rank row budget, scan unchanged):
      // decorrelated random vectors are PQ's WORST case (no structure
      // for the subspace codebooks; real embeddings are clustered, see
      // ProductQuantSpec's 1.0), so measure the dial at 10 and 30
      def pqRecallAt(margin: Int): (Double, Double) = {
        val (t, top) = time {
          qRows.map { r =>
            val qid = r.getAs[Long]("vec_id")
            val qv = r.getSeq[Double](1).toArray
            qid -> graft.operators.ProductQuant
              .topK(codes, v, "vec_id", "embedding", qv, cb, 11, margin) // 11: self included
              .collect().map(_.getAs[Long]("neighbor_id")).filter(_ != qid).take(10).toSet
          }.toMap
        }
        (t, top.map { case (q, s) =>
          (s intersect bruteTop.getOrElse(q, Set.empty)).size.toDouble / 10.0
        }.sum / top.size)
      }
      val (tPq, pqRecall) = pqRecallAt(10)
      val (_, pqRecall30) = pqRecallAt(30)
      codes.unpersist()
      emit(s"""{"leg":"ann_topk","scale":$k,"n_vecs":$n,"n_queries":$nq,""" +
        s""""n_cells":$cells,"n_probe":$nProbe,""" +
        f""""brute_sec":$tBrute%.2f,"ivf_build_sec":$tBuild%.2f,""" +
        f""""ivf_probe_sec":$tProbe%.2f,"ivf_recall_at_10":$recall%.3f,""" +
        f""""ivf_join_sec":$tJoin%.2f,"ivf_join_recall_at_10":$joinRecall%.3f,""" +
        f""""pq_build_sec":$tPqBuild%.2f,"pq_probe_sec":$tPq%.2f,""" +
        f""""pq_recall_at_10":$pqRecall%.3f,"pq_recall_margin30":$pqRecall30%.3f,""" +
        f""""planted_dup_recall":$dupRecall%.3f}""")
      // the serving-recall CONTRACT: sweep nProbe until recall@10 >= 0.9
      // on this corpus, emit the full recall-vs-probe-vs-latency curve —
      // the dial an operator reads to size a serving config instead of
      // guessing (the fixed-seed spec pin lives in SimilaritySpec)
      val cal = IvfIndex.calibrateProbes(spark, root, queries,
        "vec_id", "embedding", k = 10, targetRecall = 0.9, sampleQueries = nq)
      val curveJson = cal.curve.map { case (p, r, s) =>
        f"""{"n_probe":$p,"recall":$r%.3f,"sec":$s%.2f}""" }.mkString("[", ",", "]")
      emit(s"""{"leg":"ann_recall_contract","scale":$k,"n_vecs":$n,"n_cells":$cells,""" +
        f""""target":0.9,"chosen_probe":${cal.nProbe},"chosen_recall":${cal.recall}%.3f,""" +
        s""""target_met":${cal.targetMet},"curve":$curveJson}""")
      queries.unpersist(); v.unpersist()
    }

    // --- 4b. the serving-recall contract AT the big-C serving shape
    // (C=512, the BENCH_STREAM large-C leg and the matrix-kernel
    // routing regime): build + calibrateAndStore only — the stored dial
    // the ingest stream re-resolves across drift rebuilds, demonstrated
    // at the cell count where the literal kernel is no longer the plan
    // (VERDICT r12 #6). Probe-only: the brute/PQ comparison legs above
    // already cover quality at smaller C.
    if (legs("contract")) {
      val k = 64 // 8·k cells = 512
      val v = replicateVecs(emb, k, dim).cache()
      val n = v.count()
      val queries = v.filter(F.col("vec_id") < 100 &&
        (F.col("vec_id") % 10 === 0 || F.col("vec_id") % 10 === 1)).cache()
      val nq = queries.count().toInt
      val root = s"/tmp/graft-scalebench-contract-$k-${System.nanoTime()}"
      val cells = 8 * k
      val (tBuild, _) = time(
        IvfIndex.build(v, "vec_id", "embedding", root, numCentroids = cells))
      val (tCal, cal) = time(IvfIndex.calibrateAndStore(spark, root, queries,
        "vec_id", "embedding", k = 10, targetRecall = 0.9, sampleQueries = nq))
      val stored = IvfIndex.servingProbes(spark, root)
      val curveJson = cal.curve.map { case (p, r, s) =>
        f"""{"n_probe":$p,"recall":$r%.3f,"sec":$s%.2f}""" }.mkString("[", ",", "]")
      emit(s"""{"leg":"ann_recall_contract","scale":$k,"n_vecs":$n,"n_cells":$cells,""" +
        f""""target":0.9,"chosen_probe":${cal.nProbe},"chosen_recall":${cal.recall}%.3f,""" +
        s""""target_met":${cal.targetMet},"stored_probe":${stored.getOrElse(-1)},""" +
        f""""build_sec":$tBuild%.2f,"calibrate_sec":$tCal%.2f,"curve":$curveJson}""")
      queries.unpersist(); v.unpersist()
    }

    // --- 5. the COMPOSED corpus build at scale: CurationPipeline end to
    // end (exact dedup → MinHash near-dup + CC → decontaminate → redact
    // → span scrub → quality/lang/repetition gates → rebalance → splits
    // → pack → sharded write). Kernels scaling individually does not
    // prove the composition does — this leg measures the whole build.
    // Replication suffixes every THIRD token (any trigram window then
    // contains a rewritten token, so shingle sets stay disjoint across
    // replicas and pair structure scales linearly) while two thirds of
    // the tokens — including the language-marker stopwords the
    // quality/langId gates key on — survive verbatim.
    if (legs("pipeline")) for (k <- Seq(1, 4, 8)) {
      val full = Tables.load(spark, sfDir, "documents")
      val scaled = (0 until k).map { r =>
        val text =
          if (r == 0) F.col("text")
          else F.array_join(
            F.transform(F.split(F.col("text"), " "),
              (t, i) => F.when(i % 3 === 2, F.concat(t, F.lit(s"_$r"))).otherwise(t)),
            " ")
        full.select(
          (F.col("doc_id") + F.lit(r * 10000000L)).as("doc_id"),
          text.as("text"), F.col("lang"), F.col("source"))
      }.reduce(_.union(_)).withColumn("n_chars", F.length(F.col("text")))
      val work = java.nio.file.Files.createTempDirectory("scale-pipeline")
      scaled.write.mode("overwrite").parquet(s"$work/documents.parquet")
      val (t, counts) = time(graft.tools.CurationPipeline.run(
        spark, work.toString, s"$work/shards",
        scrubSpanWidth = 8, scrubMinDf = 3,
        splits = Seq(("train", 80), ("val", 10), ("test", 10))))
      val m = counts.stages.toMap
      emit(s"""{"leg":"pipeline","scale":$k,"n_docs":${m("corpus")},""" +
        f""""pipeline_sec":$t%.2f,"docs_per_sec":${(m("corpus") / t).toLong},""" +
        s""""near_deduped":${m("near_dedup")},"gated":${m("repetition")},""" +
        s""""packed":${m("packed")}}""")
    }

    // --- 7. highd_assign: the d=1536 × C=2048 assignment-kernel
    //     reading regenerated per round (the measured crossover in
    //     TwoLevelNearestCellsExpression's scaladoc as standing
    //     evidence, not a one-off): at a 25 MB centroid matrix the per-row sweep is
    //     memory-bandwidth-bound and the flat kernel's sequential access
    //     can beat the two-level tier's scattered member order despite
    //     ~4× fewer doubles touched. Kernel cost is independent of
    //     centroid QUALITY, so centroids are sampled corpus vectors —
    //     no k-means fit inflates the leg; warm = second run.
    if (legs("highd")) {
      val (dHi, cHi, nHi, gHi) = (1536, 2048, 20000, 11) // g ≈ √C/4, the measured dial
      val hi = spark.range(nHi).select(F.col("id"),
        F.expr(s"transform(sequence(1, $dHi), " +
          "x -> cast(pmod(xxhash64(id, x), 2001) as double) / 1000.0 - 1.0)")
          .as("vec"))
        .repartition(32).cache()
      hi.count()
      val cents: Seq[(Int, Array[Double])] = hi.filter(F.col("id") < cHi).collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Double](1).toArray)).toSeq
      def runFlat(): Unit = IvfIndex.assignCellsMultiExpr(hi, "id", "vec", cents, 2)
        .select(F.sum(F.col("cells").getItem(0))).head()
      val (centers, grouping, p) = IvfIndex.twoLevelStructure(cents, gHi, 2)
      def runTwo(): Unit = hi
        .withColumn("cells", graft.plans.TwoLevelNearestCellsExpression.column(
          F.col("vec"), cents, centers, grouping, p, 2))
        .select(F.sum(F.col("cells").getItem(0))).head()
      val (fc, _) = time(runFlat()); val (fw, _) = time(runFlat())
      val (tc, _) = time(runTwo()); val (tw, _) = time(runTwo())
      emit(s"""{"leg":"highd_assign","n_vecs":$nHi,"dims":$dHi,"cells":$cHi,""" +
        s""""coarse_probes":$gHi,""" +
        f""""flat_cold_sec":$fc%.2f,"flat_warm_sec":$fw%.2f,""" +
        f""""two_cold_sec":$tc%.2f,"two_warm_sec":$tw%.2f}""")
      hi.unpersist()
    }

    // MERGE, don't overwrite: a partial run (e.g. the per-round `highd`
    // regeneration) replaces only the leg rows it re-measured — the
    // full-suite evidence from earlier runs must survive a one-leg
    // refresh. Row identity is the `leg` field; every leg this run
    // produced displaces all prior rows of the same leg.
    val producedLegs = rows.map { r =>
      val m = """"leg":"([^"]+)"""".r.findFirstMatchIn(r)
      m.map(_.group(1)).getOrElse("")
    }.toSet
    val kept: Seq[String] = {
      val p = java.nio.file.Paths.get(outJson)
      if (!java.nio.file.Files.exists(p)) Seq.empty
      else {
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        scala.util.Try {
          val root = mapper.readTree(java.nio.file.Files.readAllBytes(p))
          val arr = root.get("rows")
          (0 until arr.size()).map(arr.get)
            .filterNot(n => producedLegs.contains(
              Option(n.get("leg")).map(_.asText()).getOrElse("")))
            .map(_.toString)
        }.getOrElse(Seq.empty)
      }
    }
    val doc = s"""{"metric":"scale_crossover","unit":"sec","sf_dir":"$sfDir",""" +
      s""""load_start":$load0,"load_end":${graft.Bench.loadavg()},""" +
      s""""rows":[${(kept ++ rows).mkString(",\n ")}]}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outJson), doc.getBytes("UTF-8"))
    spark.stop()
  }
}
