package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions
import graft.operators.{IvfIndex, Similarity}

class SimilaritySpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.runtime.GraftSession
    .builder("graft-test", "8").getOrCreate()
  val sf = "/root/testdata/sf0.001"

  def emb = graft.runtime.Tables.load(spark, sf, "embeddings")

  test("cosine matches hand computation") {
    import spark.implicits._
    val df = Seq((Seq(1.0, 0.0, 1.0), Seq(1.0, 1.0, 0.0))).toDF("a", "b")
    val c = df.select(VectorFunctions.cosine(F.col("a"), F.col("b"))).head().getDouble(0)
    assert(math.abs(c - 0.5) < 1e-12) // dot=1, norms=sqrt(2) each
  }

  test("cosineTopK excludes the query, returns k sorted results in [-1,1]") {
    val top = Similarity.cosineTopK(emb, "vec_id", "embedding", 0L, 10).collect()
    assert(top.length == 10)
    assert(!top.exists(_.getAs[Long]("neighbor_id") == 0L))
    val sims = top.map(_.getAs[Double]("cos_sim"))
    assert(sims.sameElements(sims.sorted.reverse))
    assert(sims.forall(s => s >= -1.0 && s <= 1.0))
  }

  test("int8 quantization: per-element error <= scale/2, codes within [-127,127]") {
    val quant = Similarity.quantizeEmbeddings(emb, "vec_id", "embedding")
      .join(emb, "vec_id").limit(50).collect()
    quant.foreach { r =>
      val vec = r.getSeq[Float](r.fieldIndex("embedding"))
      val codes = r.getSeq[Byte](r.fieldIndex("q_codes"))
      val scale = r.getAs[Double]("q_scale")
      assert(codes.forall(c => c >= -127 && c <= 127))
      vec.zip(codes).foreach { case (v, c) =>
        assert(math.abs(v - c * scale) <= scale / 2 + 1e-9,
          s"dequantization error beyond half-step: v=$v c=$c scale=$scale")
      }
    }
  }

  test("quantizedTopK recovers the exact top-k (equals cosineTopK) for several queries") {
    Seq(0L, 17L, 101L).foreach { qid =>
      val exact = Similarity.cosineTopK(emb, "vec_id", "embedding", qid, 10)
        .collect().map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos_sim")))
      val quant = Similarity.quantizedTopK(emb, "vec_id", "embedding", qid, 10)
        .collect().map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos_sim")))
      assert(quant.sameElements(exact), s"query $qid: quantized $quant != exact $exact")
    }
  }

  test("knnJoin equals per-query cosineTopK for every query in one pass") {
    val queries = emb.filter(F.col("vec_id") % 100 === 0)
    val joined = Similarity.knnJoin(emb, queries, "vec_id", "embedding", k = 5)
      .collect()
      .groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.sortBy(_.getAs[Int]("rank"))
        .map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos_sim"))).toSeq)
      .toMap
    val qids = queries.select("vec_id").collect().map(_.getLong(0))
    assert(joined.keySet == qids.toSet, "one group per query vector")
    qids.foreach { qid =>
      val exact = Similarity.cosineTopK(emb, "vec_id", "embedding", qid, 5)
        .collect().map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos_sim"))).toSeq
      assert(joined(qid) == exact, s"query $qid: knnJoin ${joined(qid)} != topK $exact")
    }
    joined.values.foreach(rows => assert(rows.size == 5))
  }

  test("blocked kernel ≡ brute force at the threshold: same pairs and cosines") {
    import spark.implicits._
    // stress the threshold where a kernel could lose a pair: cosines
    // planted densely AROUND it (scaled copies + small-angle
    // perturbations), plus magnitude outliers (one huge element per
    // vector)
    val rnd = new scala.util.Random(23L)
    val dim = 64
    def unit(): Array[Double] = {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val rows = (0 until 60).flatMap { c =>
      val a = unit()
      val b = unit()
      // mix so that cos(a, m) sweeps through ~[0.30, 0.50] — a band
      // straddling minCos = 0.4 on both sides
      (0 until 4).map { m =>
        val t = 0.30 + 0.05 * m + rnd.nextDouble() * 0.02
        val v = a.zip(b).map { case (x, y) => t * x + math.sqrt(1 - t * t) * y }
        // magnitude outlier every 7th vector: one element 50× the rest
        val w = if ((c * 4 + m) % 7 == 0) { val u = v.clone(); u(3) *= 50.0; u } else v
        (c * 4L + m, w.toSeq)
      }
    }
    val df = rows.toDF("vec_id", "embedding")
    def pairSet(d: org.apache.spark.sql.DataFrame) = d.select("a_id", "b_id", "cos_sim")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val brute = pairSet(Similarity.cosinePairs(df, "vec_id", "embedding", 0.4))
    val blocked = pairSet(Similarity.cosinePairsBlocked(df, "vec_id", "embedding", 0.4))
    assert(brute.nonEmpty, "fixture planted no threshold-crossing pairs")
    assert(blocked == brute,
      s"blocked kernel diverged from brute force: missing=${(brute -- blocked).take(5)} " +
        s"extra=${(blocked -- brute).take(5)}")
  }

  test("RP-LSH finds near-dup pairs with high recall on clustered vectors") {
    import spark.implicits._
    // 40 clusters × 5 members: members are the base + small noise, so
    // intra-cluster cosines are > 0.95 and inter-cluster ~0
    val rnd = new scala.util.Random(7L)
    val dim = 32
    val rows = (0 until 40).flatMap { c =>
      val base = Array.fill(dim)(rnd.nextGaussian())
      (0 until 5).map { m =>
        val v = base.zipWithIndex.map { case (x, _) => x + rnd.nextGaussian() * 0.05 }
        (c * 5L + m, v)
      }
    }
    val df = rows.toDF("vec_id", "embedding")
    val brute = Similarity.cosinePairs(df, "vec_id", "embedding", 0.9)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.rpLshNearDupPairs(df, "vec_id", "embedding", 0.9, dim)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty)
    assert(lsh.subsetOf(brute), "LSH must never emit a below-threshold pair (exact verify)")
    val recall = lsh.size.toDouble / brute.size
    info(s"RP-LSH recall = $recall over ${brute.size} true pairs")
    assert(recall >= 0.85, s"recall collapsed: $recall")
  }

  test("persisted IvfIndex: probed query returns correct cosines with useful recall") {
    val root = TestFixtures.tmpDir("ivf").toString
    IvfIndex.build(emb, "vec_id", "embedding", root)

    val brute = Similarity.cosineTopK(emb, "vec_id", "embedding", 0L, 500).collect()
      .map(r => r.getAs[Long]("neighbor_id") -> r.getAs[Double]("cos_sim")).toMap
    val ivf = IvfIndex.topK(spark, root, queryId = 0L, k = 10).collect()
    assert(ivf.length == 10)
    ivf.foreach { r =>
      val id = r.getAs[Long]("neighbor_id")
      assert(brute(id) == r.getAs[Double]("cos_sim"), s"wrong cosine for $id")
    }
    // probing 4/16 cells must find a meaningful share of the true top-10
    val trueTop = brute.toSeq.sortBy { case (id, s) => (-s, id) }.take(10).map(_._1).toSet
    val recall = ivf.map(_.getAs[Long]("neighbor_id")).count(trueTop) / 10.0
    info(s"IVF recall@10 = $recall")
    assert(recall >= 0.2, s"recall collapsed: $recall")
    // probing every cell makes the index exact: identical to brute force
    val all = IvfIndex.topK(spark, root, queryId = 0L, k = 10, nProbe = 16)
      .collect().map(_.getAs[Long]("neighbor_id")).toSeq
    assert(all == brute.toSeq.sortBy { case (id, s) => (-s, id) }.take(10).map(_._1),
      "nProbe = numCentroids must equal the exact scan")
  }

  test("IvfIndex.knnJoin: all-cell probe equals brute knnJoin; planted twin found cell-locally") {
    import spark.implicits._
    val root = TestFixtures.tmpDir("ivf-knnjoin").toString
    IvfIndex.build(emb, "vec_id", "embedding", root, numCentroids = 8)
    val queries = emb.filter(F.col("vec_id") % 50 === 0)
    def key(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos_sim"))).sorted.toSeq
    // nProbe = C → total candidate set → must equal brute force exactly
    val viaIvf = key(IvfIndex.knnJoin(spark, root, queries, "vec_id", "embedding",
      k = 5, nProbe = 8).collect())
    val brute = key(Similarity.knnJoin(emb, queries, "vec_id", "embedding", k = 5).collect())
    assert(viaIvf == brute, "all-cell IVF join diverged from brute force")
    // serving config (nProbe = 1): an identical planted twin shares its
    // source's cell (same vector → same centroid argmin), so the
    // cell-local probe must surface it at rank 1 with cos 1.0
    val src = emb.filter(F.col("vec_id") === 3L)
      .select(F.col("embedding")).head().getSeq[Float](0)
    val twin = Seq((900001L, src)).toDF("vec_id", "embedding")
    IvfIndex.append(twin, "vec_id", "embedding", root, epoch = 0L)
    val hit = IvfIndex.knnJoin(spark, root, emb.filter(F.col("vec_id") === 3L),
        "vec_id", "embedding", k = 1, nProbe = 1).collect()
    assert(hit.length == 1 && hit.head.getAs[Long]("neighbor_id") == 900001L &&
      hit.head.getAs[Double]("cos_sim") == 1.0, s"planted twin missed: ${hit.toSeq}")
  }

  test("IvfIndex.append folds new vectors into the existing cells") {
    import spark.implicits._
    val root = TestFixtures.tmpDir("ivf-append").toString
    IvfIndex.build(emb, "vec_id", "embedding", root, numCentroids = 8)
    val before = spark.read.parquet(s"$root/vectors").count()
    // new vectors: an exact copy of vec 5 (new id) plus its negation
    val v5 = emb.filter(F.col("vec_id") === 5L)
      .head().getSeq[Float](1).map(_.toDouble).toArray
    val fresh = Seq(
      (9100L, v5.toSeq),
      (9101L, v5.map(-_).toSeq)).toDF("vec_id", "embedding")
    IvfIndex.append(fresh, "vec_id", "embedding", root, epoch = 0L)
    assert(spark.read.parquet(s"$root/vectors").count() == before + 2)
    // a replayed fold of the same epoch overwrites, never duplicates —
    // a doubled id would occupy two top-k slots and displace a true
    // neighbor
    IvfIndex.append(fresh, "vec_id", "embedding", root, epoch = 0L)
    assert(spark.read.parquet(s"$root/vectors").count() == before + 2,
      "replayed append must be idempotent")
    // probing ALL cells is exact: the appended copy must rank at cos 1.0
    val top = IvfIndex.topKByVector(spark, root, v5, k = 2, nProbe = 8).collect()
    val ids = top.map(_.getAs[Long]("neighbor_id")).toSet
    assert(ids.contains(9100L), s"appended copy missing from $ids")
    assert(top.forall(r => r.getAs[Long]("neighbor_id") != 9100L ||
      r.getAs[Double]("cos_sim") == 1.0))
    // the copy landed in the same cell as its source vector
    val cells = spark.read.parquet(s"$root/vectors")
      .filter(F.col("id").isin(5L, 9100L))
      .select("cell").distinct().count()
    assert(cells == 1, "identical vectors must be assigned the same cell")
  }

  test("IvfIndex.append rejects re-used ids and pre-epoch layouts") {
    import spark.implicits._
    val root = TestFixtures.tmpDir("ivf-guards").toString
    IvfIndex.build(emb, "vec_id", "embedding", root, numCentroids = 8)
    // id 5 is already indexed (as a different vector) — a silent second
    // row would occupy two top-k slots and make topK's id lookup
    // nondeterministic; the guard throws instead (replays of the SAME
    // epoch pass: the guard excludes it — covered by the append test)
    val rnd = new scala.util.Random(43L)
    val collide = Seq((5L, Array.fill(64)(rnd.nextGaussian()).toSeq))
      .toDF("vec_id", "embedding")
    val boom = intercept[IllegalArgumentException] {
      IvfIndex.append(collide, "vec_id", "embedding", root, epoch = 3L)
    }
    assert(boom.getMessage.contains("unique"))
    // the same vec_id arriving TWICE in one batch (e.g. one id in two
    // files of a single trigger) passes the cross-epoch join — it only
    // sees OTHER epochs — so the batch-internal guard must throw first,
    // not land the id twice in this epoch's partition
    val intraDup = Seq(
      (9400L, Array.fill(64)(rnd.nextGaussian()).toSeq),
      (9400L, Array.fill(64)(rnd.nextGaussian()).toSeq)).toDF("vec_id", "embedding")
    val intraBoom = intercept[IllegalArgumentException] {
      IvfIndex.append(intraDup, "vec_id", "embedding", root, epoch = 4L)
    }
    assert(intraBoom.getMessage.contains("internally duplicated"))

    // a legacy (pre-epoch) layout must fail fast: one epoch-style append
    // into vectors/cell=... would brick every subsequent read
    val legacyRoot = TestFixtures.tmpDir("ivf-legacy").toString
    IvfIndex.build(emb, "vec_id", "embedding", legacyRoot, numCentroids = 8)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(legacyRoot, "vectors", "cell=0"))
    val fresh = Seq((9500L, Array.fill(64)(rnd.nextGaussian()).toSeq))
      .toDF("vec_id", "embedding")
    val layoutBoom = intercept[IllegalArgumentException] {
      IvfIndex.append(fresh, "vec_id", "embedding", legacyRoot, epoch = 0L)
    }
    assert(layoutBoom.getMessage.contains("pre-epoch layout"))
  }

  test("IvfIndex.compact folds cold epochs: same answers, fewer files, replay-idempotent") {
    import spark.implicits._
    val root = TestFixtures.tmpDir("ivf-compact").toString
    IvfIndex.build(emb, "vec_id", "embedding", root, numCentroids = 8)
    val rnd = new scala.util.Random(53L)
    def randVec() = Array.fill(64)(rnd.nextGaussian()).toSeq
    (0 until 5).foreach { e =>
      val batch = (0 until 20).map(i => (10000L + e * 100 + i, randVec()))
        .toDF("vec_id", "embedding")
      IvfIndex.append(batch, "vec_id", "embedding", root, epoch = e.toLong)
    }
    def parquetFiles() = {
      val dir = java.nio.file.Paths.get(root, "vectors")
      val s = java.nio.file.Files.walk(dir)
      try s.filter(p => p.toString.endsWith(".parquet")).count()
      finally s.close()
    }
    def epochDirs() = new java.io.File(root, "vectors").listFiles().toSeq
      .map(_.getName).filter(_.startsWith("epoch="))
      .map(_.stripPrefix("epoch=").toLong).toSet
    val q = emb.filter(F.col("vec_id") === 3L)
      .head().getSeq[Float](1).map(_.toDouble).toArray
    def answer() = IvfIndex.topKByVector(spark, root, q, k = 10, nProbe = 8)
      .collect().map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos_sim"))).toSeq
    val before = answer()
    val rowsBefore = spark.read.parquet(s"$root/vectors").count()
    val filesBefore = parquetFiles()

    // epochs <= 3 fold into the consolidated partition; epoch 4 stays hot
    IvfIndex.compact(spark, root, upToEpoch = 3L)
    assert(epochDirs() == Set(-1L, 4L), s"unexpected epochs: ${epochDirs()}")
    assert(answer() == before, "compaction changed a probe answer")
    assert(spark.read.parquet(s"$root/vectors").count() == rowsBefore)
    assert(parquetFiles() < filesBefore,
      s"file count not reduced: $filesBefore -> ${parquetFiles()}")

    // replaying the SAME compaction (crash-after-full-delete regime)
    // converges to the identical index
    IvfIndex.compact(spark, root, upToEpoch = 3L)
    assert(answer() == before)
    assert(spark.read.parquet(s"$root/vectors").count() == rowsBefore)

    // crash-MID-delete regime: the fold committed but a source epoch's
    // dir survived the crash, so its rows exist in BOTH the consolidated
    // partition and their old epoch. The re-run's dropDuplicates must
    // fold the stragglers away, not double them.
    // localCheckpoint severs the lineage so the write below does not
    // read from its own output path
    val stale = spark.read.parquet(s"$root/vectors")
      .filter(F.col("id").between(10100L, 10199L)) // epoch 1's original batch
      .select("id", "vec", "nrm", "q_scale", "q_codes", "cell")
      .withColumn("epoch", F.lit(1L)).localCheckpoint(true)
    assert(stale.count() == 20)
    stale.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("epoch", "cell").parquet(s"$root/vectors")
    assert(spark.read.parquet(s"$root/vectors").count() == rowsBefore + 20,
      "fixture failed to plant the stale source epoch")
    IvfIndex.compact(spark, root, upToEpoch = 3L)
    assert(epochDirs() == Set(-1L, 4L))
    assert(answer() == before, "mid-delete replay changed a probe answer")
    assert(spark.read.parquet(s"$root/vectors").count() == rowsBefore,
      "stale source rows must fold away, not duplicate")

    // the consolidated digest still guards: a compacted id cannot be re-used
    val boom = intercept[IllegalArgumentException] {
      IvfIndex.append(Seq((10001L, randVec())).toDF("vec_id", "embedding"),
        "vec_id", "embedding", root, epoch = 9L)
    }
    assert(boom.getMessage.contains("unique"))
    // and a genuinely fresh append after compaction still works
    IvfIndex.append(Seq((20000L, randVec())).toDF("vec_id", "embedding"),
      "vec_id", "embedding", root, epoch = 9L)
    assert(spark.read.parquet(s"$root/vectors").count() == rowsBefore + 1)
  }

  test("IvfIndex.rebuild refits drifted centroids: balance restored, answers exact") {
    import spark.implicits._
    val root = TestFixtures.tmpDir("ivf-rebuild").toString
    // seed retuned 59 → 61 (round-16): build's bounded local-fit sample
    // is now hash-ordered instead of a partition prefix, which moved the
    // fixture's near-origin centroids enough that the drifted mode split
    // two cells (share 0.63 < the 0.7 the fixture asserts). The rebuild
    // contract under test (rebalance + exact all-probe answers) is
    // seed-independent; the seed only pins the drift geometry.
    val rnd = new scala.util.Random(61L)
    def near(offset: Double) =
      Array.tabulate(8)(d => rnd.nextGaussian() + (if (d == 0) offset else 0.0)).toSeq
    // build on one mode; then sustained appends arrive from a SHIFTED mode
    val corpus = (0 until 100).map(i => (i.toLong, near(0.0))).toDF("vec_id", "embedding")
    IvfIndex.build(corpus, "vec_id", "embedding", root, numCentroids = 4)
    (0 until 3).foreach { e =>
      val drifted = (0 until 100).map(i => (1000L + e * 100 + i, near(15.0)))
        .toDF("vec_id", "embedding")
      IvfIndex.append(drifted, "vec_id", "embedding", root, epoch = e.toLong)
    }
    // all build-time centroids sit near the origin, so the drifted mode
    // piles into whichever single cell leans furthest along dim 0
    def maxCellShare(r: String): Double = {
      val counts = spark.read.parquet(s"$r/vectors").groupBy("cell").count()
        .collect().map(_.getAs[Long]("count"))
      counts.max.toDouble / counts.sum
    }
    val shareBefore = maxCellShare(root)
    assert(shareBefore >= 0.7,
      s"fixture failed to drift: max cell share $shareBefore")

    val newRoot = TestFixtures.tmpDir("ivf-rebuilt").toString
    IvfIndex.rebuild(spark, root, newRoot, numCentroids = 4)
    val shareAfter = maxCellShare(newRoot)
    assert(shareAfter < shareBefore && shareAfter <= 0.5,
      s"rebuild did not rebalance: $shareBefore -> $shareAfter")
    assert(spark.read.parquet(s"$newRoot/vectors").count() == 400)

    // all-probe answers are exact on both, so they must agree
    val q = near(15.0).toArray
    def top(r: String) = IvfIndex.topKByVector(spark, r, q, k = 10, nProbe = 4)
      .collect().map(x => (x.getAs[Long]("neighbor_id"), x.getAs[Double]("cos_sim"))).toSeq
    assert(top(newRoot) == top(root), "rebuild changed the exact all-probe answer")
    // the rebuilt index carries a fresh digest — the id guard still holds
    val boom = intercept[IllegalArgumentException] {
      IvfIndex.append(Seq((1000L, near(0.0))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", newRoot, epoch = 100L)
    }
    assert(boom.getMessage.contains("unique"))
  }

  test("currentRoot resolves every instant of a generation flip, including the crash window") {
    import spark.implicits._
    val handle = TestFixtures.tmpDir("ivf-flip").toString
    val vecs = (0 until 40).map(i =>
      (i.toLong, Seq.tabulate(8)(d => (i * 8 + d).toDouble))).toDF("vec_id", "embedding")
    IvfIndex.build(vecs, "vec_id", "embedding", handle, numCentroids = 2)
    assert(IvfIndex.currentRoot(spark, handle) == handle, "no pointer yet → the base")

    val gen1 = s"$handle/gen-1"
    IvfIndex.rebuild(spark, handle, gen1, numCentroids = 2)
    IvfIndex.flipCurrent(spark, handle, gen1)
    assert(IvfIndex.currentRoot(spark, handle) == gen1)

    // simulate a crash in flipCurrent's delete→rename window for the
    // NEXT flip: the fully-written tmp exists, CURRENT is gone. The
    // resolver must follow the tmp — the base generation may already be
    // retired, so falling back to the handle would read deleted data.
    val gen2 = s"$handle/gen-2"
    IvfIndex.rebuild(spark, gen1, gen2, numCentroids = 2)
    val fs = new org.apache.hadoop.fs.Path(handle)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$handle/CURRENT.tmp"), true)
    try out.write(gen2.getBytes("UTF-8")) finally out.close()
    fs.delete(new org.apache.hadoop.fs.Path(s"$handle/CURRENT"), false)
    assert(IvfIndex.currentRoot(spark, handle) == gen2,
      "mid-flip window must resolve the complete tmp pointer")
    // and a completed flip from the same state converges normally
    IvfIndex.flipCurrent(spark, handle, gen2)
    assert(IvfIndex.currentRoot(spark, handle) == gen2)
    assert(spark.read.parquet(
      s"${IvfIndex.currentRoot(spark, handle)}/vectors").count() == 40)
  }

  test("IVF+SQ8 quantized probe equals the float probe over the same cells") {
    val root = TestFixtures.tmpDir("ivf-sq8").toString
    IvfIndex.build(emb, "vec_id", "embedding", root, numCentroids = 8)
    val q = emb.filter(F.col("vec_id") === 3L)
      .head().getSeq[Float](1).map(_.toDouble).toArray
    Seq(2, 4).foreach { nProbe =>
      val exact = IvfIndex.topKByVector(spark, root, q, k = 10, nProbe)
        .collect().map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos_sim")))
      val quant = IvfIndex.topKByVectorQuantized(spark, root, q, k = 10, nProbe)
        .collect().map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos_sim")))
      assert(quant.sameElements(exact), s"nProbe=$nProbe: $quant != $exact")
    }
  }

  test("IvfIndex.topKByVector finds an indexed vector at cos 1.0") {
    val root = TestFixtures.tmpDir("ivf-byvec").toString
    IvfIndex.build(emb, "vec_id", "embedding", root, numCentroids = 8)
    val q = emb.filter(F.col("vec_id") === 3L)
      .select(VectorFunctions.asDouble(F.col("embedding")))
      .head().getAs[Seq[Double]](0).toArray
    val top = IvfIndex.topKByVector(spark, root, q, k = 1).collect()
    assert(top.head.getAs[Long]("neighbor_id") == 3L)
    assert(top.head.getAs[Double]("cos_sim") == 1.0)
  }

  test("cosinePairsBlocked covers every unordered pair exactly once (any block count)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11L)
    val n = 60
    val df = (0 until n).map(i => (i.toLong, Array.fill(8)(rnd.nextGaussian())))
      .toDF("vec_id", "embedding")
    // threshold -1 admits ALL pairs, so coverage must be exhaustive:
    // n(n-1)/2 rows, no duplicates — for degenerate (1), uneven (3), and
    // even (8) block counts
    for (blocks <- Seq(1, 3, 8)) {
      val rows = Similarity.cosinePairsBlocked(df, "vec_id", "embedding", -1.0, blocks)
        .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.length == n * (n - 1) / 2, s"blocks=$blocks missed/duplicated pairs")
      assert(rows.distinct.length == rows.length, s"blocks=$blocks emitted duplicates")
      assert(rows.forall { case (a, b) => a < b })
    }
    val brute = Similarity.cosinePairs(df, "vec_id", "embedding", 0.2)
      .select("a_id", "b_id", "cos_sim").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val blocked = Similarity.cosinePairsBlocked(df, "vec_id", "embedding", 0.2)
      .select("a_id", "b_id", "cos_sim").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(blocked == brute, "blocked distribution changed the answer")
  }

  test("lshMultiProbeTopK returns true cosines; full recall on a tight cluster") {
    import spark.implicits._
    // 10 clusters × 5 members (dim matches the operator's default 64)
    val rnd = new scala.util.Random(3L)
    val dim = 64
    val rows = (0 until 10).flatMap { c =>
      val base = Array.fill(dim)(rnd.nextGaussian())
      (0 until 5).map { m =>
        (c * 5L + m, base.map(_ + rnd.nextGaussian() * 0.02))
      }
    }
    val df = rows.toDF("vec_id", "embedding")
    val res = Similarity.lshMultiProbeTopK(df, "vec_id", "embedding", queryId = 0L, k = 4)
      .collect()
    val brute = Similarity.cosineTopK(df, "vec_id", "embedding", 0L, 49).collect()
      .map(r => r.getAs[Long]("neighbor_id") -> r.getAs[Double]("cos_sim")).toMap
    // candidate values are exact (the probe only prunes, never alters)
    res.foreach { r =>
      assert(brute(r.getAs[Long]("neighbor_id")) == r.getAs[Double]("cos_sim"))
    }
    // near-identical vectors share the query's cell (hamming 0 <= 1), so
    // the probe set must contain all 4 cluster mates of vec 0
    assert(res.map(_.getAs[Long]("neighbor_id")).toSet == Set(1L, 2L, 3L, 4L),
      s"cluster mates escaped the probe set: ${res.map(_.get(0)).mkString(",")}")
  }

  test("IvfIndex.cellLocalPairs: exact cosines, subset of all-pairs, monotone in nProbe") {
    val root = TestFixtures.tmpDir("ivf-pairs").toString
    IvfIndex.build(emb, "vec_id", "embedding", root)
    val exact = Similarity.cosinePairsBlocked(emb, "vec_id", "embedding", 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    def pairs(nProbe: Int): Map[(Long, Long), Double] =
      IvfIndex.cellLocalPairs(spark, root, 0.4, nProbe).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val p1 = pairs(1)
    val p2 = pairs(2)
    assert(p1.nonEmpty, "cell-local probe found no pairs at all")
    // the probe only prunes: every survivor carries its true cosine
    p2.foreach { case (k, c) => assert(exact(k) == c, s"wrong cosine for $k") }
    // probe lists are ordered prefixes, so the pair set grows with nProbe
    assert(p1.keySet.subsetOf(p2.keySet), "nProbe=2 lost an nProbe=1 pair")
    info(f"cell-local recall vs exact: nProbe=1 ${p1.size.toDouble / exact.size}%.2f, " +
      f"nProbe=2 ${p2.size.toDouble / exact.size}%.2f (${exact.size} true pairs)")
  }

  test("semanticDedup: clusters consistent with the pair list; LSH tier refines exact") {
    val n = emb.count()
    val res = Similarity.semanticDedup(emb, "vec_id", "embedding", minCos = 0.4)
    val rows = res.collect()
    // total: every vector labeled exactly once
    assert(rows.length == n)
    assert(rows.map(_.getAs[Long]("vec_id")).distinct.length == n)
    val compOf = rows.map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("component")).toMap
    // the component label is the min-id member, and exactly it is the rep
    rows.foreach { r =>
      val (id, comp) = (r.getAs[Long]("vec_id"), r.getAs[Long]("component"))
      assert(comp <= id)
      assert((r.getAs[Int]("is_rep") == 1) == (id == comp))
    }
    // every near-dup pair is co-assigned
    val pairs = Similarity.cosinePairsBlocked(emb, "vec_id", "embedding", 0.4)
      .select("a_id", "b_id").collect()
    assert(pairs.nonEmpty, "threshold 0.4 found no pairs — spec corpus changed?")
    pairs.foreach { p =>
      assert(compOf(p.getLong(0)) == compOf(p.getLong(1)))
    }
    // cluster sizes count the members that carry the label
    val sizes = rows.groupBy(_.getAs[Long]("component")).view.mapValues(_.length)
    rows.foreach { r =>
      assert(r.getAs[Long]("cluster_size") == sizes(r.getAs[Long]("component")))
    }
    // scale tier: LSH candidate pairs are a SUBSET of the exact pair list,
    // so LSH clusters can only split exact clusters, never merge across
    val lshPairs = Similarity.rpLshNearDupPairs(emb, "vec_id", "embedding", 0.4, dim = 64)
    val lshRes = Similarity.semanticDedup(emb, "vec_id", "embedding", 0.4,
      candidatePairs = Some(lshPairs)).collect()
    val lshComp = lshRes.map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("component")).toMap
    lshComp.groupBy(_._2).values.foreach { members =>
      assert(members.keys.map(compOf).toSet.size == 1,
        "LSH-tier cluster straddles two exact clusters")
    }
  }

  test("clusterStratifiedSample: per-cell quota, hash order, determinism, coverage") {
    val res = Similarity.clusterStratifiedSample(emb, "vec_id", "embedding", perCell = 3)
    val rows = res.collect()
    assert(rows.map(_.getAs[Long]("vec_id")).distinct.length == rows.length)
    rows.groupBy(_.getAs[Int]("cell")).foreach { case (_, members) =>
      assert(members.length <= 3)
      assert(members.map(_.getAs[Int]("rank")).sorted.sameElements(1 to members.length))
    }
    // deterministic across runs
    val again = Similarity.clusterStratifiedSample(emb, "vec_id", "embedding", perCell = 3)
      .collect()
    assert(rows.map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet ==
      again.map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet)
    // a quota >= corpus keeps everything, and the perCell=3 run covers
    // exactly the same cells (no stratum is dropped by the quota)
    val full = Similarity.clusterStratifiedSample(emb, "vec_id", "embedding",
      perCell = 100000).collect()
    assert(full.length == emb.count())
    assert(rows.map(_.getAs[Int]("cell")).toSet == full.map(_.getAs[Int]("cell")).toSet)
  }

  test("two-level assignment: coarseProbes=G is exactly the flat kernel; tight budget agrees; dedup reps identical") {
    val root = TestFixtures.tmpDir("ivf-twolevel").toString
    IvfIndex.build(emb, "vec_id", "embedding", root, numCentroids = 16)
    def asg(coarse: Int) = IvfIndex.assignCellsMulti(emb, "vec_id", "embedding", root,
        nProbe = 2, coarseProbes = coarse)
      .collect().map(r => r.getAs[Long]("id") -> r.getSeq[Int](r.fieldIndex("cells"))).toMap
    val flat = asg(0)
    // exploring every coarse group IS the flat kernel — bit-identical
    assert(asg(16) == flat, "coarseProbes covering all groups must equal the flat argmin")
    // a tight coarse budget misassigns only coarse-Voronoi-face vectors.
    // These near-random test embeddings are the WORST case (no cluster
    // structure, constant near-ties across coarse groups), so the pin is
    // mean probe-list overlap, not exact list equality
    val two = asg(2)
    val overlap = flat.map { case (id, cells) =>
      (two(id).toSet intersect cells.toSet).size.toDouble / cells.size
    }.sum / flat.size
    val exactLists = flat.count { case (id, cells) => two(id) == cells }.toDouble / flat.size
    info(f"two-level at coarseProbes=2: mean probe overlap $overlap%.3f, identical lists $exactLists%.3f")
    assert(overlap >= 0.7, f"two-level probe lists diverged too far from exact: $overlap%.3f")
    assert(two.values.forall(_.size == 2), "every vector still gets nProbe cells")
    // what actually matters downstream: semantic dedup over two-level
    // candidates verifies exactly, so representatives match the flat tier
    val repsFlat = Similarity.semanticDedup(emb, "vec_id", "embedding", 0.9,
      candidatePairs = Some(IvfIndex.cellLocalPairs(spark, root, 0.9, nProbe = 2)))
      .filter(F.col("is_rep") === 1).collect().map(_.getAs[Long]("vec_id")).toSet
    val repsTwo = Similarity.semanticDedup(emb, "vec_id", "embedding", 0.9,
      candidatePairs = Some(IvfIndex.cellLocalPairs(spark, root, 0.9, nProbe = 2,
        coarseProbes = 2)))
      .filter(F.col("is_rep") === 1).collect().map(_.getAs[Long]("vec_id")).toSet
    assert(repsTwo == repsFlat, "two-level candidate tier changed the dedup representatives")
  }

  test("two-level accuracy contract: <=0.2% primary-assignment disagreement on clustered data") {
    import spark.implicits._
    // Planted fixture with real cluster structure (24 well-separated
    // centers, tight noise) — the geometry an embedding corpus actually
    // has, unlike the worst-case random fixture above. This pins the
    // DOCUMENTED accuracy of the two-level tier (BENCH_STREAM's +0.07%
    // kept-count delta) as a contract: a kernel edit that degrades
    // coarse routing past 0.2% disagreement fails loudly here.
    val rnd = new scala.util.Random(7)
    val d = 16
    val centers = Array.fill(24, d)(rnd.nextGaussian() * 10.0)
    val planted = (0 until 2400).map { i =>
      val c = centers(i % 24)
      (i.toLong, c.map(x => (x + rnd.nextGaussian() * 0.5).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val root = TestFixtures.tmpDir("ivf-twolevel-acc").toString
    IvfIndex.build(planted, "vec_id", "embedding", root, numCentroids = 24)
    def primary(coarse: Int) = IvfIndex.assignCellsMulti(planted, "vec_id", "embedding",
        root, nProbe = 1, coarseProbes = coarse)
      .collect().map(r => r.getAs[Long]("id") ->
        r.getSeq[Int](r.fieldIndex("cells")).head).toMap
    val flat = primary(0)
    val two = primary(2) // G = round(sqrt(24)) = 5 coarse groups; probe 2
    val disagree = flat.count { case (id, cell) => two(id) != cell }
    info(f"two-level primary disagreement on planted data: $disagree/${flat.size}")
    assert(disagree.toDouble / flat.size <= 0.002,
      s"two-level tier degraded: $disagree/${flat.size} primary assignments diverge (>0.2%)")
  }

  test("two-level matrix kernel is bit-identical to the two-level literal kernel") {
    // assignCellsMulti(coarseProbes>0) routes through
    // TwoLevelNearestCellsExpression since round 13; the historical
    // CASE-chain literal kernel is the independent cross-check — both
    // consume the same driver-side twoLevelStructure, so every
    // (coarseProbes, nProbe) point must match bit for bit, ties and
    // auto-raised probe budgets included
    val root = TestFixtures.tmpDir("ivf-twolevel-expr").toString
    IvfIndex.build(emb, "vec_id", "embedding", root, numCentroids = 24)
    def asMap(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => r.getAs[Long]("id") ->
        r.getAs[scala.collection.Seq[Int]]("cells").toList).toMap
    for ((coarse, nProbe) <- Seq((1, 1), (2, 2), (3, 5), (2, 12), (16, 2))) {
      val expr = asMap(IvfIndex.assignCellsMulti(emb, "vec_id", "embedding", root,
        nProbe, coarseProbes = coarse))
      val literal = asMap(IvfIndex.assignCellsMultiTwoLevelLiteral(
        emb, "vec_id", "embedding", root, nProbe, coarse))
      assert(expr == literal,
        s"two-level kernels diverged at coarseProbes=$coarse nProbe=$nProbe")
    }
  }

  test("join and matrix assignment kernels are bit-identical to the literal kernel, ties included") {
    val root = TestFixtures.tmpDir("ivf-join-kernel").toString
    IvfIndex.build(emb, "vec_id", "embedding", root, numCentroids = 16)
    val cents = IvfIndex.loadCentroids(spark, root)
    def asMap(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => r.getAs[Long]("id") ->
        r.getAs[scala.collection.Seq[Int]]("cells").toList).toMap
    for (nProbe <- Seq(1, 2, 5)) {
      val literal = asMap(IvfIndex.assignCellsMulti(emb, "vec_id", "embedding", root, nProbe))
      val joined = asMap(IvfIndex.assignCellsMultiJoin(emb, "vec_id", "embedding", root, nProbe))
      val matrix = asMap(IvfIndex.assignCellsMultiExpr(emb, "vec_id", "embedding", cents, nProbe))
      assert(joined == literal,
        s"join kernel diverged from the literal kernel at nProbe=$nProbe")
      assert(matrix == literal,
        s"matrix kernel diverged from the literal kernel at nProbe=$nProbe")
    }
    // the router: C=16 stays on the literal kernel (parity proven above);
    // any index past the threshold serves the SAME answers through the
    // matrix kernel, which the StreamingSpec large-C gate run drives end
    // to end and the per-nProbe parity above pins bit-for-bit (the join
    // kernel stays as the independent cross-check route)
    assert(IvfIndex.LiteralKernelMaxCells == 64,
      "threshold moved — its measured basis is the LiteralKernelMaxCells scaladoc " +
        "(literal ≈ routed at C=16, ~8× slower at C=128); revisit the parity coverage")
    // nProbe past C must degrade to C cells on every kernel, not throw
    val all = asMap(IvfIndex.assignCellsMulti(emb, "vec_id", "embedding", root, 99))
    val allM = asMap(IvfIndex.assignCellsMultiExpr(emb, "vec_id", "embedding", cents, 99))
    assert(all.values.forall(_.size == 16) && allM == all)
  }

  test("routed large-C assignment stays per-row: duplicate ids reach the loud append guard") {
    import spark.implicits._
    val rnd = new scala.util.Random(11L)
    val root = TestFixtures.tmpDir("ivf-dup-route").toString
    IvfIndex.build(emb, "vec_id", "embedding", root,
      numCentroids = IvfIndex.LiteralKernelMaxCells + 8)
    // same id, DIFFERENT vectors: the round-12 join kernel's groupBy(id)
    // collapsed this pair to one arbitrary (vec, cell) row and slid it
    // past appendAssigned's batch-internal count guard (ADVICE r12); the
    // per-row matrix kernel must surface both rows so the guard throws
    val dup = Seq(
      (77000L, Array.fill(64)(rnd.nextGaussian()).toSeq),
      (77000L, Array.fill(64)(rnd.nextGaussian()).toSeq)).toDF("vec_id", "embedding")
    val assigned = IvfIndex.assignCells(dup, "vec_id", "embedding", root)
    assert(assigned.count() == 2, "routed kernel must not collapse duplicate-id rows")
    val boom = intercept[IllegalArgumentException] {
      IvfIndex.append(dup, "vec_id", "embedding", root, epoch = 1L)
    }
    assert(boom.getMessage.contains("internally duplicated"))
  }

  test("calibrateProbes picks the smallest nProbe meeting the recall target; probe=C is exact") {
    val root = TestFixtures.tmpDir("ivf-calib").toString
    IvfIndex.build(emb, "vec_id", "embedding", root, numCentroids = 16)
    val cal = IvfIndex.calibrateProbes(spark, root, emb, "vec_id", "embedding",
      k = 10, targetRecall = 0.9, sampleQueries = 24)
    info(s"calibration curve (nProbe, recall, sec): ${cal.curve.map(c => (c._1, c._2))}")
    assert(cal.targetMet, s"sweep must terminate met (probe=C is exact): $cal")
    assert(cal.recall >= 0.9)
    // the sweep is a doubling ladder ending at the chosen probe
    assert(cal.curve.last._1 == cal.nProbe)
    assert(cal.curve.map(_._1) == cal.curve.map(_._1).sorted.distinct, "strictly increasing sweep")
    // every sweep point below the chosen one measured UNDER target
    // (otherwise a smaller budget would have been chosen)
    assert(cal.curve.init.forall(_._2 < 0.9), s"non-minimal probe choice: ${cal.curve}")
    // recalibrating is deterministic: same sample, same curve shape
    val again = IvfIndex.calibrateProbes(spark, root, emb, "vec_id", "embedding",
      k = 10, targetRecall = 0.9, sampleQueries = 24)
    assert(again.nProbe == cal.nProbe && again.recall == cal.recall)
    // an unreachable target degrades to the exact configuration, loudly
    // marked rather than silently below-target
    val exact = IvfIndex.calibrateProbes(spark, root, emb, "vec_id", "embedding",
      k = 10, targetRecall = 1.0, sampleQueries = 8)
    assert(exact.nProbe == 16 && exact.recall == 1.0 && exact.targetMet,
      s"probe=C must equal brute force: $exact")
  }

  test("stored serving config: calibrateAndStore persists the dial; serving defaults resolve it") {
    val root = TestFixtures.tmpDir("ivf-serving").toString
    IvfIndex.build(emb, "vec_id", "embedding", root, numCentroids = 16)
    // before calibration: the sentinel default falls back to the
    // historical 4-probe dial
    assert(IvfIndex.servingProbes(spark, root).isEmpty)
    val q = emb.filter(F.col("vec_id") === 7L).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble).toArray
    val preDefault = IvfIndex.topKByVector(spark, root, q, 5).collect().toSeq
    val preExplicit = IvfIndex.topKByVector(spark, root, q, 5, nProbe = 4).collect().toSeq
    assert(preDefault == preExplicit, "uncalibrated default must be the 4-probe dial")
    // calibrate and store; the default dial becomes the contract dial
    val cal = IvfIndex.calibrateAndStore(spark, root, emb, "vec_id", "embedding",
      k = 10, targetRecall = 0.9, sampleQueries = 24)
    assert(IvfIndex.servingProbes(spark, root).contains(cal.nProbe))
    val post = IvfIndex.topKByVector(spark, root, q, 5).collect().toSeq
    val postExplicit = IvfIndex.topKByVector(spark, root, q, 5, nProbe = cal.nProbe)
      .collect().toSeq
    assert(post == postExplicit, "serving default must resolve the stored config")
    assert(cal.nProbe > 4, s"on this corpus the contract dial exceeds the old default: $cal")
    // the stored dial must actually change SOME served answer (recall at
    // 4 probes is well under target here, so across a handful of queries
    // at least one top-5 must differ)
    val differs = Seq(0L, 7L, 17L, 42L, 101L).exists { qid =>
      val qv = emb.filter(F.col("vec_id") === qid).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble).toArray
      IvfIndex.topKByVector(spark, root, qv, 5).collect().toSeq !=
        IvfIndex.topKByVector(spark, root, qv, 5, nProbe = 4).collect().toSeq
    }
    assert(differs, "the stored dial changed no served answer across five probes")
    // the batch api resolves the same config
    val joined = IvfIndex.knnJoin(spark, root, emb.filter(F.col("vec_id") === 7L),
      "vec_id", "embedding", k = 5).collect().toSeq
    val joinedExplicit = IvfIndex.knnJoin(spark, root, emb.filter(F.col("vec_id") === 7L),
      "vec_id", "embedding", k = 5, nProbe = cal.nProbe).collect().toSeq
    assert(joined.map(_.toSeq) == joinedExplicit.map(_.toSeq))
    // EVERY serving entry point resolves the stored dial — the quantized
    // tier and the by-id lookup too, not just the float paths
    val quant = IvfIndex.topKByVectorQuantized(spark, root, q, 5).collect().toSeq
    val quantExplicit = IvfIndex.topKByVectorQuantized(spark, root, q, 5,
      nProbe = cal.nProbe).collect().toSeq
    assert(quant == quantExplicit, "quantized serving must resolve the stored config")
    assert(quant != IvfIndex.topKByVectorQuantized(spark, root, q, 5, nProbe = 1)
      .collect().toSeq, "quantized dial must actually change the 1-probe answer")
    val byId = IvfIndex.topK(spark, root, queryId = 7L, k = 5).collect().toSeq
    val byIdExplicit = IvfIndex.topK(spark, root, queryId = 7L, k = 5,
      nProbe = cal.nProbe).collect().toSeq
    assert(byId == byIdExplicit, "by-id serving must resolve the stored config")
  }

  test("serving config is cached per root and invalidated by recalibration and retirement") {
    val root = TestFixtures.tmpDir("ivf-serving-cache").toString
    IvfIndex.build(emb, "vec_id", "embedding", root, numCentroids = 8)
    assert(IvfIndex.servingConfig(spark, root).isEmpty)
    IvfIndex.calibrateAndStore(spark, root, emb, "vec_id", "embedding",
      k = 10, targetRecall = 0.9, sampleQueries = 16)
    // calibrateAndStore must update the cache IN PLACE (the pre-read
    // above negative-cached this root)
    val sc = IvfIndex.servingConfig(spark, root)
    assert(sc.exists(c => c.k == 10 && c.targetRecall == 0.9 && c.nProbe >= 1))
    // a cached read does not re-open the file: delete it behind the
    // cache's back and the dial must still resolve (single-maintainer
    // discipline — cross-process writers call invalidateServing)
    val f = new java.io.File(s"$root/serving.parquet")
    def deleteAll(x: java.io.File): Unit = {
      Option(x.listFiles).foreach(_.foreach(deleteAll)); x.delete(); ()
    }
    deleteAll(f)
    assert(IvfIndex.servingConfig(spark, root) == sc, "cache must serve without the file")
    IvfIndex.invalidateServing(root)
    assert(IvfIndex.servingConfig(spark, root).isEmpty,
      "invalidation must force a re-read that now sees no config")
  }
}
