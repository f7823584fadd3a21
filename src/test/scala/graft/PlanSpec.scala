package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions — the scale contract: pushdown reaches the scan,
  * pruning trims columns, bucketing removes the shuffle, extensions load.
  */
class PlanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.runtime.GraftSession
    .builder("graft-test", "8")
    .config("spark.sql.warehouse.dir", TestFixtures.tmpDir("warehouse").toString)
    .getOrCreate()
  val sf = "/root/testdata/sf0.001"

  test("filters push down to the parquet scan") {
    val df = graft.runtime.Tables.load(spark, sf, "lineitem")
      .filter(F.col("l_quantity") > 45)
      .select("l_orderkey", "l_quantity")
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]"), scan)
  }

  test("column pruning reaches ReadSchema (2-col projection reads 2 cols)") {
    val df = graft.runtime.Tables.load(spark, sf, "lineitem")
      .select("l_orderkey", "l_extendedprice")
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("ReadSchema: struct<l_orderkey:bigint,l_extendedprice:double>"), scan)
  }

  test("partitioned layer write prunes partitions on the read side") {
    val work = TestFixtures.tmpDir("prune")
    graft.queries.CoreQueries.events(spark, sf)
      .withColumn("d", F.dayofmonth(F.col("ts")))
      .write.partitionBy("d").mode("overwrite").parquet(work.toString)
    val one = spark.read.parquet(work.toString).filter(F.col("d") === 3)
    one.count()
    val scan = one.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(d"), scan)
  }

  test("bucketed tables join without a shuffle") {
    // unique names: the in-memory catalog's warehouse dir outlives the
    // session, so a fixed name collides on LOCATION_ALREADY_EXISTS
    val suffix = System.nanoTime()
    val tOrders = s"b_orders_$suffix"
    val tCustomer = s"b_customer_$suffix"
    graft.runtime.Tables.load(spark, sf, "orders")
      .write.bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable(tOrders)
    graft.runtime.Tables.load(spark, sf, "customer")
      .write.bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable(tCustomer)
    val joined = spark.table(tOrders)
      .join(spark.table(tCustomer).hint("merge"),
        F.col("o_custkey") === F.col("c_custkey"))
    joined.count()
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join should not shuffle:\n$plan")
  }

  test("qe03 blocked all-pairs plans a shuffle join, never a corpus BroadcastNestedLoopJoin") {
    val qe03 = graft.queries.VectorQueries.queries("qe03_cosine_neardup")(spark, sf)
    qe03.count()
    val plan = qe03.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"qe03 regressed to a corpus nested loop:\n$plan")
  }

  test("persisted IvfIndex probe is a partition-pruned scan (cell IN ...)") {
    val root = TestFixtures.tmpDir("ivf-plan").toString
    val emb = graft.runtime.Tables.load(spark, sf, "embeddings")
    graft.operators.IvfIndex.build(emb, "vec_id", "embedding", root, numCentroids = 8)
    val q = Array.fill(64)(0.1)
    val top = graft.operators.IvfIndex.topKByVector(spark, root, q, k = 5, nProbe = 2)
    top.count()
    val plan = top.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell"),
      s"probe did not prune partitions:\n$plan")
  }

  test("IvfIndex.knnJoin plans a pruned scan + broadcast query side, never a cartesian") {
    val root = TestFixtures.tmpDir("ivf-knnjoin-plan").toString
    val emb = graft.runtime.Tables.load(spark, sf, "embeddings")
    graft.operators.IvfIndex.build(emb, "vec_id", "embedding", root, numCentroids = 8)
    val out = graft.operators.IvfIndex.knnJoin(spark, root,
      emb.filter(F.col("vec_id") % 50 === 0), "vec_id", "embedding", k = 3, nProbe = 2)
    out.count()
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell"),
      s"index scan must prune to the probed cells:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"query side must broadcast (a cell-key shuffle join caps parallelism at C):\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"candidate generation must stay cell-equi:\n$plan")
    assert(plan.contains("partial_topk_rows"),
      s"per-query top-k must map-side combine:\n$plan")
  }

  test("decontaminate broadcasts the benchmark shingle relation (corpus side never shuffles pre-agg)") {
    val docs = graft.runtime.Tables.load(spark, sf, "documents")
    val out = graft.operators.Curation.decontaminate(
      docs.filter(F.col("doc_id") % 20 =!= 0),
      docs.filter(F.col("doc_id") % 20 === 0),
      "doc_id", "text", 4)
    out.count()
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark side must be broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus side must not shuffle for the join:\n$plan")
  }

  test("packSequences windows hash-partition by bucket — no corpus-wide single-partition window") {
    val docs = graft.runtime.Tables.load(spark, sf, "documents")
    val packed = graft.operators.Curation.packSequences(
      docs, "doc_id", graft.functions.TextFunctions.tokenCount(F.col("text")),
      budget = 512, bucketSize = 64)
    packed.count()
    val plan = packed.queryExecution.executedPlan.toString
    // the per-doc cumulative sum must run partitioned by __bucket
    assert(plan.contains("hashpartitioning(__bucket"),
      s"within-bucket window lost its hash partitioning:\n$plan")
    // the only SinglePartition exchange allowed is the tiny per-bucket
    // totals relation (its input is an aggregate over __bucket)
    val single = "Exchange SinglePartition".r.findAllIn(plan).size
    assert(single <= 1, s"unexpected single-partition exchanges ($single):\n$plan")
  }

  test("chunkDocuments is fully narrow — no Exchange anywhere in the plan") {
    val docs = graft.runtime.Tables.load(spark, sf, "documents")
    val chunked = graft.operators.Curation.chunkDocuments(
      docs, "doc_id", "text", chunkSize = 60, overlap = 15)
    val plan = chunked.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"chunking must stay shuffle-free (tokenize + explode + slice):\n$plan")
  }

  test("scrubRepeatedSpans counts spans with a map-side partial aggregate, no cartesian") {
    val docs = graft.runtime.Tables.load(spark, sf, "documents")
    val scrubbed = graft.operators.Curation.scrubRepeatedSpans(
      docs, "doc_id", "text", n = 8, minDf = 2)
    scrubbed.count()
    val plan = scrubbed.queryExecution.executedPlan.toString
    // the global span-frequency count must partial-aggregate before its
    // exchange (repeated spans collapse in the combiner where they are
    // common) and candidate generation must stay an equi-join
    assert(plan.contains("partial_count"),
      s"span df count lost its map-side partial phase:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"span scrub must never plan an all-pairs join:\n$plan")
    // the covered-token deletion is an array kernel, not a per-token join
    assert(!plan.toLowerCase.contains("window"),
      s"covered-token test must stay in array land, not a window:\n$plan")
  }

  test("selectByTokenBudget: windows key on the range partition id, prefix joins broadcast") {
    val docs = graft.runtime.Tables.load(spark, sf, "documents")
    val sel = graft.operators.Curation.selectByTokenBudget(
      docs, "doc_id", graft.functions.TextFunctions.qualityScore(F.col("text")),
      graft.functions.TextFunctions.tokenCount(F.col("text")), budget = 4000L)
    sel.count()
    val plan = sel.queryExecution.executedPlan.toString
    // corpus-sized data flows through range + hash-by-__part exchanges;
    // the only SinglePartition exchange allowed is the P-row per-partition
    // totals feeding the prefix window
    assert(plan.contains("rangepartitioning"),
      s"budget selection lost its range partitioning:\n$plan")
    // both the cumsum window and the totals aggregate must read the ONE
    // cached ranged relation — without it, column pruning specializes
    // each branch's exchange subtree, ReuseExchange misses, and the
    // corpus is scanned + range-shuffled twice
    assert("InMemoryTableScan".r.findAllIn(plan).size == 2,
      s"cumsum and totals branches must share the cached ranged relation:\n$plan")
    assert(plan.contains("hashpartitioning(__part"),
      s"per-partition cumsum window lost its __part keying:\n$plan")
    val single = "Exchange SinglePartition".r.findAllIn(plan).size
    assert(single <= 1, s"unexpected single-partition exchanges ($single):\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"the P-row prefix relation must join broadcast:\n$plan")
  }

  test("domainQuota reduces map-side: partial topk_rows runs below the exchange") {
    val docs = graft.runtime.Tables.load(spark, sf, "documents")
    val quota = graft.operators.Curation.domainQuota(
      docs, "doc_id", "lang", graft.functions.TextFunctions.qualityScore(F.col("text")), 25)
    quota.count()
    val plan = quota.queryExecution.executedPlan.toString
    // the aggregate must run as partial (pre-shuffle, <= quota rows per
    // domain per task) + final — a row_number-window formulation would
    // instead sort and shuffle EVERY row of every domain
    assert(plan.contains("partial_topk_rows"),
      s"topk_rows lost its map-side partial phase:\n$plan")
    assert(!plan.toLowerCase.contains("window"),
      s"quota selection must not fall back to a window sort:\n$plan")
  }

  test("IVF+SQ8 ranking scan never reads the float vector column") {
    val root = TestFixtures.tmpDir("ivf-sq8-plan").toString
    val emb = graft.runtime.Tables.load(spark, sf, "embeddings")
    graft.operators.IvfIndex.build(emb, "vec_id", "embedding", root, numCentroids = 8)
    val q = Array.fill(64)(0.1)
    val top = graft.operators.IvfIndex.topKByVectorQuantized(spark, root, q, k = 5, nProbe = 2)
    top.count()
    // two probed scans: the ranking one must read the quantized columns
    // and NOT the float vec; only the k·margin re-rank scan reads vec
    val schemas = "ReadSchema: [^\n]*".r
      .findAllIn(top.queryExecution.executedPlan.toString).toSeq
    val rankingScans = schemas.filter(s => s.contains("q_codes") && !s.contains("vec:"))
    val rerankScans = schemas.filter(_.contains("vec:"))
    assert(rankingScans.nonEmpty,
      s"no pruned ranking scan found among:\n${schemas.mkString("\n")}")
    assert(rerankScans.forall(!_.contains("q_codes")),
      s"re-rank scan should not drag quantized columns:\n${schemas.mkString("\n")}")
  }

  test("ranking windows partition by their keys — never a global single-partition window") {
    // qd22: in-shard positions window by shard; fully parallel
    val shuffle = graft.queries.TextQueries.queries("qd22_corpus_shuffle")(spark, sf)
    shuffle.count()
    val sPlan = shuffle.queryExecution.executedPlan.toString
    assert(sPlan.contains("hashpartitioning(shard"), s"shard window lost partitioning:\n$sPlan")
    assert(!sPlan.contains("Exchange SinglePartition"),
      s"qd22 must have no single-partition stage:\n$sPlan")
    // qd24: per-doc ranking windows by doc_id; the only single-partition
    // stage allowed is the 1-row corpus-size aggregate
    val tfidf = graft.queries.TextQueries.queries("qd24_tfidf_terms")(spark, sf)
    tfidf.count()
    val tPlan = tfidf.queryExecution.executedPlan.toString
    assert(tPlan.contains("hashpartitioning(doc_id"), s"doc window lost partitioning:\n$tPlan")
    assert("Exchange SinglePartition".r.findAllIn(tPlan).size <= 1,
      s"qd24 has unexpected single-partition stages:\n$tPlan")
  }

  test("qa07/qa08 frame windows key-partition — the ORDER BY is the only single-partition stage") {
    // qa07: trailing-1h range frame windows by user_id; qa08: rank family
    // windows by c_nationkey. In both, the sole SinglePartition exchange
    // allowed is the final presentation ORDER BY.
    for (name <- Seq("qa07_sliding_window", "qa08_rank_family")) {
      val q = graft.queries.AdvancedQueries.queries(name)(spark, sf)
      q.count()
      val plan = q.queryExecution.executedPlan.toString
      val key = if (name.startsWith("qa07")) "user_id" else "c_nationkey"
      assert(plan.contains(s"hashpartitioning($key"),
        s"$name window lost its $key partitioning:\n$plan")
      assert("Exchange SinglePartition".r.findAllIn(plan).size <= 1,
        s"$name has unexpected single-partition stages:\n$plan")
    }
  }

  test("qa06 exact percentiles partial-aggregate below the exchange") {
    val q = graft.queries.AdvancedQueries.queries("qa06_percentiles")(spark, sf)
    q.count()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("partial_percentile"),
      s"percentile must map-side combine (partial_percentile below the exchange):\n$plan")
    assert("Exchange SinglePartition".r.findAllIn(plan).size == 0,
      s"qa06 must shuffle on the group key, not a single partition:\n$plan")
  }

  test("NearDupIndex probe never shuffles the historical relations") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val name = s"ndxp_${System.nanoTime()}"
    val docs = graft.runtime.Tables.load(spark, sf, "documents")
    graft.operators.NearDupIndex.build(
      docs.filter(F.col("doc_id") % 5 =!= 4), "doc_id", "text", name)
    // force the join planner off broadcasts so the bucketed path (the one
    // a 100 TB history actually takes) is what gets asserted
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val probed = graft.operators.NearDupIndex.probe(
        spark, docs.filter(F.col("doc_id") % 5 === 4), "doc_id", "text", name, 0.3)
      probed.count()
      def flatten(p: SparkPlan): Seq[SparkPlan] = {
        val kids = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case s: QueryStageExec => Seq(s.plan)
          case o => o.children
        }
        p +: kids.flatMap(flatten)
      }
      def isIndexScan(p: SparkPlan): Boolean = p match {
        case f: FileSourceScanExec => f.tableIdentifier.exists(_.table.startsWith(name))
        case _ => false
      }
      // raw index rows must flow from scan into their first join/aggregate
      // without an Exchange — shuffles of candidate-sized DERIVATIVES
      // (post-join, post-agg) are fine and expected
      def narrowPathToIndexScan(p: SparkPlan): Boolean = p match {
        case f: FileSourceScanExec => isIndexScan(f)
        case _: org.apache.spark.sql.execution.joins.BaseJoinExec => false
        case _: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => false
        case a: AdaptiveSparkPlanExec => narrowPathToIndexScan(a.executedPlan)
        case s: QueryStageExec => narrowPathToIndexScan(s.plan)
        case o => o.children.exists(narrowPathToIndexScan)
      }
      val all = flatten(probed.queryExecution.executedPlan)
      assert(all.exists(isIndexScan), "expected bucketed index scans in the plan")
      val offending = all.collect {
        case e: ShuffleExchangeExec if narrowPathToIndexScan(e.child) => e
      }
      assert(offending.isEmpty,
        s"historical index relations must not be reshuffled before their first join:\n${probed.queryExecution.executedPlan}")
      // the replay-path probe (excludeEpoch) must keep the invariant: the
      // epoch predicate is partition PRUNING on the scan, not a filter
      // stage that costs the history its bucketed clustering
      val probedEx = graft.operators.NearDupIndex.probe(
        spark, docs.filter(F.col("doc_id") % 5 === 4), "doc_id", "text", name, 0.3,
        excludeEpoch = Some(99L))
      probedEx.count()
      val allEx = flatten(probedEx.queryExecution.executedPlan)
      assert(allEx.exists(isIndexScan), "expected bucketed index scans in the excludeEpoch plan")
      val offendingEx = allEx.collect {
        case e: ShuffleExchangeExec if narrowPathToIndexScan(e.child) => e
      }
      assert(offendingEx.isEmpty,
        s"excludeEpoch probe reshuffled history:\n${probedEx.queryExecution.executedPlan}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("embedding dedup gate: history scan is cell-pruned and joins broadcast, unshuffled") {
    import spark.implicits._
    val root = TestFixtures.tmpDir("ivf-gate-plan").toString
    val emb = graft.runtime.Tables.load(spark, sf, "embeddings")
    graft.operators.IvfIndex.build(emb, "vec_id", "embedding", root, numCentroids = 8)
    // the gate's join shape, exactly as EmbeddingIngestStream builds it:
    // literal cell IN (pruning) + broadcast micro-batch side
    val batch = Seq((9000L, Array.fill(64)(0.1).toSeq)).toDF("vec_id", "embedding")
    val assigned = graft.operators.IvfIndex.assignCells(batch, "vec_id", "embedding", root)
      .withColumn("nrm", F.sqrt(F.call_function("vec_dot", F.col("vec"), F.col("vec"))))
    val cells = assigned.select("cell").distinct().collect().map(_.getInt(0)).toSeq
    val gate = graft.operators.IvfIndex.vectors(spark, root)
      .filter(F.col("cell").isin(cells: _*))
      .join(F.broadcast(assigned.select(F.col("id").as("a_id"), F.col("cell"))), Seq("cell"))
    gate.count()
    val plan = gate.queryExecution.executedPlan.toString
    // a shuffle join on the C-valued cell key would cap parallelism at C
    // tasks; the history scan must also prune unoccupied cells
    assert(plan.contains("BroadcastHashJoin"),
      s"gate must broadcast the micro-batch side:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"history must not shuffle on the cell key:\n$plan")
    assert("PartitionFilters: \\[[^\\]]*cell#".r.findFirstIn(plan).isDefined,
      s"history scan must partition-prune to the batch's cells:\n$plan")
  }

  test("mergeInPlace reads only touched partitions — the literal IN reaches the scan") {
    import spark.implicits._
    val path = TestFixtures.tmpDir("merge-plan").resolve("t").toString
    (1 to 30).map(i => (i.toLong, s"2024-01-${"%02d".format(i % 3 + 1)}", i * 1.0))
      .toDF("id", "day", "v").write.partitionBy("day").parquet(path)
    val source = Seq((1L, "2024-01-01", 9.0)).toDF("id", "day", "v")
    val (touched, merged) = graft.layers.Merge.mergePlan(
      spark, path, source, Seq("id"), "day", None)
    assert(touched == Seq("2024-01-01"))
    merged.count()
    val plan = merged.queryExecution.executedPlan.toString
    // a single touched value simplifies IN → equality; both forms prune
    assert("PartitionFilters: \\[[^\\]]*day#\\d+ (= 2024-01-01|IN \\(2024-01-01)".r
      .findFirstIn(plan).isDefined,
      s"touched-partition predicate did not reach the scan:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"), plan)
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    // The 100 TB regime for fact ⋈ selectively-filtered dim when the dim
    // is too big to broadcast: Spark's InjectRuntimeFilter builds a bloom
    // filter over the dim's join keys and pushes a might_contain probe
    // into the fact side, so most fact rows die before the shuffle. The
    // feature is on by default; what gates it are SIZE thresholds the
    // test-scale data sits below (application side must scan > 10 GB by
    // default) — so the contract to pin is: with thresholds representing
    // the big-data regime, the filter IS injected for this join shape,
    // and the result is unchanged. On a real cluster the defaults fire
    // on exactly the q08-family joins.
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    val saved = keys.map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // dim unbroadcastable
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1KB")
      def join() = graft.runtime.Tables.load(spark, sf, "orders")
        .join(
          graft.runtime.Tables.load(spark, sf, "customer")
            .filter(F.col("c_mktsegment") === "BUILDING"),
          F.col("o_custkey") === F.col("c_custkey"))
        .select("o_orderkey", "c_name")
      val df = join()
      val opt = df.queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain"),
        s"no runtime bloom filter injected:\n$opt")
      val withBloom = df.collect().map(_.toSeq).toSet
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      val without = join().collect().map(_.toSeq).toSet
      assert(withBloom == without && withBloom.nonEmpty,
        "bloom-pruned join changed the result")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("GraftExtensions injects native functions at session build") {
    // every native function and the band-join strategy, with no
    // registration call: they must come from the session build alone
    def assertNative(s: SparkSession): Unit = {
      def one(sql: String) = s.sql(sql).head().get(0)
      val km = one("SELECT haversine_km(40.7128, -74.0060, 34.0522, -118.2437)")
        .asInstanceOf[Double]
      assert(km > 3900 && km < 4000)
      assert(one("SELECT deflate_ratio(repeat('ab', 200))").asInstanceOf[Double] < 0.2)
      assert(one("SELECT nfc_normalize('Cafe\u0301')") == "Caf\u00e9")
      assert(one("SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d))") == 11.0)
      val cents = "array(named_struct('c', 0, 'v', array(1.0d, 0.0d)), " +
        "named_struct('c', 1, 'v', array(5.0d, 0.0d)))"
      assert(s.sql(s"SELECT ivf_nearest_cells(array(4.0d, 0.0d), $cents, 1)")
        .head().getSeq[Int](0) == Seq(1))
      val groups = "array(named_struct('g', array(3.0d, 0.0d), 'm', array(0, 1)))"
      assert(s.sql(s"SELECT ivf_nearest_cells_2l(array(4.0d, 0.0d), $cents, $groups, 1, 1)")
        .head().getSeq[Int](0) == Seq(1))
      assert(s.sql("SELECT topk_rows(named_struct('s', CAST(id AS DOUBLE), 't', id), 2) " +
        "FROM range(5)").head().getSeq[org.apache.spark.sql.Row](0).size == 2)
      assert(s.sql("SELECT freq_items_sketch(CAST(id % 2 AS STRING), 2) FROM range(5)")
        .head().getSeq[org.apache.spark.sql.Row](0).nonEmpty)
      assert(one("SELECT bounded_extremes(id, 2) FROM range(5)") != null)
      val bloom = org.apache.spark.util.sketch.BloomFilter.create(10)
      bloom.putLong(7L)
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      val hex = bos.toByteArray.map(b => f"${b & 0xff}%02X").mkString
      assert(one(s"SELECT graft_bloom_contains(X'$hex', 7L)") == true)
      import s.implicits._
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      val band = graft.plans.BandJoin.join(Seq((1L, t0)).toDF("k", "ts"),
        Seq((1L, t0)).toDF("k2", "ts2"), "k", "k2", "ts", "ts2", 1000000L)
      assert(band.count() == 1)
      assert(band.queryExecution.executedPlan.toString.contains("BandJoin"))
    }
    // a child session of the shared GraftSession session
    assertNative(spark.newSession())
    // a session built elsewhere, through the documented extensions contract
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      assertNative(SparkSession.builder()
        .master("local[2]")
        .appName("ext-test")
        .withExtensions(new graft.plans.GraftExtensions)
        .getOrCreate())
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }
}
