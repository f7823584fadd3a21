package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite

/** Sketch/approximate operators a 100 TB pipeline leans on (exact
  * distinct/quantiles stop being feasible): HLL approx_count_distinct,
  * percentile_approx, and their error bounds on known data.
  */
class SketchSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.runtime.GraftSession
    .builder("graft-test", "8").getOrCreate()
  val sf = "/root/testdata/sf0.01"

  test("approx_count_distinct tracks exact distinct within rsd") {
    val li = graft.runtime.Tables.load(spark, sf, "lineitem")
    val row = li.agg(
      F.countDistinct(F.col("l_orderkey")).as("exact"),
      F.approx_count_distinct(F.col("l_orderkey"), 0.02).as("approx")).head()
    val exact = row.getAs[Long]("exact").toDouble
    val approx = row.getAs[Long]("approx").toDouble
    assert(math.abs(approx - exact) / exact < 0.05,
      s"approx=$approx exact=$exact")
  }

  test("percentile_approx brackets the true median") {
    val o = graft.runtime.Tables.load(spark, sf, "orders")
    val approx = o.agg(F.percentile_approx(F.col("o_totalprice"), F.lit(0.5), F.lit(1000)))
      .head().getDouble(0)
    val sorted = o.select("o_totalprice").orderBy("o_totalprice").collect().map(_.getDouble(0))
    val exact = sorted(sorted.length / 2)
    assert(math.abs(approx - exact) / exact < 0.02, s"approx=$approx exact=$exact")
  }

  test("approxQuantile relative-error contract holds per column") {
    val li = graft.runtime.Tables.load(spark, sf, "lineitem")
    val Array(q25, q75) = li.stat.approxQuantile("l_extendedprice", Array(0.25, 0.75), 0.01)
    assert(q25 < q75)
    val below = li.filter(F.col("l_extendedprice") <= q25).count().toDouble / li.count()
    assert(below > 0.23 && below < 0.27, s"p25 landed at $below")
  }

  // ---- mergeable HLL sketch rollups (operators.Sketches): the stored
  // fine-grained sketch must answer every coarser grain by UNION alone,
  // within HLL error of the exact recount — that re-aggregability is the
  // whole point of persisting sketch binaries instead of exact counts.

  test("sketch rollup estimates per-group distinct within HLL error") {
    import graft.operators.Sketches
    val e = graft.runtime.Tables.load(spark, sf, "events")
    val pre = Sketches.distinctSketchRollup(e, Seq("event_type"), "user_id")
    val exact = e.groupBy("event_type")
      .agg(F.countDistinct(F.col("user_id")).as("exact"))
    val joined = pre.join(exact, "event_type").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val est = r.getAs[Long]("approx_distinct").toDouble
      val ex = r.getAs[Long]("exact").toDouble
      assert(math.abs(est - ex) / ex < 0.05,
        s"${r.getAs[String]("event_type")}: est=$est exact=$ex")
    }
  }

  test("unioned sketches answer the coarser grain without a rescan") {
    import graft.operators.Sketches
    val e = graft.runtime.Tables.load(spark, sf, "events")
      .withColumn("day", F.to_date(F.col("ts")))
    // fine grain: (day, event_type); coarser grains from the SAME pre-agg
    val pre = Sketches.distinctSketchRollup(e, Seq("day", "event_type"), "user_id").cache()
    try {
      val byType = Sketches.mergeToGrain(pre, Seq("event_type"))
      val exactByType = e.groupBy("event_type")
        .agg(F.countDistinct(F.col("user_id")).as("exact"))
      byType.join(exactByType, "event_type").collect().foreach { r =>
        val est = r.getAs[Long]("approx_distinct").toDouble
        val ex = r.getAs[Long]("exact").toDouble
        assert(math.abs(est - ex) / ex < 0.05,
          s"${r.getAs[String]("event_type")}: est=$est exact=$ex")
      }
      // global grain: union of everything vs one direct global count
      val global = Sketches.mergeToGrain(pre, Nil).head().getAs[Long]("approx_distinct")
      val exactGlobal = e.agg(F.countDistinct(F.col("user_id"))).head().getLong(0)
      assert(math.abs(global.toDouble - exactGlobal) / exactGlobal < 0.05,
        s"global est=$global exact=$exactGlobal")
      // grains COMPOSE: merging the by-type sketches again equals the
      // direct global union bit-for-bit (sketch union is associative)
      val composed = Sketches.mergeToGrain(byType, Nil).head().getAs[Long]("approx_distinct")
      assert(composed == global, s"composed=$composed direct=$global")
    } finally pre.unpersist()
  }

  test("global merge of an empty pre-agg estimates 0, not null (pre-first-batch read)") {
    import graft.operators.Sketches
    val e = graft.runtime.Tables.load(spark, sf, "events")
      .withColumn("day", F.to_date(F.col("ts")))
    val emptyPre = Sketches.distinctSketchRollup(
      e.filter(F.lit(false)), Seq("day", "event_type"), "user_id")
    // global-grain agg over zero rows still yields one row; long-typed
    // readers (SketchStream.read) must see 0, not an NPE-inducing null
    val row = Sketches.mergeToGrain(emptyPre, Nil).head()
    assert(!row.isNullAt(row.fieldIndex("approx_distinct")))
    assert(row.getAs[Long]("approx_distinct") == 0L)
    // keyed grain over zero rows stays zero-row (no phantom groups)
    assert(Sketches.mergeToGrain(emptyPre, Seq("event_type")).isEmpty)
  }

  // ---- Misra–Gries heavy hitters (plans.FreqItemsAggregate): a
  // deterministic-error counterpart to HLL — every true heavy hitter is
  // guaranteed present with a valid [count_lo, count_hi] interval.

  private def freqItems(df: org.apache.spark.sql.DataFrame, col: String, k: Int) = {
    df.agg(F.call_function("freq_items_sketch", F.col(col), F.lit(k)).as("fi"))
      .select(F.explode(F.col("fi")).as("s"))
      .select("s.item", "s.count_lo", "s.count_hi")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
  }

  test("freq_items_sketch is exact when distinct items fit in k") {
    import spark.implicits._
    val df = Seq.fill(40)("a") ++ Seq.fill(25)("b") ++ Seq.fill(5)("c")
    val got = freqItems(df.toDF("w").repartition(8), "w", 8).map {
      case (i, lo, hi) => assert(lo == hi, s"$i: lo=$lo hi=$hi should be exact"); i -> lo
    }.toMap
    assert(got == Map("a" -> 40L, "b" -> 25L, "c" -> 5L))
  }

  test("freq_items_sketch guarantees heavy hitters under distributed merge") {
    import spark.implicits._
    // skewed multiset: 3 heavy items + a long tail of singletons
    val words = Seq.fill(500)("the") ++ Seq.fill(300)("of") ++ Seq.fill(200)("and") ++
      (1 to 400).map(i => s"tail_$i")
    val n = words.length
    val k = 10
    val df = new scala.util.Random(42).shuffle(words).toDF("w").repartition(16)
    val exact = words.groupBy(identity).map { case (w, ws) => w -> ws.length.toLong }
    val got = freqItems(df, "w", k)
    val byItem = got.map { case (i, lo, hi) => i -> (lo, hi) }.toMap
    // containment: anything with true count > n/(k+1) must be present
    exact.filter(_._2 > n / (k + 1)).foreach { case (w, c) =>
      assert(byItem.contains(w), s"heavy hitter $w (count $c) missing from $byItem")
    }
    // interval validity for every emitted item
    got.foreach { case (i, lo, hi) =>
      val t = exact(i)
      assert(lo <= t && t <= hi, s"$i: true=$t outside [$lo,$hi]")
      assert(hi - lo <= n / (k + 1) + 1, s"$i: error bound ${hi - lo} too wide")
    }
    assert(got.length <= k)
  }

  test("sketch stream folds batch rollups idempotently; grains answered from stored binaries") {
    import graft.streaming.SketchStream
    val work = TestFixtures.tmpDir("sketch-stream")
    val in = work.resolve("in").toString
    val table = work.resolve("table").toString
    val ckpt = work.resolve("ckpt").toString
    val e = graft.runtime.Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select("event_id", "user_id", "event_type")
    val schema = e.schema

    // batch 0: two thirds of the events
    e.filter(F.col("event_id") % 3 =!= 0).coalesce(1).write.mode("append").parquet(in)
    val q1 = SketchStream.start(spark, in, schema, table, ckpt,
      keyCols = Seq("event_type"), valueCol = "user_id")
    q1.processAllAvailable(); q1.stop()
    // batch 1 after restart: the remaining third (overlapping users —
    // the union must not double count them)
    e.filter(F.col("event_id") % 3 === 0).coalesce(1).write.mode("append").parquet(in)
    val q2 = SketchStream.start(spark, in, schema, table, ckpt,
      keyCols = Seq("event_type"), valueCol = "user_id")
    q2.processAllAvailable(); q2.stop()

    def estimates(): Map[String, Long] =
      SketchStream.read(spark, table, Seq("event_type")).collect()
        .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("approx_distinct")).toMap
    val exact = e.groupBy("event_type").agg(F.countDistinct(F.col("user_id")).as("x"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = estimates()
    assert(got.keySet == exact.keySet)
    exact.foreach { case (t, x) =>
      assert(math.abs(got(t).toDouble - x) / x < 0.05, s"$t: est=${got(t)} exact=$x")
    }
    // global grain from the same store
    val global = SketchStream.read(spark, table, Nil).head().getAs[Long]("approx_distinct")
    val exactGlobal = e.agg(F.countDistinct(F.col("user_id"))).head().getLong(0)
    assert(math.abs(global.toDouble - exactGlobal) / exactGlobal < 0.05)

    // crash replay: re-folding batch 1 (same rows, same id) is a no-op
    val batch1 = spark.read.schema(schema).parquet(in)
      .filter(F.col("event_id") % 3 === 0)
    SketchStream.fold(batch1, 1L, table, Seq("event_type"), "user_id", 12)
    assert(estimates() == got, "replayed fold changed the store")
  }

  test("exactHeavyHitters equals plain GROUP BY/HAVING with vocab >> k (decrement regime)") {
    import spark.implicits._
    // 2000 distinct tail items (1 row each) + 5 planted hitters: the MG
    // counter table (k=16) overflows constantly, so the candidate pass
    // runs its decrement path — and the two-pass result must STILL be
    // exact because k+1=17 > 1/minShare=10
    val rows =
      (0 until 2000).map(i => s"tail_$i") ++
        Seq.fill(900)("hot_a") ++ Seq.fill(700)("hot_b") ++ Seq.fill(500)("hot_c") ++
        Seq.fill(420)("hot_d") ++ Seq.fill(100)("warm_e") // 100 < ceil(0.1*4620)=462
    val df = scala.util.Random.shuffle(rows).toDF("item")
    val got = graft.operators.Sketches.exactHeavyHitters(df, "item", k = 16, minShare = 0.1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = rows.size
    val exact = rows.groupBy(identity).view.mapValues(_.size.toLong)
      .filter(_._2 >= math.ceil(0.1 * n).toLong).toMap
    assert(got == exact, s"got=$got exact=$exact")
    assert(got.keySet == Set("hot_a", "hot_b", "hot_c"), s"n=$n got=$got")
    // contract violations refuse loudly instead of silently under-reporting
    intercept[IllegalArgumentException] {
      graft.operators.Sketches.exactHeavyHitters(df, "item", k = 8, minShare = 0.1)
    }
  }

  test("freq_items_sketch partial-aggregates below the exchange per group") {
    val docs = graft.runtime.Tables.load(spark, sf, "documents")
    val q = docs.groupBy("lang")
      .agg(F.call_function("freq_items_sketch", F.col("source"), F.lit(4)).as("fi"))
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("partial_freq_items_sketch"),
      s"sketch must map-side combine:\n$plan")
  }
}
