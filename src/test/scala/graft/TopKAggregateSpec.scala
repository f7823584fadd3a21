package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class TopKAggregateSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.runtime.GraftSession
    .builder("graft-test", "8").getOrCreate()
  val sf = "/root/testdata/sf0.001"

  test("topk_rows equals the window row_number formulation") {
    val agg = SparkEntry.queries("qa03_topk_aggregate")(spark, sf).collect()
    val win = SparkEntry.queries("q14_window_topn")(spark, sf).collect()
    assert(agg.length == win.length)
    agg.zip(win).foreach { case (a, w) =>
      assert(a.getAs[Int]("c_nationkey") == w.getAs[Int]("c_nationkey"))
      assert(a.getAs[Int]("rn") == w.getAs[Int]("rn"))
      assert(a.getAs[Long]("o_orderkey") == w.getAs[Long]("o_orderkey"))
      assert(a.getAs[Double]("o_totalprice") == w.getAs[Double]("o_totalprice"))
    }
  }

  test("the aggregate runs partially (map-side heaps before the shuffle)") {
    val df = SparkEntry.queries("qa03_topk_aggregate")(spark, sf)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partial_topk_rows"), plan)
  }

  test("serialization round-trips across merge boundaries (many partitions)") {
    import org.apache.spark.sql.{functions => F}
    val big = spark.range(0, 10000, 1, 32) // 32 partitions forces merges
      .select(
        (F.col("id") % 7).as("k"),
        F.struct((F.col("id") % 1000).cast("double").as("s"), F.col("id").as("t")).as("row"))
    val top = big.groupBy("k")
      .agg(F.call_function("topk_rows", F.col("row"), F.lit(5)).as("top"))
      .select(F.col("k"), F.explode(F.col("top.s")).as("s"))
      .collect()
    assert(top.length == 7 * 5)
    // every group's max sort value must be the true group max (999.0-ish)
    top.groupBy(_.getAs[Long]("k")).foreach { case (_, rows) =>
      assert(rows.map(_.getAs[Double]("s")).max >= 995.0)
    }
  }
}
