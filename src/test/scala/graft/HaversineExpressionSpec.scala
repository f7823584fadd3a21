package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite

class HaversineExpressionSpec extends AnyFunSuite {

  lazy val spark: SparkSession =
    graft.runtime.GraftSession.builder("graft-test", "8").getOrCreate()

  test("native expression matches the composed-Column implementation") {
    import spark.implicits._
    val df = Seq(
      (40.7128, -74.0060, 34.0522, -118.2437), // NYC -> LA
      (48.8566, 2.3522, 51.5074, -0.1278),     // Paris -> London
      (0.0, 0.0, 0.0, 0.0)
    ).toDF("a", "b", "c", "d")
    val rows = df.select(
      F.call_function("haversine_km", F.col("a"), F.col("b"), F.col("c"), F.col("d")).as("native"),
      graft.queries.CoreQueries.haversineKm(F.col("a"), F.col("b"), F.col("c"), F.col("d")).as("composed"))
      .collect()
    rows.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-9,
        s"native=${r.getDouble(0)} composed=${r.getDouble(1)}")
    }
    assert(rows(0).getDouble(0) > 3900 && rows(0).getDouble(0) < 4000)
  }

  test("works from SQL and stays inside whole-stage codegen") {
    // parquet-backed input so the projection cannot be constant-folded
    graft.runtime.Tables.load(spark, "/root/testdata/sf0.001", "customer")
      .createOrReplaceTempView("hav_customer")
    val df = spark.sql(
      """SELECT haversine_km(c_custkey % 90 - 45, c_custkey % 360 - 180,
         c_acctbal % 90, c_acctbal % 180) AS km FROM hav_customer""")
    assert(df.count() == 150)
    assert(df.head().getDouble(0) >= 0)
    val codegenned = df.queryExecution.executedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec])
    assert(codegenned, df.queryExecution.executedPlan.toString)
  }

  test("null inputs null the result (null-intolerant semantics)") {
    import spark.implicits._
    val df = Seq((Some(40.0), None: Option[Double])).toDF("a", "b")
      .select(F.call_function("haversine_km", F.col("a"), F.col("b"), F.lit(1.0), F.lit(1.0)).as("km"))
    assert(df.head().isNullAt(0))
  }
}
