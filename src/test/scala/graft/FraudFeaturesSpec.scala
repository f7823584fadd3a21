package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.FraudFeatures._
import graft.ingest.Debezium
import graft.layers.Silver

/** [[graft.functions.FraudFeatures.withFeatures]] builds its columns in one
  * projection; it must stay equal to the chained `withColumn` formulation
  * kept here as the reference.
  */
class FraudFeaturesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.runtime.GraftSession
    .builder("graft-test", "8").getOrCreate()

  private def chained(df: DataFrame): DataFrame = {
    val ts = F.col("trans_timestamp")
    df
      .withColumn("distance_km",
        distanceKm(F.col("lat"), F.col("long"), F.col("merch_lat"), F.col("merch_long")))
      .withColumn("age", age(ts, F.col("dob")))
      .withColumn("hour", hourOf(ts))
      .withColumn("day_of_week", dayOfWeek(ts))
      .withColumn("is_weekend", isWeekend(ts))
      .withColumn("hour_sin", hourSin(ts))
      .withColumn("hour_cos", hourCos(ts))
      .withColumn("log_amount", logAmount(F.col("amt")))
      .withColumn("is_zero_amount", isZeroAmount(F.col("amt")))
      .withColumn("is_high_amount", isHighAmount(F.col("amt")))
      .withColumn("amount_bin", amountBin(F.col("amt")))
      .withColumn("gender_encoded", genderEncoded(F.col("gender")))
      .withColumn("is_distant_transaction", isDistantTransaction(F.col("distance_km")))
      .withColumn("is_late_night", isLateNight(ts))
      .withColumn("year", F.year(ts))
      .withColumn("month", F.month(ts))
      .withColumn("day", F.dayofmonth(ts))
      .withColumn("ingestion_time", F.current_timestamp())
  }

  test("withFeatures equals the chained withColumn formulation: schema and rows") {
    import spark.implicits._
    // null coordinates, a zero amount, the risk-ladder smoke rows
    val lines = TestFixtures.randomRows(200) ++ TestFixtures.smokeRows :+ TestFixtures.tombstone
    val typed = Silver.filled(Silver.typed(Debezium.parse(lines.toDF("json_string"))))
    val one = withFeatures(typed)
    val ref = chained(typed)
    assert(one.schema == ref.schema)
    // ingestion_time is each query's own current_timestamp
    def rows(df: DataFrame) =
      df.drop("ingestion_time").collect().map(_.toSeq).sortBy(_.head.toString).toSeq
    val got = rows(one)
    assert(got.size == 204)
    assert(got == rows(ref))
  }
}
