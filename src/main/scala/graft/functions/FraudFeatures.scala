package graft.functions

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}

/** The silver feature-engineering contract — the reference's signature
  * scalar workload (`spark/app/silver_job.py:50-104`), expressed as pure
  * Column combinators (no UDF: every function here is codegen'd).
  *
  * The reference has THREE inconsistent feature definitions (silver job vs
  * scoring API vs docs — SURVEY §7.4(3)). We declare the silver job the
  * canonical contract and expose the API variant behind [[ApiVariant]],
  * with the discrepancies documented per function.
  */
object FraudFeatures {

  /** Haversine km with the reference's null quirks reproduced exactly
    * (`silver_job.py:37-44`): a missing endpoint zeroes the *delta* term
    * (not the coordinate before subtracting), phi terms coalesce the
    * single coordinate to 0, and the UDF always returns a number — so the
    * caller's null→-1 sentinel (`silver_job.py:57-58`) never fires and an
    * all-null pair yields 0.0. Same atan2 formulation as the reference.
    */
  def distanceKm(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
    val phi1 = F.radians(F.coalesce(lat1, F.lit(0.0)))
    val phi2 = F.radians(F.coalesce(lat2, F.lit(0.0)))
    val dLat = F.when(lat1.isNull || lat2.isNull, F.lit(0.0)).otherwise(F.radians(lat2 - lat1))
    val dLon = F.when(lon1.isNull || lon2.isNull, F.lit(0.0)).otherwise(F.radians(lon2 - lon1))
    val a = F.pow(F.sin(dLat / 2), 2) +
      F.cos(phi1) * F.cos(phi2) * F.pow(F.sin(dLon / 2), 2)
    F.lit(6371.0) * F.lit(2.0) * F.atan2(F.sqrt(a), F.sqrt(F.lit(1.0) - a))
  }

  /** Age in years at transaction time: floor(datediff/365.25), null→-1
    * (`silver_job.py:59-63`).
    */
  def age(ts: Column, dob: Column): Column =
    F.when(ts.isNull || dob.isNull, F.lit(-1L))
      .otherwise(F.floor(F.datediff(ts, dob) / 365.25))

  def hourOf(ts: Column): Column = F.hour(ts)
  def dayOfWeek(ts: Column): Column = F.dayofweek(ts) // 1=Sunday (Spark convention)

  /** Canonical (silver): Spark dayofweek ∈ {1,7}. The API twin uses Python
    * weekday >= 5 — a different weekend (Sat/Sun vs Sun/Sat offset bug in
    * the reference); we keep silver semantics.
    */
  def isWeekend(ts: Column): Column = dayOfWeek(ts).isin(1, 7).cast("int")

  /** The reference uses the truncated constant 3.14159 and the operand
    * order `(2 * 3.14159 * hour) / 24` (`silver_job.py:71-72`) — kept
    * bit-exact here so silver output hashes match reference-produced
    * silver. (q22's oracle twin pins full-precision pi on both sides
    * instead; the two contracts are deliberately separate.)
    */
  def hourSin(ts: Column): Column =
    F.sin(F.lit(2.0 * 3.14159) * hourOf(ts) / 24)
  def hourCos(ts: Column): Column =
    F.cos(F.lit(2.0 * 3.14159) * hourOf(ts) / 24)

  /** log1p(amt) for positive amounts else 0 (`silver_job.py:74-78`). */
  def logAmount(amt: Column): Column =
    F.when(amt > 0, F.log1p(amt)).otherwise(F.lit(0.0))

  def isZeroAmount(amt: Column): Column = (amt === 0).cast("int")
  def isHighAmount(amt: Column): Column = (amt > 500).cast("int")

  /** Canonical cut-points 10/50/100/500 (`silver_job.py:79-84`). The API
    * twin uses 100/300/500/1000 (`feature_engineering.py:57-69`).
    */
  def amountBin(amt: Column): Column =
    F.when(amt < 10, 1).when(amt < 50, 2).when(amt < 100, 3)
      .when(amt < 500, 4).otherwise(5)

  /** Canonical M=1 (`silver_job.py:87`); the API twin flips it (M=0). */
  def genderEncoded(gender: Column): Column = (gender === "M").cast("int")

  /** Canonical: >100 km AND a valid (>=0) distance (`silver_job.py:90-91`);
    * API variant uses >50.
    */
  def isDistantTransaction(dist: Column): Column =
    (dist > 100 && dist >= 0).cast("int")

  /** Canonical: hour >= 23 OR hour <= 5 (`silver_job.py:92-93`). */
  def isLateNight(ts: Column): Column =
    (hourOf(ts) >= 23 || hourOf(ts) <= 5).cast("int")

  /** Apply the full 15-feature silver contract + partition columns.
    * Expects typed columns: trans_timestamp, dob, amt, gender,
    * lat/long/merch_lat/merch_long.
    *
    * One `withColumns` projection: one analysis of the plan, where a
    * chain of 18 `withColumn`s analyses it 18 times. So
    * `is_distant_transaction` takes the distance expression itself, not
    * the `distance_km` column; codegen's subexpression elimination
    * computes it once.
    */
  def withFeatures(df: DataFrame): DataFrame = {
    val ts = F.col("trans_timestamp")
    val amt = F.col("amt")
    val distance =
      distanceKm(F.col("lat"), F.col("long"), F.col("merch_lat"), F.col("merch_long"))
    df.withColumns(ListMap(
      "distance_km" -> distance,
      "age" -> age(ts, F.col("dob")),
      "hour" -> hourOf(ts),
      "day_of_week" -> dayOfWeek(ts),
      "is_weekend" -> isWeekend(ts),
      "hour_sin" -> hourSin(ts),
      "hour_cos" -> hourCos(ts),
      "log_amount" -> logAmount(amt),
      "is_zero_amount" -> isZeroAmount(amt),
      "is_high_amount" -> isHighAmount(amt),
      "amount_bin" -> amountBin(amt),
      "gender_encoded" -> genderEncoded(F.col("gender")),
      "is_distant_transaction" -> isDistantTransaction(distance),
      "is_late_night" -> isLateNight(ts),
      "year" -> F.year(ts),
      "month" -> F.month(ts),
      "day" -> F.dayofmonth(ts),
      "ingestion_time" -> F.current_timestamp()))
  }

  /** The scoring-API variant of the contested features
    * (`services/fraud-detection-api/app/feature_engineering.py:57-84`),
    * kept for behavioral parity with the reference's serving path.
    */
  object ApiVariant {
    def amountBin(amt: Column): Column =
      F.when(amt < 100, 1).when(amt < 300, 2).when(amt < 500, 3)
        .when(amt < 1000, 4).otherwise(5)
    def genderEncoded(gender: Column): Column =
      F.when(gender === "M", 0).otherwise(1) // flipped vs silver (M=1)
    def isDistantTransaction(dist: Column): Column = (dist > 50).cast("int")
    def isLateNight(ts: Column): Column =
      (F.hour(ts) < 6 || F.hour(ts) >= 23).cast("int")
    /** Python weekday() >= 5 = Sat/Sun — same day set as silver's
      * dayofweek ∈ {1,7}, despite the different encoding.
      */
    def isWeekend(ts: Column): Column =
      F.dayofweek(ts).isin(1, 7).cast("int")
  }
}
