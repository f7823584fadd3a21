package graft

import java.nio.file.{Files, Path, Paths}
import java.time.{LocalDate, LocalDateTime, ZoneOffset}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic Sparkov-shaped Debezium fixtures (FIXTURES.md §2/§6):
  * JSON envelopes incl. a tombstone, null coords, amt=0, and the 4
  * smoke-test transactions spanning the rule-model risk ladder.
  */
object TestFixtures {

  private def micros(dt: LocalDateTime): Long =
    dt.toInstant(ZoneOffset.UTC).toEpochMilli * 1000L

  private def days(d: LocalDate): Long = d.toEpochDay

  /** One Debezium envelope line. Null lat/long are emitted as JSON null. */
  def envelope(
      ts: LocalDateTime, ccNum: Long, merchant: String, category: String,
      amt: Double, gender: String, city: String, state: String, zip: Int,
      lat: Option[Double], lon: Option[Double], cityPop: Long, dob: LocalDate,
      transNum: String, merchLat: Option[Double], merchLon: Option[Double],
      isFraud: Int): String = {
    def num(o: Option[Double]): String = o.map(_.toString).getOrElse("null")
    s"""{"after": {"trans_date_trans_time": "${micros(ts)}", "cc_num": "$ccNum",
       | "merchant": "$merchant", "category": "$category", "amt": $amt,
       | "first": "Test", "last": "User", "gender": "$gender",
       | "street": "1 Main St", "city": "$city", "state": "$state", "zip": "$zip",
       | "lat": ${num(lat)}, "long": ${num(lon)}, "city_pop": "$cityPop",
       | "job": "Engineer", "dob": "${days(dob)}", "trans_num": "$transNum",
       | "unix_time": "${micros(ts) / 1000000L}",
       | "merch_lat": ${num(merchLat)}, "merch_long": ${num(merchLon)},
       | "is_fraud": "$isFraud"}}""".stripMargin.replaceAll("\n", "")
  }

  val tombstone = """{"after": null}"""

  /** The 4 smoke transactions (FIXTURES §6), timed on a weekday at noon so
    * rule scores are exactly: HIGH=1.0 (late-night sat variant), MED=0.45,
    * LOW=0.0, NORMAL=0.0.
    */
  def smokeRows: Seq[String] = Seq(
    // Saturday 23:30: amt>500 +0.3, dist>100 +0.25, late +0.15, distant +0.2, weekend +0.1 = 1.0
    envelope(LocalDateTime.of(2024, 3, 2, 23, 30, 0), 1111L, "fraud_TestMerchantA", "misc_net",
      1850.00, "F", "New York", "NY", 10001, Some(40.7128), Some(-74.0060), 8000000L,
      LocalDate.of(1980, 5, 1), "RT_HIGH_0001", Some(35.0), Some(-120.0), 1),
    // Monday noon: dist 120km → +0.25 +0.2 = 0.45 (MEDIUM, not predicted fraud)
    envelope(LocalDateTime.of(2024, 3, 4, 12, 0, 0), 2222L, "fraud_TestMerchantB", "grocery_pos",
      350.00, "M", "Los Angeles", "CA", 90001, Some(34.0522), Some(-118.2437), 4000000L,
      LocalDate.of(1975, 9, 15), "RT_MEDIUM_0001", Some(35.13), Some(-118.2437), 1),
    // Monday noon, 1km: 0.0 LOW
    envelope(LocalDateTime.of(2024, 3, 4, 12, 5, 0), 3333L, "fraud_TestMerchantC", "food_dining",
      85.00, "F", "Seattle", "WA", 98101, Some(47.6062), Some(-122.3321), 750000L,
      LocalDate.of(1990, 1, 20), "RT_LOW_0001", Some(47.6152), Some(-122.3321), 1),
    // Monday noon, 1km, small amt: 0.0 LOW, not fraud
    envelope(LocalDateTime.of(2024, 3, 4, 12, 10, 0), 4444L, "fraud_TestMerchantD", "gas_transport",
      45.00, "M", "Chicago", "IL", 60601, Some(41.8781), Some(-87.6298), 2700000L,
      LocalDate.of(1985, 7, 4), "RT_NORMAL_0001", Some(41.8871), Some(-87.6298), 0))

  /** n random-but-seeded transactions over March 2024, ~4% fraud, with the
    * documented quirks: one null-coord row, one amt=0 row.
    */
  def randomRows(n: Int, seed: Long = 42L, startDay: Int = 1): Seq[String] = {
    val rnd = new Random(seed)
    val cats = Seq("misc_net", "grocery_pos", "gas_transport", "shopping_net", "food_dining")
    val states = Seq(("NC", "Charlotte", 28201), ("TX", "Austin", 73301),
      ("CA", "Fresno", 93650), ("WA", "Spokane", 99201), ("NY", "Buffalo", 14201))
    (0 until n).map { i =>
      val (st, city, zip) = states(rnd.nextInt(states.length))
      val ts = LocalDateTime.of(2024, 3, startDay + rnd.nextInt(10), rnd.nextInt(24), rnd.nextInt(60), 0)
      val lat = 30 + rnd.nextDouble() * 15
      val lon = -120 + rnd.nextDouble() * 40
      val amt =
        if (i == 7) 0.0
        else math.round(rnd.nextDouble() * 800 * 100) / 100.0
      val coords: (Option[Double], Option[Double]) =
        if (i == 13) (None, None) else (Some(lat), Some(lon))
      envelope(ts, 100000L + rnd.nextInt(50), s"fraud_M${rnd.nextInt(20)}",
        cats(rnd.nextInt(cats.length)), amt, if (rnd.nextBoolean()) "M" else "F",
        city, st, zip, coords._1, coords._2, 10000L + rnd.nextInt(900000),
        LocalDate.of(1950 + rnd.nextInt(50), 1 + rnd.nextInt(12), 1 + rnd.nextInt(28)),
        f"TX_${seed}%d_$i%05d", coords._1.map(_ + 0.5), coords._2.map(_ + 0.5),
        if (rnd.nextInt(100) < 4) 1 else 0)
    }
  }

  /** Write a fixture file of envelopes; returns the directory. */
  def writeEnvelopes(dir: Path, file: String, lines: Seq[String]): Path = {
    Files.createDirectories(dir)
    Files.write(dir.resolve(file), String.join("\n", lines: _*).getBytes("UTF-8"))
    dir
  }

  /** Silver frame with a learnable planted signal (fraud rows get big
    * amounts and long distances) for ML specs — perfectly separable by
    * `amt`, so a logistic model clears the reference's promotion gate.
    */
  def plantedSilver(spark: SparkSession, n: Int = 600, seed: Long = 5L): DataFrame = {
    import graft.ingest.Debezium
    import graft.layers.Silver
    val work = tmpDir("planted")
    val rnd = new Random(seed)
    val lines = (0 until n).map { i =>
      val fraud = i % 5 == 0 // 20% fraud, balanced enough to train on
      envelope(
        LocalDateTime.of(2024, 3, 1 + rnd.nextInt(20), rnd.nextInt(24), 0, 0),
        9000L + i, "fraud_M1", "misc_net",
        if (fraud) 600 + rnd.nextDouble() * 800 else rnd.nextDouble() * 120,
        "F", "Austin", "TX", 73301,
        Some(30.0), Some(-97.0), 100000L,
        LocalDate.of(1980, 1, 1), f"ML_$i%05d",
        Some(if (fraud) 34.0 else 30.01), Some(-97.0),
        if (fraud) 1 else 0)
    }
    val dir = writeEnvelopes(work.resolve("in"), "ml.jsonl", lines)
    val raw = spark.read.text(dir.toString).withColumnRenamed("value", "json_string")
    Silver.transform(Debezium.withBronzeColumns(Debezium.parse(raw)), None)
  }

  /** A fresh `graft-<prefix>-*` directory under the JVM's temp root,
    * deleted with its contents at JVM exit.
    */
  def tmpDir(prefix: String): Path = Paths.get(graft.queries.Scratch.dir(s"graft-$prefix-"))
}
