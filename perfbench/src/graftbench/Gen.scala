package graftbench

import java.util.SplittableRandom

import scala.collection.mutable

final case class Card(ccNum: Long, first: String, last: String, gender: String, street: String,
    city: String, state: String, zip: Int, lat: Double, lon: Double, cityPop: Long, job: String,
    dobDays: Int)

final case class Merchant(name: String, category: String)

final case class Event(transNum: String, tsSec: Long, card: Card, merchant: Merchant, amt: Double,
    merchLat: Double, merchLon: Double, isFraud: Int) {

  /** The Debezium `after` payload, typed as the bronze contract declares. */
  def afterJson: String =
    s"""{"trans_date_trans_time":"${tsSec * 1000000L}","cc_num":"${card.ccNum}",""" +
      s""""merchant":"${merchant.name}","category":"${merchant.category}","amt":$amt,""" +
      s""""first":"${card.first}","last":"${card.last}","gender":"${card.gender}",""" +
      s""""street":"${card.street}","city":"${card.city}","state":"${card.state}",""" +
      s""""zip":"${card.zip}","lat":${card.lat},"long":${card.lon},"city_pop":"${card.cityPop}",""" +
      s""""job":"${card.job}","dob":"${card.dobDays}","trans_num":"$transNum",""" +
      s""""unix_time":"$tsSec","merch_lat":$merchLat,"merch_long":$merchLon,"is_fraud":"$isFraud"}"""

  def insertEnvelope: String =
    s"""{"before":null,"after":$afterJson,"op":"c","ts_ms":${tsSec * 1000L}}"""

  def deleteEnvelope: String =
    s"""{"before":$afterJson,"after":null,"op":"d","ts_ms":${tsSec * 1000L}}"""
}

/** One landed CDC file: its envelope lines in landing order, and the
  * insert envelopes among them (replays included) in the same order.
  */
final case class CdcFile(index: Int, lines: Seq[String], inserts: Seq[Event])

/** Seeded generator of Sparkov-shaped CDC data.
  *
  * Card and merchant keys are Zipf-skewed over fixed pools; merchants carry
  * one of Sparkov's 14 categories. Every hundredth event is planted
  * rule-positive fraud (high amount, far from home; late-night when the
  * file's window covers the night). Files cover consecutive windows of
  * simulated time and are shuffled inside (out-of-order); 2 % of events
  * are late (hours before their file's window); a `replayShare` of lines
  * (1 % by default) replay an insert envelope landed at least
  * `replayLagFiles` files earlier (a consumer replay) and 1 % are Debezium
  * deletes (`after` = null) of an earlier event. Equal seeds give equal
  * files.
  */
final class Gen(seed: Long, secondsPerFile: Long = 3600L, replayLagFiles: Int = 30,
    replayShare: Double = 0.01, nCards: Int = 2000, nMerchants: Int = 600) {
  private val rng = new SplittableRandom(seed)
  private val t0Sec = 1704067200L + (seed.abs % 64) * 86400L // from 2024-01-01 UTC

  val categories: IndexedSeq[String] = IndexedSeq("entertainment", "food_dining",
    "gas_transport", "grocery_net", "grocery_pos", "health_fitness", "home", "kids_pets",
    "misc_net", "misc_pos", "personal_care", "shopping_net", "shopping_pos", "travel")
  private val firsts = IndexedSeq("Jennifer", "Michael", "Mary", "David", "Linda", "James",
    "Susan", "Robert", "Karen", "John", "Lisa", "William", "Nancy", "Joseph", "Sarah", "Thomas")
  private val lasts = IndexedSeq("Smith", "Johnson", "Williams", "Brown", "Jones", "Garcia",
    "Miller", "Davis", "Rodriguez", "Martinez", "Hernandez", "Lopez", "Wilson", "Anderson")
  private val states = IndexedSeq("TX", "CA", "NY", "PA", "OH", "IL", "FL", "MI", "MO", "AL",
    "MN", "VA", "WI", "NE", "IA", "KY", "AR", "IN", "WV", "SC")
  private val jobs = IndexedSeq("Engineer", "Teacher", "Nurse", "Accountant", "Lawyer",
    "Designer", "Chemist", "Surveyor", "Pilot", "Editor")

  private def pick[T](xs: IndexedSeq[T]): T = xs(rng.nextInt(xs.size))
  private def round(x: Double, places: Int): Double = {
    val m = math.pow(10, places); math.round(x * m) / m
  }

  val cards: IndexedSeq[Card] = (0 until nCards).map { i =>
    Card(
      ccNum = 4000000000000000L + seed.abs % 1000 * 1000000L + i,
      first = pick(firsts), last = pick(lasts), gender = if (rng.nextBoolean()) "M" else "F",
      street = s"${100 + rng.nextInt(9000)} Main St", city = s"City${rng.nextInt(400)}",
      state = pick(states), zip = 10000 + rng.nextInt(89999),
      lat = round(25 + rng.nextDouble() * 23, 4), lon = round(-124 + rng.nextDouble() * 54, 4),
      cityPop = math.round(math.exp(6 + rng.nextDouble() * 8)), job = pick(jobs),
      dobDays = -10950 + rng.nextInt(23000))
  }

  val merchants: IndexedSeq[Merchant] = (0 until nMerchants).map(i =>
    Merchant(s"fraud_Merchant_$i", categories(i % categories.size)))

  private final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(i => 1.0 / math.pow(i, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def next(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }
  private val cardZipf = new Zipf(nCards, 1.05)
  private val merchantZipf = new Zipf(nMerchants, 0.9)

  private var serial = 0L
  /** Every hundredth event is planted fraud, so even a short run alerts. */
  private val fraudPhase = rng.nextInt(100)
  private val emitted = mutable.ArrayBuffer.empty[(Int, Event)] // (file, event)

  def windowStart(k: Int): Long = t0Sec + k * secondsPerFile

  def event(tsSec: Long): Event = {
    serial += 1
    val card = cards(cardZipf.next())
    val merchant = merchants(merchantZipf.next())
    val fraud = serial % 100 == fraudPhase
    val amt =
      if (fraud) round(600 + rng.nextDouble() * 900, 2)
      else round(math.min(480.0, math.exp(3.2 + rng.nextGaussian() * 1.0)), 2)
    val spread = if (fraud) 3.0 + rng.nextDouble() * 5.0 else 0.4
    val sign = if (rng.nextBoolean()) 1 else -1
    val mLat = round(card.lat + (if (fraud) sign * spread else (rng.nextDouble() * 2 - 1) * spread), 6)
    val mLon = round(card.lon + (if (fraud) -sign * spread else (rng.nextDouble() * 2 - 1) * spread), 6)
    Event(f"${seed.abs % 100000}%05x${serial}%09x", tsSec, card, merchant, amt, mLat, mLon,
      if (fraud) 1 else 0)
  }

  /** File `k` (call with k = 0, 1, 2, … in order) of `n` lines. */
  def file(k: Int, n: Int): CdcFile = {
    val start = windowStart(k)
    val lines = mutable.ArrayBuffer.empty[(String, Option[Event])]
    val replayable = emitted.iterator.takeWhile(_._1 <= k - replayLagFiles).size
    (0 until n).foreach { _ =>
      // u picks the line's kind: [0, r) replay, [r, r + 0.01) delete,
      // [r + 0.01, r + 0.03) late insert, the rest an on-time insert; a
      // replay or delete with nothing to repeat becomes an on-time insert
      val u = rng.nextDouble()
      val r = replayShare
      if (u < r && replayable > 0) {
        val e = emitted(rng.nextInt(replayable))._2
        lines += ((e.insertEnvelope, Some(e)))
      } else if (u >= r && u < r + 0.01 && emitted.nonEmpty) {
        lines += ((emitted(rng.nextInt(emitted.size))._2.deleteEnvelope, None))
      } else {
        val ts =
          if (u >= r + 0.01 && u < r + 0.03) start - 3600L - rng.nextLong(47L * 3600L) // late
          else start + rng.nextLong(secondsPerFile)
        val e = event(ts)
        emitted += ((k, e))
        lines += ((e.insertEnvelope, Some(e)))
      }
    }
    // out-of-order inside the file: a seeded Fisher-Yates shuffle
    for (i <- lines.indices.reverse if i > 0) {
      val j = rng.nextInt(i + 1)
      val t = lines(i); lines(i) = lines(j); lines(j) = t
    }
    CdcFile(k, lines.map(_._1).toSeq, lines.flatMap(_._2).toSeq)
  }
}
