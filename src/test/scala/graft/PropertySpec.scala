package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.{functions => F}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.HaversineExpression

/** Property-based tests (SURVEY §5(d)): haversine geometry invariants,
  * amount-bin monotonicity, rolling-hash determinism — ScalaCheck
  * generators sampled deterministically (no scalatestplus bridge in the
  * offline cache, so sampling is driven manually).
  */
class PropertySpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.runtime.GraftSession
    .builder("graft-test", "8").getOrCreate()

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  val lat: Gen[Double] = Gen.choose(-90.0, 90.0)
  val lon: Gen[Double] = Gen.choose(-180.0, 180.0)
  val point: Gen[(Double, Double)] = for { a <- lat; o <- lon } yield (a, o)

  test("haversine: symmetric, non-negative, bounded by half the circumference") {
    samples(for { p <- point; q <- point } yield (p, q), 200).foreach {
      case ((a, b), (c, d)) =>
        val fwd = HaversineExpression.compute(a, b, c, d)
        val bwd = HaversineExpression.compute(c, d, a, b)
        assert(math.abs(fwd - bwd) < 1e-9, s"asym at ($a,$b)-($c,$d)")
        assert(fwd >= 0)
        assert(fwd <= math.Pi * HaversineExpression.EarthRadiusKm + 1e-6)
    }
  }

  test("haversine: zero at identical coordinates") {
    samples(point, 200).foreach { case (a, b) =>
      assert(HaversineExpression.compute(a, b, a, b) == 0.0)
    }
  }

  // -------------------------------------------- zone-map kernel soundness

  /** The pruning kernel's contract, brute-forced: whenever
    * `provablyOutside` (gated by `comparable`) says a batch can be
    * skipped, NO value in the batch satisfies the predicate under
    * Spark's comparison semantics (reimplemented here independently:
    * integral↔floating promotes through Double, NaN greatest, strings
    * as unsigned UTF-8 bytes). Exercises the traps deliberately: values
    * and literals straddling 2^52/2^53, NaN/±Inf, supplementary-plane
    * strings.
    */
  test("zone maps: a provably-outside verdict never excludes a satisfying value") {
    import graft.layers.BatchStats
    import graft.layers.BatchStats._
    val ops = Seq("eq", "lt", "le", "gt", "ge")
    val bigL: Gen[Long] = Gen.oneOf(
      Gen.choose(-1000L, 1000L),
      Gen.choose((1L << 52) - 3, (1L << 53) + 3),
      Gen.choose(Long.MinValue / 2, Long.MaxValue / 2))
    val anyD: Gen[Double] = Gen.oneOf(
      Gen.choose(-1e3, 1e3),
      Gen.oneOf(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
        9007199254740992.0, 9007199254740994.0),
      Gen.choose(-1e18, 1e18))
    val uStr: Gen[String] = Gen.oneOf(
      Gen.alphaNumStr.map(_.take(6)),
      Gen.oneOf("ｚ", new String(Character.toChars(0x10000)), "z", "", "ключ"))

    def fam(v: Any): String = v match {
      case _: Long => Family.Integral
      case _: Double => Family.Floating
      case _: String => Family.Str
    }
    // Spark's comparison semantics, independently: the test oracle
    def sat(v: Any, op: String, lit: Any): Boolean = {
      def cmpNum(a: Double, b: Double): Int = java.lang.Double.compare(a, b)
      val c: Int = (v, lit) match {
        case (x: Long, y: Long) => java.lang.Long.compare(x, y)
        case (x: Long, y: Double) => cmpNum(x.toDouble, y) // Spark promotes
        case (x: Double, y: Long) => cmpNum(x, y.toDouble)
        case (x: Double, y: Double) => cmpNum(x, y)
        case (x: String, y: String) =>
          val (a, b) = (x.getBytes("UTF-8"), y.getBytes("UTF-8"))
          val n = math.min(a.length, b.length)
          var i = 0; var d = 0
          while (i < n && d == 0) { d = (a(i) & 0xff) - (b(i) & 0xff); i += 1 }
          if (d != 0) d else a.length - b.length
        case _ => return false // cross string/number never reaches the kernel
      }
      op match {
        case "eq" => c == 0; case "lt" => c < 0; case "le" => c <= 0
        case "gt" => c > 0; case "ge" => c >= 0
      }
    }

    val scenario: Gen[(Seq[Any], String, Any)] = for {
      kind <- Gen.choose(0, 2)
      values <- kind match {
        case 0 => Gen.nonEmptyListOf(bigL)
        case 1 => Gen.nonEmptyListOf(anyD)
        case _ => Gen.nonEmptyListOf(uStr)
      }
      op <- Gen.oneOf(ops)
      lit <- kind match {
        case 0 => Gen.oneOf(bigL.map(identity[Any]), anyD.map(identity[Any]))
        case 1 => Gen.oneOf(bigL.map(identity[Any]), anyD.map(identity[Any]))
        case _ => uStr.map(identity[Any])
      }
    } yield (values, op, lit)

    var prunedCases = 0
    samples(scenario, 6000).foreach { case (values, op, lit) =>
      // bounds exactly as compute() derives them: normExternal over the
      // family's own min/max ordering
      def ordered(a: Any, b: Any) = sat(a, "le", b)
      val lo = values.reduceLeft((a, b) => if (ordered(a, b)) a else b)
      val hi = values.reduceLeft((a, b) => if (ordered(a, b)) b else a)
      (normExternal(lo), normExternal(hi), normLiteral(
        org.apache.spark.sql.catalyst.expressions.Literal(lit match {
          case s: String => org.apache.spark.unsafe.types.UTF8String.fromString(s)
          case other => other
        }, lit match {
          case _: Long => org.apache.spark.sql.types.LongType
          case _: Double => org.apache.spark.sql.types.DoubleType
          case _: String => org.apache.spark.sql.types.StringType
        }))) match {
        case (Some(l), Some(h), Some((litFam, litB)))
            if BatchStats.comparable(fam(values.head), litFam, Seq(l, h), litB) =>
          if (BatchStats.provablyOutside(op, l, h, litB)) {
            prunedCases += 1
            values.foreach(v => assert(!sat(v, op, lit),
              s"UNSOUND SKIP: $v satisfies $op $lit inside [$lo, $hi]"))
          }
        case _ => () // unusable bounds / family mismatch: kernel never prunes
      }
    }
    assert(prunedCases > 100, s"property exercised only $prunedCases pruned cases")
  }

  test("haversine: triangle inequality on generated triples") {
    samples(for { p <- point; q <- point; r <- point } yield (p, q, r), 200).foreach {
      case ((a1, o1), (a2, o2), (a3, o3)) =>
        val ab = HaversineExpression.compute(a1, o1, a2, o2)
        val bc = HaversineExpression.compute(a2, o2, a3, o3)
        val ac = HaversineExpression.compute(a1, o1, a3, o3)
        assert(ac <= ab + bc + 1e-6, s"triangle violated: $ac > $ab + $bc")
    }
  }

  test("amount_bin is monotonic in amount") {
    import spark.implicits._
    val amounts = samples(Gen.choose(0.0, 2000.0), 200).sorted
    val bins = amounts.toDF("amt").coalesce(1)
      .select(F.col("amt"), graft.functions.FraudFeatures.amountBin(F.col("amt")).as("bin"))
      .collect().map(r => r.getDouble(0) -> r.getInt(1)).sortBy(_._1).map(_._2)
    assert(bins.zip(bins.tail).forall { case (x, y) => x <= y })
  }

  test("rolling hash: deterministic and in [0, p)") {
    import spark.implicits._
    val texts = samples(Gen.listOfN(8, Gen.alphaStr.suchThat(_.nonEmpty)), 30)
      .map(_.mkString(" "))
    val df = (texts ++ texts).toDF("text")
      .select(F.col("text"), graft.functions.TextFunctions.rollingHash(F.col("text")).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    df.groupBy(_._1).foreach { case (_, vs) =>
      assert(vs.map(_._2).distinct.length == 1, "hash not deterministic")
    }
    df.foreach { case (_, h) => assert(h >= 0 && h < 1000000007L) }
  }

  test("packSequences: any (budget, bucketSize) equals the single-window reference") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val toks = samples(Gen.choose(1, 200), 120)
    val docsDf = toks.zipWithIndex
      .map { case (t, i) => (i.toLong * 7 + 3, Seq.fill(t)("w").mkString(" ")) }
      .toDF("doc_id", "text")
    val tc = graft.functions.TextFunctions.tokenCount(F.col("text"))
    val w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    samples(for { b <- Gen.choose(8, 512); bs <- Gen.choose(1, 300) } yield (b, bs), 6)
      .foreach { case (budget, bucketSize) =>
        val packed = graft.operators.Curation.packSequences(
          docsDf, "doc_id", tc, budget, bucketSize)
        val ref = docsDf.select(F.col("doc_id"), tc.as("n_tok"))
          .withColumn("start_offset",
            F.coalesce(F.sum(F.col("n_tok").cast("long")).over(w), F.lit(0L)))
          .withColumn("seq_id", F.floor(F.col("start_offset") / budget.toDouble))
        assert(packed.exceptAll(ref).isEmpty && ref.exceptAll(packed).isEmpty,
          s"mismatch at budget=$budget bucketSize=$bucketSize")
      }
  }

  test("zorder bucketOf: monotone in the value, bounded by breakpoint count") {
    import spark.implicits._
    val bps = samples(Gen.choose(-100.0, 100.0), 15).distinct.sorted
    val vals = samples(Gen.choose(-150.0, 150.0), 300).sorted
    val buckets = vals.toDF("v").coalesce(1)
      .select(F.col("v"), graft.layers.ZOrder.bucketOf(F.col("v"), bps).as("b"))
      .collect().sortBy(_.getDouble(0)).map(_.getInt(1))
    assert(buckets.zip(buckets.tail).forall { case (x, y) => x <= y }, "not monotone")
    assert(buckets.forall(b => b >= 0 && b <= bps.length))
  }

  test("downsampleByDomain at rate 0 keeps nothing; at 100 keeps everything") {
    import spark.implicits._
    val df = (0 until 500).map(i => (i.toLong, "en")).toDF("doc_id", "lang")
    val none = graft.operators.Curation.downsampleByDomain(
      df, "doc_id", "lang", Map("en" -> 0), 50, "s")
    val all = graft.operators.Curation.downsampleByDomain(
      df, "doc_id", "lang", Map("en" -> 100), 50, "s")
    assert(none.isEmpty)
    assert(all.count() == 500)
  }

  test("vec_dot edge cases: empty, mismatched length, mixed element types") {
    import spark.implicits._
    val empty = spark.sql(
      "SELECT vec_dot(CAST(array() AS ARRAY<DOUBLE>), CAST(array() AS ARRAY<DOUBLE>))")
      .head().getDouble(0)
    assert(empty == 0.0)
    // mismatched lengths -> min-length prefix (documented truncation)
    val pre = spark.sql("SELECT vec_dot(array(1.0d, 2.0d, 3.0d), array(10.0d))")
      .head().getDouble(0)
    assert(pre == 10.0)
    val fd = Seq((Seq(1.5f, 2.5f), Seq(2.0, 4.0))).toDF("f", "d")
      .select(F.call_function("vec_dot", F.col("f"), F.col("d"))).head().getDouble(0)
    assert(fd == 1.5f.toDouble * 2.0 + 2.5f.toDouble * 4.0)
  }

  test("connectedComponents equals union-find on generated graphs") {
    import spark.implicits._
    val graphGen: Gen[List[(Long, Long)]] = for {
      nNodes <- Gen.choose(2, 30)
      nEdges <- Gen.choose(1, 60)
      edges <- Gen.listOfN(nEdges, for {
        a <- Gen.choose(0L, nNodes.toLong)
        b <- Gen.choose(0L, nNodes.toLong)
      } yield (a, b))
    } yield edges.filter { case (a, b) => a != b }
    samples(graphGen, 5).filter(_.nonEmpty).foreach { edges =>
      // union-by-min reference: component roots are component minima
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = edges.flatMap { case (a, b) => Seq(a, b) }
        .distinct.map(n => n -> find(n)).toMap
      for (threshold <- Seq(1 << 20, 0)) { // driver union-find AND distributed tier
        val got = graft.operators.Dedup
          .connectedComponents(edges.toDF("src", "dst"), "src", "dst",
            smallGraphEdges = threshold)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == expected, s"threshold=$threshold edges: $edges")
      }
    }
  }

  test("merge: idempotent, key-complete, and equal to a local reference on generated tables") {
    import spark.implicits._
    val table: Gen[List[(Long, Int)]] = for {
      n <- Gen.choose(0, 25)
      rows <- Gen.listOfN(n, for {
        k <- Gen.choose(0L, 15L); v <- Gen.choose(0, 99)
      } yield (k, v))
    } yield rows.distinctBy(_._1) // unique keys per side (MERGE precondition)
    samples(for { t <- table; s <- table } yield (t, s), 30).foreach { case (t, s) =>
      val tDf = t.toDF("k", "v"); val sDf = s.toDF("k", "v")
      val out = graft.layers.Merge.merge(tDf, sDf, Seq("k"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      // local reference: source wins on overlap, both sides complete
      val expected = t.toMap ++ s.toMap
      assert(out == expected, s"t=$t s=$s")
      // idempotent: merging the same source again changes nothing
      val again = graft.layers.Merge.merge(out.toSeq.toDF("k", "v"), sDf, Seq("k"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(again == expected)
    }
  }

  test("scd2: exactly one current row per live key; closed intervals abut; content tracks updates") {
    import spark.implicits._
    val updatesGen: Gen[List[(Long, Int)]] = for {
      n <- Gen.choose(0, 12)
      rows <- Gen.listOfN(n, for {
        k <- Gen.choose(0L, 9L); v <- Gen.choose(0, 3)
      } yield (k, v))
    } yield rows.distinctBy(_._1)
    val d0 = F.to_date(F.lit("2020-01-01"))
    samples(for { a <- updatesGen; b <- updatesGen } yield (a, b), 15)
      .foreach { case (u1, u2) =>
        var dim = Seq((0L, -1), (1L, -1)).toDF("k", "v")
          .select(F.col("k"), F.col("v"), d0.as("valid_from"),
            F.lit(null).cast("date").as("valid_to"), F.lit(true).as("is_current"))
        val batches = Seq(("2021-01-01", u1), ("2022-01-01", u2))
        batches.foreach { case (ts, u) =>
          dim = graft.layers.Merge.scd2(dim, u.toDF("k", "v"), "k",
            F.to_date(F.lit(ts)))
        }
        val rows = dim.collect().map(r => (r.getLong(0), r.getInt(1),
          r.getDate(2).toString, Option(r.getDate(3)).map(_.toString),
          r.getBoolean(4)))
        // one current row per key, and its value is the last write
        val lastWrite = (Map(0L -> -1, 1L -> -1) ++ u1.toMap) ++ u2.toMap
        val current = rows.filter(_._5).map(r => r._1 -> r._2).toMap
        assert(current == lastWrite, s"u1=$u1 u2=$u2 rows=${rows.toSeq}")
        // per key: versions ordered by valid_from abut exactly (each
        // closed row's valid_to equals the next row's valid_from)
        rows.groupBy(_._1).foreach { case (k, vs) =>
          val chain = vs.sortBy(_._3)
          chain.sliding(2).foreach {
            case Array(prev, next) =>
              assert(prev._4.contains(next._3),
                s"gap in chain for key $k: ${chain.toSeq}")
            case _ => ()
          }
          assert(chain.last._4.isEmpty && chain.last._5, s"tail not open for $k")
          assert(chain.init.forall(!_._5))
        }
      }
  }

  test("exactDiv equals BigInt floor division on non-negative longs") {
    import spark.implicits._
    val pairs = samples(for {
      a <- Gen.choose(0L, 1L << 52)
      b <- Gen.choose(1L, 1L << 26)
    } yield (a, b), 300)
    val got = pairs.toDF("a", "b")
      .select(graft.functions.TextFunctions.exactDiv(F.col("a"), F.col("b")))
      .collect().map(_.getLong(0))
    pairs.zip(got).foreach { case ((a, b), q) =>
      assert(q == a / b, s"exactDiv($a, $b) = $q, expected ${a / b}")
    }
  }

  test("qualityMicro: bounded, integer-exact, within 2 micro of the raw score") {
    import spark.implicits._
    val word = Gen.oneOf("the", "a", "of", "and", "cat", "runs", "fast",
      "spark", "x1", "yz", "engine.", "data,", "!", "?!")
    val text = for {
      n <- Gen.choose(1, 60)
      ws <- Gen.listOfN(n, word)
    } yield ws.mkString(" ")
    val texts = samples(text, 250)
    val rows = texts.toDF("text").select(
      graft.functions.TextFunctions.qualityMicro(F.col("text")).as("u"),
      (graft.functions.TextFunctions.qualityScore(F.col("text")) * 1e6).as("raw"))
      .collect()
    rows.foreach { r =>
      val (u, raw) = (r.getLong(0), r.getDouble(1))
      assert(u >= 0L && u <= 1000000L, s"micro out of range: $u")
      assert(math.abs(u - raw) <= 2.0, s"micro=$u raw=$raw")
    }
  }

  test("mixByWeights realizes floor(w) or ceil(w) copies per row, mean near w") {
    import spark.implicits._
    samples(Gen.choose(0.0, 4.0), 6).foreach { w =>
      val df = (1L to 400L).map(i => (i, "d")).toDF("doc_id", "source")
      val out = graft.operators.Curation.mixByWeights(df, "doc_id", "source",
          Map("d" -> w), defaultWeight = 1.0, seed = "pw")
        .groupBy("doc_id").agg(F.count(F.lit(1)).as("c"))
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("c")).toMap
      val wE4 = math.round(w * 10000)
      val (lo, hi) = (wE4 / 10000, wE4 / 10000 + (if (wE4 % 10000 == 0) 0 else 1))
      (1L to 400L).foreach { i =>
        val c = out.getOrElse(i, 0L)
        assert(c == lo || c == hi, s"w=$w doc $i got $c copies")
      }
      val mean = out.values.sum.toDouble / 400.0
      assert(math.abs(mean - wE4 / 10000.0) < 0.15, s"w=$w realized mean $mean")
    }
  }
}
