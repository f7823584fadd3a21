package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions
import graft.operators.Curation

class CurationSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.runtime.GraftSession
    .builder("graft-test", "8").getOrCreate()

  test("decontaminate flags exactly the docs sharing an n-gram with the benchmark") {
    import spark.implicits._
    val bench = Seq(
      (100L, "what is the capital of france paris is the capital")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "trivia night what is the capital of france everyone knows"), // contaminated
      (2L, "completely unrelated text about spark partitions and shuffles"), // clean
      (3L, "the capital of france paris tour guide")) // contaminated (4-gram overlap)
      .toDF("doc_id", "text")
    val out = Curation.decontaminate(train, bench, "doc_id", "text", 4)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_shared_shingles"), r.getAs[Long]("n_bench_docs"))).toMap
    assert(out.keySet == Set(1L, 3L))
    assert(out(1L)._2 == 1L && out(3L)._2 == 1L)
    // doc 1 shares "what is the capital", "is the capital of", "the capital of france"
    assert(out(1L)._1 == 3L)
    // the scrub keeps exactly the clean docs
    val clean = Curation.dropContaminated(train, bench, "doc_id", "text", 4)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(clean == Set(2L))
  }

  test("redact scrubs the standard PII patterns and counts matches") {
    import spark.implicits._
    val df = Seq(
      (1L, "reach me at alice.smith+x@example.co.uk or (415) 555-1234 thanks"),
      (2L, "ssn 123-45-6789 leaked from host 10.0.42.7 yesterday"),
      (3L, "no pii here just words")).toDF("doc_id", "text")
    val out = Curation.redact(df, "text").orderBy("doc_id").collect()
    assert(out(0).getAs[String]("redacted") ==
      "reach me at [REDACTED] or [REDACTED] thanks")
    assert(out(0).getAs[Long]("n_redacted") == 2L)
    assert(out(1).getAs[String]("redacted") ==
      "ssn [REDACTED] leaked from host [REDACTED] yesterday")
    assert(out(1).getAs[Long]("n_redacted") == 2L)
    assert(out(2).getAs[String]("redacted") == "no pii here just words")
    assert(out(2).getAs[Long]("n_redacted") == 0L)
  }

  test("packSequences two-level prefix equals a single global window, offsets contiguous") {
    import spark.implicits._
    val rnd = new scala.util.Random(31L)
    // sparse, shuffled-write ids across several buckets (bucketSize = 16)
    val docsDf = rnd.shuffle((0 until 200).toList)
      .map(i => (i * 3L + 1, Seq.fill(5 + rnd.nextInt(90))("w").mkString(" ")))
      .toDF("doc_id", "text")
    val packed = Curation.packSequences(
      docsDf, "doc_id", TextFunctions.tokenCount(F.col("text")),
      budget = 128, bucketSize = 16)
    // reference: one global window
    val w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    val ref = docsDf
      .select(F.col("doc_id"), TextFunctions.tokenCount(F.col("text")).as("n_tok"))
      .withColumn("start_offset", F.coalesce(F.sum(F.col("n_tok").cast("long")).over(w), F.lit(0L)))
      .withColumn("seq_id", F.floor(F.col("start_offset") / 128.0))
    assert(packed.exceptAll(ref).isEmpty && ref.exceptAll(packed).isEmpty)
    // contiguity: next start = prev start + prev tokens; first starts at 0
    val rows = packed.orderBy("doc_id").collect()
    assert(rows.head.getAs[Long]("start_offset") == 0L)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getAs[Long]("start_offset") ==
        a.getAs[Long]("start_offset") + a.getAs[Int]("n_tok"))
    }
    // every doc's seq matches its start bucket
    rows.foreach(r => assert(r.getAs[Long]("seq_id") == r.getAs[Long]("start_offset") / 128))
  }

  test("chunkDocuments covers every token, overlaps exactly, and reconstructs the doc") {
    import spark.implicits._
    val docsDf = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 tokens -> 3 chunks
      (2L, (1 to 4).map(i => s"u$i").mkString(" ")),  // == chunkSize -> 1 chunk
      (3L, (1 to 5).map(i => s"v$i").mkString(" ")),  // one over -> short tail chunk
      (4L, "solo"))                                   // 1 token -> 1 chunk
      .toDF("doc_id", "text")
    val out = Curation.chunkDocuments(docsDf, "doc_id", "text", chunkSize = 4, overlap = 1)
      .orderBy("doc_id", "chunk_idx").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_idx"),
        r.getAs[Int]("n_tokens"), r.getAs[String]("chunk_text")))
    // stride 3: doc 1 chunks [t1..t4] [t4..t7] [t7..t10] — adjacent chunks
    // share exactly one token and the union is the whole doc
    assert(out.filter(_._1 == 1L).toSeq == Seq(
      (1L, 0, 4, "t1 t2 t3 t4"), (1L, 1, 4, "t4 t5 t6 t7"), (1L, 2, 4, "t7 t8 t9 t10")))
    assert(out.filter(_._1 == 2L).toSeq == Seq((2L, 0, 4, "u1 u2 u3 u4")))
    assert(out.filter(_._1 == 3L).toSeq == Seq(
      (3L, 0, 4, "v1 v2 v3 v4"), (3L, 1, 2, "v4 v5")))
    assert(out.filter(_._1 == 4L).toSeq == Seq((4L, 0, 1, "solo")))
    // reconstruction: drop each non-first chunk's leading overlap tokens,
    // concatenate in chunk order -> the original token stream
    val rebuilt = out.filter(_._1 == 1L).sortBy(_._2).zipWithIndex.flatMap {
      case ((_, _, _, text), i) =>
        val toks = text.split(" ").toSeq
        if (i == 0) toks else toks.drop(1)
    }
    assert(rebuilt.toSeq == (1 to 10).map(i => s"t$i"))
    // no-overlap mode: disjoint 3-token windows, 4 chunks, short tail
    val no = Curation.chunkDocuments(docsDf.filter($"doc_id" === 1L),
      "doc_id", "text", chunkSize = 3, overlap = 0)
      .orderBy("chunk_idx").collect().map(_.getAs[String]("chunk_text")).toSeq
    assert(no == Seq("t1 t2 t3", "t4 t5 t6", "t7 t8 t9", "t10"))
  }

  test("scrubRepeatedSpans deletes exactly the corpus-repeated spans, merging overlaps") {
    import spark.implicits._
    // docs 1 and 2 share two OVERLAPPING 3-gram spans, so their covered
    // intervals must merge into one deleted run; doc 3 is untouched;
    // doc 4 is shorter than the span width.
    val docsDf = Seq(
      (1L, "x1 b1 b2 b3 b4 x2 x3"), // spans "b1 b2 b3" and "b2 b3 b4" flagged
      (2L, "y1 y2 b1 b2 b3 b4 y3"), // same two spans, different offsets
      (3L, "z1 z2 z3 z4 z5"),
      (4L, "w1 w2"))
      .toDF("doc_id", "text")
    val out = Curation.scrubRepeatedSpans(docsDf, "doc_id", "text", n = 3, minDf = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"),
        r.getAs[Int]("n_tok_before"), r.getAs[Int]("n_tok_after")))
    // flagged spans: "b1 b2 b3" (docs 1,2) and "b2 b3 b4" (docs 1,2);
    // their union covers b1..b4 in both docs, surrounding tokens survive
    assert(out(0) == ((1L, "x1 x2 x3", 7, 3)))
    assert(out(1) == ((2L, "y1 y2 y3", 7, 3)))
    assert(out(2) == ((3L, "z1 z2 z3 z4 z5", 5, 5)))
    assert(out(3) == ((4L, "w1 w2", 2, 2)))
    // a span repeated WITHIN one doc only (df = 1) is not flagged
    val solo = Seq(
      (1L, "a1 a2 a3 q1 a1 a2 a3"),
      (2L, "c1 c2 c3 c4 c5")).toDF("doc_id", "text")
    val soloOut = Curation.scrubRepeatedSpans(solo, "doc_id", "text", n = 3, minDf = 2)
      .orderBy("doc_id").collect().map(_.getAs[String]("text"))
    assert(soloOut.toSeq == Seq("a1 a2 a3 q1 a1 a2 a3", "c1 c2 c3 c4 c5"))
    // but with BOTH docs carrying it, every occurrence goes — including
    // the repeat inside doc 1
    val both = Seq(
      (1L, "a1 a2 a3 q1 a1 a2 a3"),
      (2L, "a1 a2 a3 c4 c5")).toDF("doc_id", "text")
    val bothOut = Curation.scrubRepeatedSpans(both, "doc_id", "text", n = 3, minDf = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[String]("text"), r.getAs[Int]("n_tok_after")))
    assert(bothOut.toSeq == Seq(("q1", 1), ("c4 c5", 2)))
  }

  test("deflate_ratio separates repetitive from varied text; codegen matches direct compute") {
    import spark.implicits._
    val rnd = new scala.util.Random(59L)
    val varied = Seq.fill(200)(s"w${rnd.nextInt(100000)}").mkString(" ")
    val repetitive = Seq.fill(200)("spam").mkString(" ")
    val df = Seq((1L, varied), (2L, repetitive), (3L, ""), (4L, null: String))
      .toDF("id", "text")
      .withColumn("ratio", TextFunctions.deflateRatio(F.col("text")))
    val out = df.orderBy("id").collect()
      .map(r => r.getAs[Long]("id") ->
        (if (r.isNullAt(2)) None else Some(r.getAs[Double]("ratio")))).toMap
    // repetitive text compresses hard; varied text far less (the random
    // "wNNNNN" vocabulary shares a prefix and a digit alphabet, so it
    // still deflates to ~0.47 — natural prose sits higher)
    assert(out(2L).get < 0.10, s"repetitive ratio ${out(2L)}")
    assert(out(1L).get > 0.35, s"varied ratio ${out(1L)}")
    assert(out(1L).get > out(2L).get * 4)
    assert(out(3L).contains(1.0), "empty string is defined as 1.0")
    assert(out(4L).isEmpty, "null must propagate null")
    // the codegen'd dataframe path equals the direct static compute
    import org.apache.spark.unsafe.types.UTF8String
    assert(out(1L).get ==
      graft.plans.DeflateRatioExpression.compute(UTF8String.fromString(varied)))
    assert(out(2L).get ==
      graft.plans.DeflateRatioExpression.compute(UTF8String.fromString(repetitive)))
    // SQL surface
    assert(spark.sql("SELECT deflate_ratio('x y z') AS r").head().getDouble(0) > 0)
    // gate shape: length floor first, then the ratio threshold — the
    // composed curation filter the ingest `curate` hook would use
    val gated = Seq((1L, varied), (2L, repetitive)).toDF("doc_id", "text")
      .filter(TextFunctions.tokenCount(F.col("text")) >= 50 &&
        TextFunctions.deflateRatio(F.col("text")) >= 0.2)
    assert(gated.select("doc_id").as[Long].collect().toSeq == Seq(1L))
  }

  test("dedupRepeatedSpans keeps the min-id canonical copy, scrubs every other occurrence") {
    import spark.implicits._
    // docs 1 and 2 share a 4-token run (two overlapping 3-gram spans):
    // doc 1 is the keeper and keeps it, doc 2 loses the whole run
    val docsDf = Seq(
      (1L, "x1 b1 b2 b3 b4 x2 x3"),
      (2L, "y1 y2 b1 b2 b3 b4 y3"),
      (3L, "z1 z2 z3 z4 z5"))
      .toDF("doc_id", "text")
    val out = Curation.dedupRepeatedSpans(docsDf, "doc_id", "text", n = 3, minDf = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"),
        r.getAs[Int]("n_tok_before"), r.getAs[Int]("n_tok_after")))
    assert(out(0) == ((1L, "x1 b1 b2 b3 b4 x2 x3", 7, 7)), "keeper must be untouched")
    assert(out(1) == ((2L, "y1 y2 y3", 7, 3)))
    assert(out(2) == ((3L, "z1 z2 z3 z4 z5", 5, 5)))
    // three docs sharing the span: min id keeps, BOTH others scrubbed,
    // including a repeated occurrence inside a non-keeper
    val three = Seq(
      (5L, "a1 a2 a3 c1 c2"),
      (7L, "d1 a1 a2 a3 d2 a1 a2 a3"),
      (9L, "e1 e2 a1 a2 a3"))
      .toDF("doc_id", "text")
    val threeOut = Curation.dedupRepeatedSpans(three, "doc_id", "text", n = 3, minDf = 2)
      .orderBy("doc_id").collect().map(_.getAs[String]("text"))
    assert(threeOut.toSeq == Seq("a1 a2 a3 c1 c2", "d1 d2", "e1 e2"))
    // within-keeper repetition survives (intra-doc repetition is the
    // scrub's job, not dedup's)
    val keeperRepeat = Seq(
      (1L, "a1 a2 a3 q1 a1 a2 a3"),
      (2L, "a1 a2 a3 c4 c5")).toDF("doc_id", "text")
    val krOut = Curation.dedupRepeatedSpans(keeperRepeat, "doc_id", "text", n = 3, minDf = 2)
      .orderBy("doc_id").collect().map(_.getAs[String]("text"))
    assert(krOut.toSeq == Seq("a1 a2 a3 q1 a1 a2 a3", "c4 c5"))
  }

  test("selectByTokenBudget equals the greedy quality-descending prefix, any partitioning") {
    import spark.implicits._
    val rnd = new scala.util.Random(31L)
    val rows = (1L to 400L).map(i => (i, rnd.nextInt(1000) / 1000.0, 1 + rnd.nextInt(50)))
    val df = rows.toDF("doc_id", "q", "n")
    val budget = 3000L
    // local greedy reference: walk (q desc, id), accumulate, keep while
    // the total BEFORE the doc is under budget
    val expected = rows.sortBy { case (id, q, _) => (-q, id) }
      .scanLeft((0L, 0L, 0L)) { case ((_, _, cum), (id, _, n)) => (id, cum, cum + n) }
      .tail.takeWhile(_._2 < budget).map(t => (t._1, t._2)).toMap
    val out = Curation.selectByTokenBudget(df, "doc_id", F.col("q"), F.col("n"), budget)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cum_before")).toMap
    assert(out == expected)
    // partition-count-invariant: 1 partition and 7 partitions agree
    assert(Curation.selectByTokenBudget(df, "doc_id", F.col("q"), F.col("n"), budget,
      partitions = 1).collect().map(_.getAs[Long]("doc_id")).toSet == expected.keySet)
    assert(Curation.selectByTokenBudget(df, "doc_id", F.col("q"), F.col("n"), budget,
      partitions = 7).collect().map(_.getAs[Long]("doc_id")).toSet == expected.keySet)
    // the boundary doc is included: selected tokens reach the budget
    val selectedTokens = rows.filter(t => expected.contains(t._1)).map(_._3.toLong).sum
    assert(selectedTokens >= budget)
  }

  test("scaledLong + integer-payload token budget are exact on half-way boundary scores (qd28 regression)") {
    import spark.implicits._
    // The raw quality scores the sf0.01 corpus actually produces for
    // several docs: exact products x·1e6 = NNN.5, where decimal round(x,6)
    // is a coin flip between engines (Spark HALF_UP on the decimal
    // expansion vs scaled-double rounding elsewhere). floor(x·1e6 + 0.5)
    // is two IEEE ops + floor — no tie mode, every engine agrees.
    val boundary = Seq(0.7703125, 0.8171875, 0.8640625)
    val micro = boundary.toDF("x")
      .select(TextFunctions.scaledLong(F.col("x"), 6).as("u"))
      .collect().map(_.getLong(0)).toList
    assert(micro == boundary.map(x => math.floor(x * 1e6 + 0.5).toLong))
    assert(micro == List(770313L, 817188L, 864063L))

    // And the token-budget selection ordered by the micro-quality LONG is
    // integer-exact end to end: greedy reference over (micro desc, id)
    val rows = boundary.zipWithIndex.map { case (q, i) => (i.toLong, q, 100L) } ++
      Seq((10L, 0.9, 100L), (11L, 0.1, 100L))
    val sel = Curation.selectByTokenBudget(rows.toDF("doc_id", "q", "n"), "doc_id",
        TextFunctions.scaledLong(F.col("q"), 6), F.col("n"), budget = 300L)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    // micro order: 10 (900000), 2 (864063), 1 (817188) fill the 300 budget
    assert(sel == Set(10L, 2L, 1L))
  }

  test("qualityMicro is all-integer, hand-verifiable, and tracks qualityScore within 2µ (qd05/qd28 regression)") {
    import spark.implicits._
    // Round 7 showed floor(raw_double·1e6 + 0.5) is NOT engine-portable:
    // the corpus puts raw scores exactly on half-micro boundaries, where
    // a one-ULP cross-engine difference in the raw double flips the
    // floor. qualityMicro never touches a double — pin its exact values
    // on hand-counted texts.
    //   "the cat sat on the mat.": ntok=6, len=23, punct=1, stop=2
    //     min(6·20000,4e5)=120000; 3e5 − (300000//23)=286957; min(5e5,3e5)=300000
    val handPinned = Seq(
      ("the cat sat on the mat.", 706957L),
      // ntok=1, len=1, punct=0, stop=0: 20000 + 300000 + 0
      ("x", 320000L),
      // all-punct 3-char doc: 60000·1? ntok=1 ("...") → 20000; punct=3,len=3
      // → 300000 − 300000 = 0; stop 0 → 20000
      ("...", 20000L))
    val got = handPinned.map(_._1).toDF("text")
      .select(TextFunctions.qualityMicro(F.col("text")).as("u"))
      .collect().map(_.getLong(0)).toList
    assert(got == handPinned.map(_._2).toList)

    // On the real corpus the integer score stays within 2 µ of the raw
    // double's micro image (two floor-divisions replace exact rationals)
    // and inside [0, 1e6] — same signal, engine-proof payload.
    val docs = graft.runtime.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val drift = docs.select(
        TextFunctions.qualityMicro(F.col("text")).as("u"),
        (TextFunctions.qualityScore(F.col("text")) * 1e6).as("raw"))
      .collect()
    assert(drift.nonEmpty)
    drift.foreach { r =>
      val (u, raw) = (r.getLong(0), r.getDouble(1))
      assert(u >= 0L && u <= 1000000L)
      assert(math.abs(u - raw) <= 2.0, s"micro=$u raw=$raw drifted > 2µ")
    }

    // And the budget selection over qualityMicro is partition-invariant
    // (the ordering key is a long — no double anywhere in the operator).
    val sel1 = Curation.selectByTokenBudget(docs, "doc_id",
        TextFunctions.qualityMicro(F.col("text")),
        TextFunctions.tokenCount(F.col("text")), budget = 2000L, partitions = 1)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val sel7 = Curation.selectByTokenBudget(docs, "doc_id",
        TextFunctions.qualityMicro(F.col("text")),
        TextFunctions.tokenCount(F.col("text")), budget = 2000L, partitions = 7)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(sel1 == sel7 && sel1.nonEmpty)
  }

  test("leakageSafeSplit keeps every near-dup cluster in one split, deterministically") {
    import spark.implicits._
    val docsDf = (1L to 200L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // chain 1-2-3 must co-locate; 10-11 must co-locate; rest are singletons
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a_id", "b_id")
    val splits = Seq(("train", 80), ("val", 10), ("test", 10))
    val out = Curation.leakageSafeSplit(docsDf, "doc_id", pairs, splits, "s1")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("component"), r.getAs[String]("split"))).toMap
    assert(out.size == 200)
    // cluster co-assignment, min-id component rep
    assert(Seq(1L, 2L, 3L).map(out(_)).distinct.size == 1)
    assert(out(1L)._1 == 1L)
    assert(Seq(10L, 11L).map(out(_)).distinct.size == 1)
    // no near-dup pair straddles splits
    Seq((1L, 2L), (2L, 3L), (10L, 11L)).foreach { case (a, b) =>
      assert(out(a)._2 == out(b)._2, s"pair ($a,$b) straddles splits")
    }
    // deterministic across runs, every split non-empty at these sizes,
    // and proportions roughly honored (hash-of-component, so exact
    // counts are data-dependent but 80% must dominate)
    val again = Curation.leakageSafeSplit(docsDf, "doc_id", pairs, splits, "s1")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    assert(again == out.map { case (k, v) => k -> v._2 })
    val byName = out.values.groupBy(_._2).view.mapValues(_.size).toMap
    assert(byName.keySet == Set("train", "val", "test"))
    assert(byName("train") > byName("val") && byName("train") > byName("test"))
    // a different seed reshuffles at least one assignment
    val reseeded = Curation.leakageSafeSplit(docsDf, "doc_id", pairs, splits, "s2")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    assert(reseeded != again)
  }

  test("domainQuota keeps exactly the k best rows per domain, ties broken by min id") {
    import spark.implicits._
    val df = Seq(
      (1L, "a", 0.9), (2L, "a", 0.7), (3L, "a", 0.9), (4L, "a", 0.1),
      (10L, "b", 0.5),
      (20L, "c", 0.3), (21L, "c", 0.3), (22L, "c", 0.3))
      .toDF("doc_id", "lang", "q")
    val out = Curation.domainQuota(df, "doc_id", "lang", F.col("q"), quota = 2)
      .orderBy("lang", "rank").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(out == Seq(
      ("a", 1, 1L, 0.9), ("a", 2, 3L, 0.9), // quality tie -> lower id ranks first
      ("b", 1, 10L, 0.5),                   // short domain keeps everything
      ("c", 1, 20L, 0.3), ("c", 2, 21L, 0.3)))
  }

  test("downsampleByDomain is deterministic, rate-monotone, and a pure row filter") {
    import spark.implicits._
    val df = (0 until 2000)
      .map(i => (i.toLong, if (i % 3 == 0) "en" else if (i % 3 == 1) "de" else "zh"))
      .toDF("doc_id", "lang")
    def run(rates: Map[String, Int]) =
      Curation.downsampleByDomain(df, "doc_id", "lang", rates, defaultRate = 10, seed = "s7")
        .collect().map(_.getAs[Long]("doc_id")).toSet
    val a = run(Map("en" -> 80, "de" -> 40))
    val b = run(Map("en" -> 80, "de" -> 40))
    assert(a == b, "same seed+rates must select identical rows")
    // raising a rate only ever adds rows (hash < rate is monotone in rate)
    val wider = run(Map("en" -> 95, "de" -> 40))
    assert(a.subsetOf(wider))
    // rough rate sanity on ~667 docs/domain
    val kept = Curation.downsampleByDomain(df, "doc_id", "lang",
        Map("en" -> 80, "de" -> 40), defaultRate = 10, seed = "s7")
      .groupBy("lang").count().collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Long]("count")).toMap
    assert(kept("en") > 450 && kept("en") < 640)
    assert(kept("de") > 180 && kept("de") < 350)
    assert(kept("zh") > 30 && kept("zh") < 110)
  }

  test("qualityWeightedSample keeps quality-correlated, deterministic subsets") {
    val docs = graft.runtime.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    def ids(floorRate: Double, ceilRate: Double) =
      Curation.qualityWeightedSample(docs, "doc_id", "text", "s9", floorRate, ceilRate)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    // boundary rates: (1,1) keeps everything, (0,0) keeps nothing
    assert(ids(1.0, 1.0).size == docs.count())
    assert(ids(0.0, 0.0).isEmpty)
    // deterministic and monotone in the ceiling
    val kept = ids(0.1, 0.6)
    assert(kept == ids(0.1, 0.6))
    assert(kept.subsetOf(ids(0.1, 1.0)))
    // the sample is quality-biased: mean quality of kept > mean of dropped
    val qs = docs.select(F.col("doc_id"),
        TextFunctions.qualityScore(F.col("text")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val keptQ = kept.toSeq.map(qs)
    val dropQ = (qs.keySet -- kept).toSeq.map(qs)
    assert(keptQ.nonEmpty && dropQ.nonEmpty)
    assert(keptQ.sum / keptQ.size > dropQ.sum / dropQ.size,
      "kept set is not quality-biased")
  }

  test("mixByWeights realizes per-domain epoch weights deterministically") {
    import spark.implicits._
    val df = (1L to 1000L).map(i => (i, s"dom${i % 4}")).toDF("doc_id", "source")
    val weights = Map("dom0" -> 3.0, "dom1" -> 0.5, "dom2" -> 0.0)
    val out = Curation.mixByWeights(df, "doc_id", "source", weights,
      defaultWeight = 1.0, seed = "mx")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("copy")))
    val copies = out.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    // integer weight: every dom0 doc gets exactly 3 copies, indexed 0..2
    (4L to 1000L by 4).foreach { i =>
      assert(copies(i) == Seq(0, 1, 2), s"doc $i: ${copies.get(i)}")
    }
    // zero weight drops the domain entirely
    assert((2L to 1000L by 4).forall(i => !copies.contains(i)))
    // default weight 1.0: exactly one copy
    assert((3L to 1000L by 4).forall(i => copies.get(i).contains(Seq(0))))
    // fractional weight 0.5: a (seed, id)-hash subset with one copy each;
    // realized rate near 0.5 and every kept doc has copy 0 only
    val dom1 = (1L to 1000L by 4).filter(copies.contains)
    assert(dom1.forall(i => copies(i) == Seq(0)))
    assert(dom1.size > 85 && dom1.size < 165, s"dom1 kept ${dom1.size}/250, expected ~125")
    // deterministic: same seed → same realization; new seed → different
    val again = Curation.mixByWeights(df, "doc_id", "source", weights,
      defaultWeight = 1.0, seed = "mx")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("copy"))).sorted
    assert(again.toSeq == out.sorted.toSeq)
    val other = Curation.mixByWeights(df, "doc_id", "source", weights,
      defaultWeight = 1.0, seed = "mx2")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("copy"))).sorted
    assert(other.toSeq != out.sorted.toSeq)
  }

  test("mixByWeights refuses a weight above maxEpochs loudly; explicit raise admits it") {
    import spark.implicits._
    val df = (1L to 8L).map(i => (i, "web")).toDF("doc_id", "source")
    // the fat-finger case the guard exists for: w = 100 typo for 1.00
    // would fan the corpus 100× — must fail at construction, not at write
    val e = intercept[IllegalArgumentException] {
      Curation.mixByWeights(df, "doc_id", "source", Map("web" -> 100.0),
        defaultWeight = 1.0, seed = "mx")
    }
    assert(e.getMessage.contains("maxEpochs"))
    intercept[IllegalArgumentException] {
      Curation.mixByWeights(df, "doc_id", "source", Map.empty[String, Double],
        defaultWeight = 11.0, seed = "mx")
    }
    // a deliberate heavy mix opts in by raising the cap explicitly
    val heavy = Curation.mixByWeights(df, "doc_id", "source", Map("web" -> 12.0),
      defaultWeight = 1.0, seed = "mx", maxEpochs = 12.0)
    assert(heavy.count() == 8 * 12)
  }

  test("deterministicShuffle shards completely with contiguous positions, seed-dependent order") {
    val docs = graft.runtime.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id")
    val n = docs.count()
    def run(seed: String) = Curation.deterministicShuffle(docs, "doc_id", seed, 4)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("shard"), r.getAs[Int]("pos")))
    val a = run("ep0")
    assert(a.length == n)
    assert(a.forall { case (_, s, _) => s >= 0 && s < 4 })
    // positions are contiguous 1..size within every shard
    a.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length).toSeq)
    }
    // deterministic; a different seed produces a different assignment
    assert(a.sortBy(_._1).toSeq == run("ep0").sortBy(_._1).toSeq)
    assert(a.sortBy(_._1).toSeq != run("ep1").sortBy(_._1).toSeq)
  }

  test("unigramLogProb matches hand-computed corpus frequencies") {
    import spark.implicits._
    val df = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val out = Curation.unigramLogProb(df, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tok"), r.getAs[Double]("avg_neg_logp"))).toMap
    // counts: a=2, b=2, c=1, total=5
    // doc 1: mean(-ln(2/5), -ln(2/5), -ln(2/5)) = ln(2.5) = 0.9163
    // doc 2: mean(-ln(2/5), -ln(1/5)) = (0.916291 + 1.609438)/2 = 1.2629
    assert(out(1L) == ((3L, 0.9163)))
    assert(out(2L) == ((2L, 1.2629)))
  }

  test("tfidfTopTerms ranks by tf·ln(N/df) with lexicographic ties") {
    import spark.implicits._
    val df = Seq(
      (1L, "apple apple banana"),
      (2L, "banana cherry"),
      (3L, "cherry durian durian")).toDF("doc_id", "text")
    val out = Curation.tfidfTopTerms(df, "doc_id", "text", 2)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("rank")) ->
        (r.getAs[String]("term"), r.getAs[Long]("tf"), r.getAs[Double]("score")))
      .toMap
    // N=3; df: apple 1, banana 2, cherry 2, durian 1
    assert(out((1L, 1)) == (("apple", 2L, 2.1972)))   // 2·ln 3
    assert(out((1L, 2)) == (("banana", 1L, 0.4055)))  // ln 1.5
    assert(out((3L, 1)) == (("durian", 2L, 2.1972)))
    // doc 2: banana and cherry tie at ln 1.5 — lexicographic order decides
    assert(out((2L, 1))._1 == "banana")
    assert(out((2L, 2))._1 == "cherry")
  }

  test("bm25TopDocs matches the hand formula; non-matching docs absent; tie cut on id") {
    import spark.implicits._
    val df = Seq(
      (1L, "spark join join"),          // dl 3: both terms
      (2L, "spark hash"),               // dl 2: one term ("hash" not queried)
      (3L, "other words here four"),    // dl 4: no query terms
      (4L, "spark hash")).toDF("doc_id", "text") // identical to doc 2: exact tie
    val out = Curation.bm25TopDocs(df, "doc_id", "text",
        queryTerms = Seq("spark", "join"), k = 10)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Long]("n_terms"), r.getAs[Double]("bm25"))))
    // N=4, avgdl=11/4; df: spark 3, join 1; k1=1.2, b=0.75
    def idf(dfreq: Double) = math.log(1.0 + (4 - dfreq + 0.5) / (dfreq + 0.5))
    def ts(tf: Double, dl: Double, dfreq: Double) =
      idf(dfreq) * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / 2.75))
    def r4(x: Double) = math.rint(x * 1e4) / 1e4
    val d1 = r4(ts(1, 3, 3) + ts(2, 3, 1))
    val d2 = r4(ts(1, 2, 3))
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 4L), s"order by (score desc, id): ${out.toSeq}")
    assert(out.toMap.apply(1L) == ((2L, d1)))
    assert(out.toMap.apply(2L) == ((1L, d2)))
    assert(out.toMap.apply(4L) == ((1L, d2)), "identical doc scores identically")
    assert(!out.exists(_._1 == 3L), "docs with no query term are not returned")
    // the top-k cut respects the deterministic order: k=2 keeps docs 1,2
    val cut = Curation.bm25TopDocs(df, "doc_id", "text", Seq("spark", "join"), k = 2)
      .collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(cut == Seq(1L, 2L))
  }

  test("bpeTokenCount diverges from whitespace counting exactly on punctuated text") {
    import spark.implicits._
    val r = Seq(Tuple1("v2.0! the-end")).toDF("text")
      .select(TextFunctions.bpeTokens(F.col("text")).as("t"),
        TextFunctions.bpeTokenCount(F.col("text")).as("n"),
        TextFunctions.tokenCount(F.col("text")).as("ws"))
      .collect()(0)
    assert(r.getSeq[String](r.fieldIndex("t")).toList ==
      List("v", "2", ".", "0", "!", " the", "-", "end"))
    assert(r.getAs[Int]("n") == 8)
    assert(r.getAs[Int]("ws") == 2)
  }

  test("repetitionStats computes Gopher repetition signals exactly") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b a b"),                       // phrase-loop doc
      (2L, "x y z w u v t s r q p o n m l k"),   // fully diverse doc
      (3L, "p q r p q r p q r"),                 // repeated-trigram doc
      (4L, "solo"))                              // too short for any n-gram
      .toDF("doc_id", "text")
    val out = Curation.repetitionStats(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap

    val d1 = out(1L)
    // 6 tokens, 2 distinct -> 4/6; "a b" x3 of 5 bigrams, 3*3 chars of 11;
    // both trigrams repeat -> 1.0 (raw exact-integer ratios, unrounded)
    assert(d1.getAs[Double]("dup_tok_frac") == 4.0 / 6.0)
    assert(d1.getAs[String]("top_bigram") == "a b")
    assert(d1.getAs[Double]("top_bigram_frac") == 9.0 / 11.0)
    assert(d1.getAs[Double]("dup_trigram_frac") == 1.0)
    assert(d1.getAs[Int]("keep") == 0)

    val d2 = out(2L)
    // all-distinct: tie on bigram count broken lexicographically ("x y"
    // is the first position but NOT the lexicographic min — "l k" is)
    assert(d2.getAs[Double]("dup_tok_frac") == 0.0)
    assert(d2.getAs[Double]("dup_trigram_frac") == 0.0)
    assert(d2.getAs[Int]("keep") == 1)

    val d3 = out(3L)
    // top count 3 shared by "p q" and "q r": lexicographic min wins
    assert(d3.getAs[String]("top_bigram") == "p q")
    assert(d3.getAs[Double]("top_bigram_frac") == 9.0 / 17.0)
    assert(d3.getAs[Double]("dup_trigram_frac") == 1.0)
    assert(d3.getAs[Int]("keep") == 0)

    val d4 = out(4L)
    // no bigrams/trigrams: NULL metrics, and NULL branches pass the filter
    assert(d4.getAs[Double]("dup_tok_frac") == 0.0)
    assert(d4.isNullAt(d4.fieldIndex("top_bigram")))
    assert(d4.isNullAt(d4.fieldIndex("dup_trigram_frac")))
    assert(d4.getAs[Int]("keep") == 1)
  }
}
