package graft.tools

import java.nio.file.{Files, Paths}
import java.time.{LocalDate, LocalDateTime, ZoneOffset}

import scala.util.Random

import graft.runtime.GraftSession
import graft.streaming.{BronzeStream, CorpusIngestStream, EmbeddingIngestStream, ScoringStream}

/** Streaming throughput benchmark against the reference's headline
  * numbers (BASELINE.md: 200-500 tx per 10 s micro-batch ≈ 20-50 tx/s
  * sustained on the CDC→bronze path; <1 s insert→alert on scoring).
  * Generates N Debezium envelopes, drives both streaming jobs with
  * processAllAvailable, prints one JSON line with tx/s per leg — plus
  * the two ingest-with-dedup legs the reference has no counterpart for:
  * corpus ingest (MinHash probe against a persisted index, ~10% planted
  * near-dups) in docs/s and embedding ingest (cell-local cosine dedup
  * against the IVF index) in vecs/s.
  *
  * Usage: runMain graft.tools.StreamBench [nRows] [nDocs] [nVecs] [legs]
  *
  * `legs` is a comma-set of bronze,score,sketch,corpus,embed (default
  * all) — a single leg on a quiet box measures that leg without the
  * earlier legs' JIT/page-cache heat bleeding into its wall time; the
  * JSON then carries only the run legs. `sketch` folds the bronze
  * output, so asking for it pulls `bronze` in.
  */
object StreamBench {

  private def envelope(rnd: Random, i: Int): String = {
    val ts = LocalDateTime.of(2024, 3, 1 + rnd.nextInt(20), rnd.nextInt(24), rnd.nextInt(60), 0)
    val us = ts.toInstant(ZoneOffset.UTC).toEpochMilli * 1000L
    val lat = 30 + rnd.nextDouble() * 15
    val lon = -120 + rnd.nextDouble() * 40
    val amt = math.round(rnd.nextDouble() * 900 * 100) / 100.0
    s"""{"after": {"trans_date_trans_time": "$us", "cc_num": "${100000L + rnd.nextInt(5000)}",
       | "merchant": "fraud_M${rnd.nextInt(50)}", "category": "misc_net", "amt": $amt,
       | "first": "B", "last": "U", "gender": "F", "street": "1 St", "city": "Austin",
       | "state": "TX", "zip": "73301", "lat": $lat, "long": $lon, "city_pop": "500000",
       | "job": "E", "dob": "${LocalDate.of(1980, 1, 1).toEpochDay}",
       | "trans_num": "SB_$i", "unix_time": "${us / 1000000L}",
       | "merch_lat": ${lat + 0.5}, "merch_long": ${lon + 0.5}, "is_fraud": "0"}}"""
      .stripMargin.replaceAll("\n", "")
  }

  /** Same hot-run self-identification as [[graft.Bench]]: the 1-minute
    * load is sampled at start and end so a run competing with another
    * workload is readable from the JSON.
    */
  private def loadavg(): Double = graft.Bench.loadavg()

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(60000)
    val load0 = loadavg()
    val spark = GraftSession.get("stream-bench")
    spark.sparkContext.setLogLevel("ERROR")
    val work = Paths.get("/tmp", s"graft-streambench-${System.nanoTime()}")
    val in = work.resolve("in")
    Files.createDirectories(in)
    val rnd = new Random(42L)
    val legSel = args.lift(3).map(_.split(",").toSet)
      .getOrElse(Set("bronze", "score", "sketch", "corpus", "embed", "dim", "predict"))
    val legs = if (legSel("sketch")) legSel + "bronze" else legSel
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]

    // several files so maxFilesPerTrigger paces like Kafka partitions
    if (legs("bronze") || legs("score")) (0 until 10).foreach { f =>
      val lines = (0 until n / 10).map(i => envelope(rnd, f * (n / 10) + i))
      Files.write(in.resolve(f"part$f%02d.jsonl"), String.join("\n", lines: _*).getBytes("UTF-8"))
    }

    def timed(label: String)(run: => Unit): Double = {
      val t0 = System.nanoTime()
      run
      val sec = (System.nanoTime() - t0) / 1e9
      sec
    }

    if (legs("bronze")) {
      val bronzeSec = timed("bronze") {
        val q = BronzeStream.start(spark, in.toString,
          work.resolve("bronze").toString, work.resolve("ckpt-b").toString)
        q.processAllAvailable(); q.stop()
      }
      val bronzeRows = spark.read.parquet(work.resolve("bronze").toString).count()
      parts += s""""bronze_rows":$bronzeRows,"bronze_sec":$bronzeSec,""" +
        s""""bronze_tx_per_sec":${(bronzeRows / bronzeSec).toLong}"""
    }

    if (legs("score")) {
      // untimed warmup (see the corpus leg): one small trigger into
      // scratch predictions/alerts/checkpoint dirs — a cold first trigger
      // spends most of the leg (7.7-10 s of 11-15 s at 60k rows on 4
      // cores) before its first Spark job. Its own Random keeps the
      // later legs' data unchanged.
      val warmIn = work.resolve("warm-score-in")
      Files.createDirectories(warmIn)
      val warmRnd = new Random(7L)
      Files.write(warmIn.resolve("part00.jsonl"), String.join("\n",
        (0 until 200).map(i => envelope(warmRnd, i)): _*).getBytes("UTF-8"))
      val warm = ScoringStream.start(spark, warmIn.toString,
        work.resolve("warm-preds").toString, work.resolve("warm-alerts").toString,
        work.resolve("warm-ckpt-s").toString)
      warm.processAllAvailable(); warm.stop()
      val scoreSec = timed("score") {
        val q = ScoringStream.start(spark, in.toString,
          work.resolve("preds").toString, work.resolve("alerts").toString,
          work.resolve("ckpt-s").toString)
        q.processAllAvailable(); q.stop()
      }
      val predRows = spark.read.parquet(work.resolve("preds").toString).count()
      parts += s""""score_rows":$predRows,"score_sec":$scoreSec,""" +
        s""""score_tx_per_sec":${(predRows / scoreSec).toLong}"""
    }

    // --- standing sketch service leg: per-batch HLL folds over the bronze
    // output (distinct cards per merchant), grains answered from binaries
    if (legs("sketch")) {
      val bronzeOut = work.resolve("bronze").toString
      val bronzeRows = spark.read.parquet(bronzeOut).count()
      val sketchSec = timed("sketch") {
        val q = graft.streaming.SketchStream.start(spark, bronzeOut,
          spark.read.parquet(bronzeOut).schema,
          work.resolve("sketch-table").toString, work.resolve("ckpt-sk").toString,
          keyCols = Seq("merchant"), valueCol = "cc_num")
        q.processAllAvailable(); q.stop()
      }
      val sketchGroups = graft.streaming.SketchStream
        .read(spark, work.resolve("sketch-table").toString, Seq("merchant")).count()
      parts += s""""sketch_rows":$bronzeRows,"sketch_groups":$sketchGroups,""" +
        s""""sketch_sec":$sketchSec,""" +
        s""""sketch_rows_per_sec":${(bronzeRows / sketchSec).toLong}"""
    }

    // --- corpus ingest leg: curated-dedup pipeline, ~10% planted near-dups
    import spark.implicits._
    def docText(r: Random) = Seq.fill(60)(s"w${r.nextInt(20000)}").mkString(" ")
    if (legs("corpus")) {
      // default 20k: the leg's ~5.5 s fixed commit overhead (four
      // idempotent writes + sub-second jobs per trigger) amortizes with
      // batch size, so docs/s is only comparable at a FIXED batch size —
      // round 12 committed a 5k-doc run against round 11's 20k-doc run
      // and the 650-vs-1,832 docs/s delta read as a regression when the
      // marginal per-doc cost was identical (~0.27 ms). Keep every
      // committed artifact at the same batch shape.
      val nDocs = args.lift(1).map(_.toInt).getOrElse(20000)
      val seedDocs = (0 until 500).map(i => (i.toLong, docText(rnd)))
      // untimed warmup — one small trigger through a scratch index warms
      // the codegen/JIT paths the timed leg then reuses (the same
      // convention as [[graft.Bench]]'s sf0.001 warmup pass; a solo cold
      // leg otherwise pays ~2 s of first-use compilation inside `timed`)
      val warmName = s"sb_warm_${System.nanoTime()}"
      graft.operators.NearDupIndex.build(
        seedDocs.take(100).toDF("doc_id", "text"), "doc_id", "text", warmName)
      try
        CorpusIngestStream.processBatch(spark,
          (0 until 500).map(i => (5000000L + i, docText(rnd))).toDF("doc_id", "text"),
          0L, work.resolve("warm-out").toString, warmName, 0.6,
          graft.operators.NearDupIndex.Config(), identity)
      finally
        Seq("_shingles", "_counts", "_buckets", "_meta", "_digest").foreach(s =>
          spark.sql(s"DROP TABLE IF EXISTS $warmName$s"))
      val corpusName = s"sb_corpus_${System.nanoTime()}"
      graft.operators.NearDupIndex.build(
        seedDocs.toDF("doc_id", "text"), "doc_id", "text", corpusName)
      val corpusIn = work.resolve("corpus-in")
      Files.createDirectories(corpusIn)
      var prevDoc = seedDocs.head._2
      val docLines = (0 until nDocs).map { i =>
        val t = if (i % 10 == 9) s"$prevDoc tail $i" else { prevDoc = docText(rnd); prevDoc }
        s"""{"doc_id": ${1000L + i}, "text": "$t"}"""
      }
      Files.write(corpusIn.resolve("docs.jsonl"),
        String.join("\n", docLines: _*).getBytes("UTF-8"))
      val (corpusSec, corpusKept) =
        try {
          val sec = timed("corpus") {
            val q = CorpusIngestStream.start(spark, corpusIn.toString,
              work.resolve("corpus-out").toString, work.resolve("ckpt-c").toString, corpusName)
            q.processAllAvailable(); q.stop()
          }
          (sec, spark.read.parquet(work.resolve("corpus-out").toString).count())
        } finally {
          // the index tables carry a unique run id — drop them (also on a
          // failed leg) or every run leaves four orphans in the warehouse
          Seq("_shingles", "_counts", "_buckets", "_meta", "_digest").foreach(s =>
            spark.sql(s"DROP TABLE IF EXISTS $corpusName$s"))
        }
      parts += s""""corpus_docs":$nDocs,"corpus_kept":$corpusKept,"corpus_sec":$corpusSec,""" +
        s""""corpus_docs_per_sec":${(nDocs / corpusSec).toLong}"""
    }

    // --- embedding ingest leg: cell-local cosine dedup vs the IVF index
    if (legs("embed")) {
      val nVecs = args.lift(2).map(_.toInt).getOrElse(20000)
      def vec(r: Random) = Array.fill(64)(r.nextGaussian())
      val seedVecs = (0 until 2000).map(i => (i.toLong, vec(rnd).toSeq))
      // untimed warmup (see the corpus leg): scratch IVF root, 500 vectors
      val warmRoot = work.resolve("sb-ivf-warm").toString
      graft.operators.IvfIndex.build(
        seedVecs.take(200).toDF("vec_id", "embedding"), "vec_id", "embedding", warmRoot)
      EmbeddingIngestStream.processBatch(spark,
        (0 until 500).map(i => (6000000L + i, vec(rnd).toSeq)).toDF("vec_id", "embedding"),
        0L, work.resolve("warm-emb-out").toString, warmRoot, 0.995)
      val ivfRoot = work.resolve("sb-ivf").toString
      graft.operators.IvfIndex.build(
        seedVecs.toDF("vec_id", "embedding"), "vec_id", "embedding", ivfRoot)
      val embIn = work.resolve("emb-in")
      Files.createDirectories(embIn)
      val vecLines = (0 until nVecs).map { i =>
        val v = if (i % 10 == 9) seedVecs(rnd.nextInt(2000))._2 else vec(rnd).toSeq
        s"""{"vec_id": ${10000L + i}, "embedding": [${v.mkString(",")}]}"""
      }
      Files.write(embIn.resolve("vecs.jsonl"),
        String.join("\n", vecLines: _*).getBytes("UTF-8"))
      val embSec = timed("embed") {
        val q = EmbeddingIngestStream.start(spark, embIn.toString,
          work.resolve("emb-out").toString, work.resolve("ckpt-e").toString, ivfRoot)
        q.processAllAvailable(); q.stop()
      }
      val embKept = spark.read.parquet(work.resolve("emb-out").toString).count()

      // same leg, single-probe gate (nProbeGate=1) against a fresh identical
      // index — quantifies what the default multi-probe (top-2 cells, fewer
      // face-straddling misses) costs per trigger. Fresh root/checkpoint so
      // the first leg's folds don't inflate this one's history.
      val ivfRoot1 = work.resolve("sb-ivf1").toString
      graft.operators.IvfIndex.build(
        seedVecs.toDF("vec_id", "embedding"), "vec_id", "embedding", ivfRoot1)
      val embSec1 = timed("embed-1probe") {
        val q = EmbeddingIngestStream.start(spark, embIn.toString,
          work.resolve("emb-out1").toString, work.resolve("ckpt-e1").toString, ivfRoot1,
          nProbeGate = 1)
        q.processAllAvailable(); q.stop()
      }
      val embKept1 = spark.read.parquet(work.resolve("emb-out1").toString).count()
      parts += s""""embed_vecs":$nVecs,"embed_kept":$embKept,"embed_sec":$embSec,""" +
        s""""embed_vecs_per_sec":${(nVecs / embSec).toLong},""" +
        s""""embed_1probe_kept":$embKept1,"embed_1probe_sec":$embSec1,""" +
        s""""embed_1probe_vecs_per_sec":${(nVecs / embSec1).toLong}"""

      // same leg against a LARGE-C index (C=512 > LiteralKernelMaxCells):
      // the standing default assigns EXACTLY through the broadcast-join
      // kernel route; the explicit two-level LITERAL kernel
      // (coarseProbesGate > 0) on an identical fresh index is the
      // contrast — what a stream whose index grew past a few hundred
      // cells would pay without the round-12 kernel routing
      val bigC = 512
      def bigIndex(tag: String): String = {
        val r = work.resolve(s"sb-ivf-$tag").toString
        graft.operators.IvfIndex.build(
          seedVecs.toDF("vec_id", "embedding"), "vec_id", "embedding", r,
          numCentroids = bigC)
        r
      }
      val rootAuto = bigIndex("bigc-join")
      val embSecBig = timed("embed-bigc-join-route") {
        val q = EmbeddingIngestStream.start(spark, embIn.toString,
          work.resolve("emb-out-bigc").toString,
          work.resolve("ckpt-e-bigc").toString, rootAuto)
        q.processAllAvailable(); q.stop()
      }
      val keptBig = spark.read.parquet(work.resolve("emb-out-bigc").toString).count()
      val rootTwo = bigIndex("bigc-twolevel")
      val embSecBigT = timed("embed-bigc-two-level-literal") {
        val q = EmbeddingIngestStream.start(spark, embIn.toString,
          work.resolve("emb-out-bigct").toString,
          work.resolve("ckpt-e-bigct").toString, rootTwo,
          coarseProbesGate = 6)
        q.processAllAvailable(); q.stop()
      }
      val keptBigT = spark.read.parquet(work.resolve("emb-out-bigct").toString).count()
      parts += s""""embed_bigc_cells":$bigC,"embed_bigc_kept":$keptBig,""" +
        s""""embed_bigc_sec":$embSecBig,""" +
        s""""embed_bigc_vecs_per_sec":${(nVecs / embSecBig).toLong},""" +
        s""""embed_bigc_twolevel_kept":$keptBigT,"embed_bigc_twolevel_sec":$embSecBigT,""" +
        s""""embed_bigc_twolevel_vecs_per_sec":${(nVecs / embSecBigT).toLong}"""
    }

    if (legs("dim")) {
      // CDC dimension maintenance: 40k change events over 8k keys in 4
      // micro-batches (churny: ~5 events/key, re-deliveries and true
      // changes mixed) → compaction → SCD2 → versioned snapshot per
      // batch. The per-trigger cost is the current-slice join plus the
      // dimension-sized snapshot write — events/s is the CDC drain rate.
      val nEvents = 40000
      val nKeys = 8000
      val dimIn = work.resolve("dim-in")
      Files.createDirectories(dimIn)
      val segs = Array("A", "B", "C", "D")
      (0 until 4).foreach { f =>
        val lines = (0 until nEvents / 4).map { i =>
          val k = rnd.nextInt(nKeys)
          val ts = f"2024-02-${f + 1}%02d ${10 + rnd.nextInt(10)}%02d:00:00"
          s"""{"k": $k, "seg": "${segs(rnd.nextInt(4))}", "ts": "$ts"}"""
        }
        val p = dimIn.resolve(f"c$f%02d.jsonl")
        Files.write(p, String.join("\n", lines: _*).getBytes("UTF-8"))
        // strictly increasing mtimes: the file source orders batches by
        // modification time and back-to-back writes tie on it
        Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(
            System.currentTimeMillis() - 3600000L + f * 10000L))
      }
      val dimPath = work.resolve("dim").toString
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("seg",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType)))
      val dimSec = timed("dim") {
        val q = graft.streaming.DimMaintenanceStream.start(spark, dimIn.toString,
          dimPath, work.resolve("ckpt-dim").toString, schema, "k", "ts",
          trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L),
          maxFilesPerTrigger = 1)
        q.processAllAvailable(); q.stop()
      }
      val dimRows = graft.layers.Snapshots.read(spark, dimPath).count()
      val dimVersions = graft.layers.Snapshots.versions(spark, dimPath).size
      parts += s""""dim_events":$nEvents,"dim_keys":$nKeys,"dim_sec":$dimSec,""" +
        s""""dim_events_per_sec":${(nEvents / dimSec).toLong},""" +
        s""""dim_rows":$dimRows,"dim_versions":$dimVersions"""
    }

    // --- single-row serving latency: the reference's headline is
    // "<100 ms /predict/raw" (docs/DEVELOPER_GUIDE.md:1299-1316, HTTP →
    // FastAPI → model → Postgres per row); the engine's counterpart is
    // Predictor (same scoring kernel as the stream, no network hop).
    // Measured steady-state: one construction + warm calls absorb
    // planning/codegen (the documented first-call second), then each call
    // is a fresh envelope through parse → features → score → collect.
    if (legs("predict")) {
      val pred = graft.scoring.Predictor.ruleOnly(spark)
      (0 until 5).foreach(i => pred.predictEnvelope(envelope(rnd, 900000 + i)))
      val lats = (0 until 50).map { i =>
        val env = envelope(rnd, 910000 + i)
        val t0 = System.nanoTime()
        val r = pred.predictEnvelope(env)
        require(r.nonEmpty, "predict leg: envelope must score")
        (System.nanoTime() - t0) / 1e6
      }.sorted
      def ms(v: Double): Double = math.round(v * 10) / 10.0
      // predict_fast_path proves the prepared-plan path produced these
      // latencies — a silent construction fallback would otherwise let a
      // ~140 ms regime masquerade as the pinned 10.9 ms one (VERDICT r9 #5)
      parts += s""""predict_calls":${lats.size},""" +
        s""""predict_p50_ms":${ms(lats(lats.size / 2))},""" +
        s""""predict_p95_ms":${ms(lats(lats.size * 95 / 100 - 1))},""" +
        s""""predict_fast_path":${pred.fastPathActive},""" +
        s""""predict_slow_collects":${pred.slowCollects},""" +
        s""""baseline_predict_ms":"<100 (reference /predict/raw)""""
    }

    val line =
      s"""{"metric":"stream_throughput","unit":"tx_per_sec",""" +
        s""""load_start":$load0,"load_end":${loadavg()},""" +
        parts.mkString(",") + "," +
        s""""baseline_tx_per_sec":"20-50 (BASELINE.md streaming throughput)"}"""
    // committed artifact (VERDICT r8 #2): the ingest/serving headline
    // numbers become round-over-round diffable instead of SURVEY prose.
    // Same convention as Bench's docs/BENCH_DETAIL.json — written when the
    // tool runs from the repo root; the stdout line stays the record.
    try {
      val w = new java.io.PrintWriter("docs/BENCH_STREAM.json")
      try w.println(line) finally w.close()
    } catch { case t: Throwable =>
      System.err.println(s"[streambench] artifact not written: ${t.getMessage}")
    }
    println(line)
    spark.stop()
  }
}
