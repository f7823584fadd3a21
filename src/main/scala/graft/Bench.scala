package graft

import org.apache.spark.sql.SparkSession

import graft.runtime.GraftSession

/** Benchmark main — prints ONE JSON line with per-query seconds at
  * SPARK_GRAFT_SF_DIR.
  *
  * Measurement protocol (tuned until two consecutive sf0.1 runs agree,
  * round-2 showed ±40% run-over-run drift with best-of-2 and no per-query
  * warm rep):
  *   1. one pass of every query at sf0.001 (JIT + codegen compilation);
  *   2. per query at the target SF: one UNTIMED rep (first-touch file
  *      listing, page cache, per-plan codegen), then 3 timed reps;
  *   3. per-query value = min of the timed reps (robust location
  *      estimator); every rep is reported under "reps" so variance is
  *      visible to the reader, not averaged away.
  *
  * Measured (round 3): consecutive sf0.1 totals 18.71s / 18.47s — 1.3%
  * run-over-run, vs ±42% across rounds 1→2 under the old protocol; after
  * growing the suite to 60 queries, a second pair read 19.85s / 18.30s
  * (8%, first run launched right after a full-test write workload). As
  * the suite grew 64 → 68 queries, a seven-run sequence read 23.9 / 22.4
  * / 22.5 / 23.5 / 23.6 / 23.1 / 24.5s — ±4% around the mean with each
  * run launched right after heavy compile/test activity. A run started
  * minutes after a heavy WRITE workload (page-cache writeback still
  * draining) can still read high across the board; benchmark on a quiet
  * machine.
  *
  * Cache discipline (round 5, root cause of the qd07/qd08 rep₀ spikes
  * AND of the r3→r4 qd08 0.50 vs 1.27 "regression"): several dedup
  * operators `.cache()` their shingle relation internally. Spark's
  * CacheManager keys entries by analyzed plan, so rep 2/3 of the SAME
  * query silently reused rep 1's materialized cache — min-of-3 measured
  * the cache-HIT path (qd08 reps [6.07, 1.50, 1.27]), a number a fresh
  * run at scale never sees, and whether it read 0.5 or 1.3 depended on
  * eviction pressure from earlier queries' accumulated entries. Every
  * rep (warm and timed) now runs after `spark.catalog.clearCache()`:
  * each rep measures the full recompute, min-of-3 is an honest
  * cold-cache number, and cross-query eviction noise is gone. Dedup
  * totals rise accordingly — that is the artifact disappearing, not a
  * slowdown. A rep₀/min > 3 alert on stderr flags any query whose
  * first rep still spikes (JIT-class effects the warm pass missed).
  *
  * Failure accounting: a rep that throws yields a -1 sentinel. A query
  * whose every rep failed reports -1 and is listed under "failed", and is
  * EXCLUDED from the "total" sum — so a broken build can neither
  * masquerade as fast nor subtract time from the headline number.
  *
  * Host-load evidence: both JSON artifacts carry `"load"` — the 1-minute
  * `/proc/loadavg` figure sampled when measurement starts. Round 5's
  * driver run read 34.8 s total where three independent quiet runs read
  * 28.9–31.5 s, purely because the driver benches right after a 251 s
  * correctness suite on the same box; the load field makes such a hot run
  * self-identifying without a re-run. Reading: this box has 32 cores and
  * the bench itself drives them, so a load sampled at start that already
  * exceeds ~4 means another workload is competing — treat totals as
  * inflated and prefer a quiet-run artifact (docs/BENCH_DETAIL.json is
  * committed from one). -1 = /proc/loadavg unreadable (non-Linux host).
  *
  * Output-size contract (learned from BENCH_r03.json, "parsed": null):
  * the driver keeps only the LAST ~2000 chars of stdout and parses the
  * final JSON line found inside that window. Round 3's line carried full
  * query names plus 3-rep arrays (~4 KB) and its start fell outside the
  * window, so the round recorded no parseable bench at all. The final
  * line therefore uses the short unique query id (the prefix before the
  * first '_': q01, qa03, qd20, qe05, ql06) and 3-decimal seconds, and is
  * kept under ~1900 chars even if the suite grows past 100 queries. Full
  * names + every rep go only to docs/BENCH_DETAIL.json (committed when
  * Bench is run locally) — even printing that ~4 KB line to stdout would
  * crowd the compact line out of the window.
  */
object Bench {

  val TimedReps = 3

  /** 1-minute /proc/loadavg figure, or -1 off-Linux — shared by every
    * bench main that stamps its JSON with host-load evidence.
    */
  private[graft] def loadavg(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split(" ")(0).toDouble finally src.close()
    } catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmDir = "/root/testdata/sf0.001"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder("graft-bench", cpus)
      .config("spark.sql.shuffle.partitions", cpus) // see Verify
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // "qd20_incremental_dedup" -> "qd20"; ids are unique across the suite.
    // Validated FIRST — a collision must abort before minutes of timed
    // measurement, not after.
    def shortId(name: String): String = name.takeWhile(_ != '_')
    require(SparkEntry.queries.keys.map(shortId).toSeq.distinct.size
        == SparkEntry.queries.size,
      "short query ids must stay unique — rename the colliding query")

    // QUIET-WAIT (round 15, after BENCH_r14 landed as a hot-box artifact
    // at load 2.41 and broke round-over-round comparability): when the
    // box is busy at start, wait in bounded 30 s steps — up to 10 min —
    // for the 1-minute load to drop below the hot threshold before any
    // timed work. A bench that starts hot measures the OTHER workload;
    // ten minutes of waiting is cheaper than a round of misleading
    // numbers. SPARK_GRAFT_NO_WAIT=1 skips (dev iteration).
    if (!sys.env.get("SPARK_GRAFT_NO_WAIT").contains("1")) {
      var waited = 0
      while (Bench.loadavg() >= 1.5 && waited < 600) {
        System.err.println(f"[bench] load ${Bench.loadavg()}%.2f >= 1.5 — " +
          s"waiting for a quiet box (${waited}s/600s)")
        Thread.sleep(30000); waited += 30
      }
      if (Bench.loadavg() >= 1.5)
        System.err.println("[bench] box never went quiet within 10 min — " +
          "proceeding; the artifact will be marked hot")
    }

    // sampled BEFORE the warm pass: the warm pass itself saturates the
    // box, so a later sample would always read high and identify nothing
    val load: Double = Bench.loadavg()

    // SPARK_GRAFT_ONLY=qd06,qd07 — iterate on a kernel subset without the
    // ~6 min full pass. DEV ONLY: a filtered run writes a partial detail
    // file, so never commit docs/BENCH_DETAIL.json from one (the "only"
    // stamp in the artifact makes a partial run self-identifying).
    val only: Set[String] = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
    val selected = SparkEntry.queries.filter { case (name, _) =>
      only.isEmpty || only.contains(shortId(name)) }

    if (new java.io.File(warmDir).exists()) {
      selected.foreach { case (_, fn) =>
        try fn(spark, warmDir).count() catch { case _: Throwable => () }
      }
    }

    def timeOnce(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      // every rep pays the full recompute — see "Cache discipline" above
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
      catch { case t: Throwable =>
        System.err.println(s"[bench] $name failed: ${t.getMessage}"); -1.0
      }
    }

    val results: Seq[(String, Seq[Double])] = selected.toSeq.map {
      case (name, fn) =>
        timeOnce(name, fn) // untimed warm rep at the target SF
        name -> (1 to TimedReps).map(_ => timeOnce(name, fn))
    }

    def fmt(v: Double): String = (math.round(v * 10000) / 10000.0).toString
    // 3 decimals for the size-bounded final line: 1 ms resolution is below
    // this bench's run-over-run noise floor (~4%), so nothing is lost.
    def fmt3(v: Double): String = (math.round(v * 1000) / 1000.0).toString
    val perQuery = results.map { case (name, reps) =>
      name -> reps.filter(_ >= 0).minOption.getOrElse(-1.0)
    }
    val failed = perQuery.collect { case (name, v) if v < 0 => name }
    val total = perQuery.collect { case (_, v) if v >= 0 => v }.sum

    results.foreach { case (name, reps) =>
      val ok = reps.filter(_ >= 0)
      // guard on rep0 itself being valid — a failed LATER rep must not
      // suppress the spike diagnostic for a successful first rep (ok
      // then necessarily contains rep0, so ok.min is defined)
      if (reps.headOption.exists(_ >= 0) && reps.head / ok.min > 3)
        System.err.println(f"[bench] WARNING $name rep0 ${reps.head}%.2fs is " +
          f"${reps.head / ok.min}%.1fx its min ${ok.min}%.2fs — warm pass not absorbing startup cost")
    }

    val qs = perQuery.map { case (k, v) => s"\"${shortId(k)}\":${fmt3(v)}" }
      .mkString("{", ",", "}")
    val repsJson = results.map { case (k, reps) =>
      s"\"$k\":[${reps.map(fmt).mkString(",")}]"
    }.mkString("{", ",", "}")
    val failedJson = failed.map(f => "\"" + shortId(f) + "\"")
      .mkString("[", ",", "]")

    // a filtered dev run stamps itself so a partial detail file can never
    // pass as a full-suite artifact
    val onlyStamp = if (only.isEmpty) "" else s""""only":${only.size},"""
    val detail =
      s"""{"metric":"detail",$onlyStamp"value":${fmt(total)},"unit":"sec","load":${fmt(load)},""" +
      s""""reps":$repsJson,"sf":"$sfDir"}"""
    val line =
      s"""{"metric":"total","value":${fmt3(total)},"unit":"sec","load":${fmt(load)},""" +
      s""""queries":$qs,"failed":$failedJson,"sf":"$sfDir"}"""

    spark.stop()
    // Full names + all reps go ONLY to the detail file (committed when Bench
    // is run locally) — printing the ~4 KB detail line would itself crowd the
    // compact line out of the driver's tail window.
    //
    // Clobber guard (round 10): docs/BENCH_DETAIL.json is the COMMITTED
    // quiet-run ledger, and round 9's end-of-round driver run (load 4.05)
    // silently overwrote the committed quiet artifact (load 0.94) in the
    // working tree — a blind commit would then have recorded a phantom 40%
    // regression. A run that starts on a busy box (load ≥ 1.5 on this
    // 32-core host ≈ another workload competing, see "Host-load evidence"
    // above) now writes to BENCH_DETAIL.hot.json (gitignored) instead, so a
    // hot run can never replace the quiet ledger. Filtered dev runs go to
    // the side path too — the "only" stamp already marks them non-canonical.
    val detailPath =
      if (load >= 0 && load < 1.5 && only.isEmpty) "docs/BENCH_DETAIL.json"
      else {
        // three distinct reasons, named precisely: a filtered dev run, an
        // unreadable /proc/loadavg (non-Linux: quietness unprovable, so the
        // committed ledger is never updated there), or a genuinely hot box
        val why =
          if (only.nonEmpty) "filtered (SPARK_GRAFT_ONLY) run"
          else if (load < 0) "load unavailable (/proc/loadavg unreadable — non-Linux host?)"
          else f"load $load%.2f >= 1.5"
        System.err.println(s"[bench] $why — " +
          "writing docs/BENCH_DETAIL.hot.json; the committed quiet ledger is untouched")
        "docs/BENCH_DETAIL.hot.json"
      }
    try {
      val w = new java.io.PrintWriter(detailPath)
      try w.println(detail) finally w.close()
    } catch { case t: Throwable =>
      System.err.println(s"[bench] detail file not written: ${t.getMessage}")
    }
    // the bare compact JSON line is the LAST thing on stdout — the driver's
    // record, and it must START inside the driver's 2000-char tail window
    System.out.println(line)
    System.out.flush()
    if (line.length > 1900)
      System.err.println(s"[bench] WARNING final line ${line.length} chars — driver may truncate")
  }
}
