package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.LinkedBlockingQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{functions => F}

import graft.ingest.Debezium
import graft.layers.{AtomicAppend, Gold, IncrementalView, OccTable, Silver, Snapshots}
import graft.views.GoldViews

/** `etl_cycle`: CDC files land on a schedule while micro-batch ETL cycles,
  * each a compressed run of the reference's 5-minute DAG, start every
  * [[dagPeriodMs]] (at once when the previous one overran). A cycle takes
  * every file landed since the previous one and calls the layers' batch entry points in order: bronze
  * (Debezium parse + partitioned append), [[Silver.transform]] +
  * [[Silver.write]], [[Gold.build]] + [[Gold.write]],
  * [[IncrementalView.refreshFromAppendsPruned]], and a [[GoldViews]]
  * freshness probe that must see the new batch; then it records the batch's
  * files in an ingest log kept as an [[OccTable]]. Latency runs from a
  * file's landing to the end of the probe that sees it. The lakehouse starts
  * empty and grows.
  */
object EtlCycle {
  /** The landing schedule: one file of [[eventsPerFile]] envelopes every [[periodMs]]. */
  val periodMs = 250L
  val eventsPerFile = 20
  /** The set-up's initial load, so that the window's cycles run against
    * committed history (many times the rows of a window batch) rather than
    * a near-empty lakehouse.
    */
  val initialEvents = 3000
  /** The DAG's schedule, the reference's 5 minutes compressed: about one
    * and a half cycle times on a quiet 4-core box, so cycles keep to it
    * unless the host slows them down by half.
    */
  val dagPeriodMs = 8000L
  /** Files land for one DAG period before the window's first file is due. */
  val warmUpMs = dagPeriodMs
  val viewGroup = Seq("transaction_category")
  val viewMeasures = Seq("transaction_amount")
  val goldTables = Seq("dim_customer", "dim_merchant", "dim_time", "dim_location", "fact_transactions")

  final class State(val dir: Path, val gen: Gen) {
    val land: Path = Files.createDirectories(dir.resolve("land"))
    val stage: Path = Files.createDirectories(dir.resolve("stage"))
    val bronze: String = dir.resolve("bronze").toString
    val silver: String = dir.resolve("silver").toString
    val gold: String = dir.resolve("gold").toString
    val fact: String = s"$gold/fact_transactions"
    val view: String = dir.resolve("view_by_category").toString
    val log: String = dir.resolve("ingest_log").toString
    var files = 0
    var cycles = 0
    /** The silver high-water mark's model: an event newer than every event
      * accepted by an earlier cycle reaches gold; late and replayed ones do not.
      */
    var hwm: Option[Long] = None
    var expectedFact = 0L
    var landedLines = 0L
    var logged = 0L
  }

  /** Land a file: write it aside, then move it in atomically. */
  private def land(s: State, f: CdcFile): Path = {
    val tmp = s.stage.resolve(f"batch${f.index}%06d.json")
    Files.write(tmp, f.lines.asJava)
    Files.move(tmp, s.land.resolve(tmp.getFileName), StandardCopyOption.ATOMIC_MOVE)
  }

  private def next(s: State, events: Int): CdcFile = { s.files += 1; s.gen.file(s.files - 1, events) }

  /** One cycle over `batch`, landed files in landing order; returns when
    * the probe ended (epoch ns) and whether it saw every accepted row.
    */
  private def cycle(ctx: Ctx, s: State, batch: Seq[(CdcFile, Path)]): (Long, Boolean) = ctx.tracer.asRequest {
    val spark = ctx.spark
    val t = ctx.tracer
    t.span("ingest", "bronze") {
      val raw = spark.read.text(batch.map(_._2.toString): _*).withColumnRenamed("value", "json_string")
      Debezium.withBronzeColumns(Debezium.parse(raw))
        .write.mode("append").partitionBy("year", "month", "day").parquet(s.bronze)
    }
    val slice = t.span("layers.Silver", "Silver.transform+write") {
      val existing = AtomicAppend.readIfExists(spark, s.silver)
      val sl = Silver.transform(spark.read.parquet(s.bronze), existing).cache()
      Silver.write(sl, s.silver, Some(s.cycles.toLong))
      sl
    }
    t.span("layers.Gold", "Gold.build+write") {
      Gold.write(Gold.build(slice, name => Gold.read(spark, s.gold, name)), s.gold,
        Some(s.cycles.toLong))
    }
    slice.unpersist()
    t.span("layers.IncrementalView", "refreshFromAppendsPruned") {
      IncrementalView.refreshFromAppendsPruned(spark, s.fact, s.view, "transaction_timestamp",
        viewGroup, viewMeasures)
    }
    // the mark is the existing silver's, so every file of one batch is
    // filtered against the same mark
    val accepted = batch.flatMap(_._1.inserts).filter(e => s.hwm.forall(e.tsSec > _))
    if (accepted.nonEmpty) s.hwm = Some((s.hwm.toSeq ++ accepted.map(_.tsSec)).max)
    s.expectedFact += accepted.size
    s.landedLines += batch.map(_._1.lines.size).sum
    val seen = t.span("views", "GoldViews probe") {
      GoldViews.registerAll(spark, goldTables.map(n => n -> Gold.read(spark, s.gold, n).get).toMap)
      spark.sql("SELECT SUM(total_transactions) FROM daily_summary").head().getLong(0)
    }
    val probed = Clock.nowNs
    t.span("layers.OccTable", "OccTable.append") {
      import spark.implicits._
      OccTable.append(batch.map(b => (s.cycles.toLong, b._2.getFileName.toString, b._1.lines.size))
        .toDF("cycle", "file", "envelopes"), s.log)
    }
    s.logged += batch.size
    s.cycles += 1
    (probed, seen == s.expectedFact)
  }

  private def setup(ctx: Ctx, dir: Path): State = {
    // a replay repeats an insert landed at least 20 files (5 s) earlier, so
    // it mostly meets its original's batch in an earlier cycle
    val s = new State(dir, new Gen(ctx.seed, secondsPerFile = 900L, replayLagFiles = 20))
    OccTable.create(ctx.spark, s.log)
    val f = next(s, initialEvents)
    cycle(ctx, s, Seq((f, land(s, f)))) // the lakehouse's initial load; also warms the path up
    s
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val (s, setupS) = ctx.setups(3)(setup(ctx, _))(_ => ())
    val setUpCycles = s.cycles
    // the schedule: warm-up files for warmUpMs, in a traced run an untraced
    // baseline window's files, then the window's
    val nWarm = (warmUpMs / periodMs).toInt
    val nFiles = (ctx.seconds * 1000L / periodMs).toInt
    val nBase = if (ctx.traced) nFiles else 0
    val files = (0 until nWarm + nBase + nFiles).map(_ => next(s, eventsPerFile))
    val start = Clock.nowNs + 50000000L
    val t0 = start + nWarm * periodMs * 1000000L // the first baseline file is due
    val t1 = t0 + nBase * periodMs * 1000000L // the first window file is due
    val landed = new LinkedBlockingQueue[(CdcFile, Path, Long, Long)]() // (file, path, due, landed)
    val lateMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val producer = new Thread(() => files.zipWithIndex.foreach { case (f, i) =>
      val due = start + i * periodMs * 1000000L
      val wait = (due - Clock.nowNs) / 1000000L
      if (wait > 0) Thread.sleep(wait)
      val p = land(s, f)
      val now = Clock.nowNs
      lateMs.add((now - due) / 1e6)
      landed.add((f, p, due, now))
    }, "loadgen")
    val latencies = mutable.ArrayBuffer.empty[Double]
    val baseLatencies = mutable.ArrayBuffer.empty[Double]
    val cycleMs = mutable.ArrayBuffer.empty[Double]
    val batchSizes = mutable.ArrayBuffer.empty[Int]
    var failed = 0L
    var lastProbe = 0L
    // the DAG's ticks fall half a file period past a landing, so which
    // files a cycle takes does not depend on thread timing; as with Spark's
    // processing-time trigger, the next cycle is due at the first tick after
    // this one began, and begins at once when that has passed
    val period = dagPeriodMs * 1000000L
    val firstTick = start + periodMs * 1000000L / 2
    var due = firstTick
    /** Wait for the next cycle to be due; returns when it begins. */
    def awaitCycle(): Long = {
      val wait = (due - Clock.nowNs) / 1000000L
      if (wait > 0) Thread.sleep(wait)
      val c0 = Clock.nowNs
      due = firstTick + (Math.floorDiv(c0 - firstTick, period) + 1) * period
      c0
    }
    /** One cycle, begun at `c0`, over what has landed; returns whether it
      * took the schedule's last file. A baseline cycle records the latency
      * of the baseline files it took.
      */
    def step(c0: Long, phase: String): Boolean = {
      val batch = mutable.ArrayBuffer(landed.take())
      landed.drainTo(batch.asJava)
      val (probed, ok) = cycle(ctx, s, batch.map(b => (b._1, b._2)).toSeq)
      if (!ok) failed += 1
      lastProbe = probed
      def latency(from: Long) = batch.filter(_._3 >= from).map(b => (probed - b._4) / 1e6)
      phase match {
        case "warm-up" =>
        case "baseline" => baseLatencies ++= latency(t0)
        case "window" =>
          cycleMs += (Clock.nowNs - c0) / 1e6
          batchSizes += batch.size
          latencies ++= latency(t1)
      }
      batch.exists(_._1 eq files.last)
    }
    producer.start()
    var cycles0, lines0 = 0L
    try {
      // untimed cycles over warm-up files while they begin before the
      // first baseline or window file is due; a cycle takes only files
      // landed before it began, so window files (due from t1 on) are taken
      // by window cycles alone
      var c0 = awaitCycle()
      var last = false
      def runUntil(until: Long, phase: String): Unit =
        while (!last && c0 < until) { last = step(c0, phase); if (!last) c0 = awaitCycle() }
      runUntil(t0, "warm-up")
      runUntil(t1, "baseline")
      ctx.startTracing()
      cycles0 = s.cycles.toLong
      lines0 = s.landedLines
      ctx.measured(runUntil(Long.MaxValue, "window"))
    } finally producer.join()
    // a file that lands between a cycle's start and its draining of the
    // queue goes to that cycle: a window file taken by a cycle begun before
    // t1 would go untimed, and counts as a failure
    if (latencies.size != nFiles) failed += 1
    val cycles = (s.cycles - cycles0).toInt
    if (ctx.corrupt) // one fact row the generator never produced
      AtomicAppend.append(AtomicAppend.read(spark, s.fact).limit(1), s.fact)
    val failures = check(ctx, s)

    val layer = mutable.Map.empty[String, Double]
    if (ctx.traced) {
      val t = ctx.tracer
      val spans = t.all.filter(sp => sp.startNs >= ctx.window._1 && sp.endNs <= ctx.window._2)
      def p50(name: String) = Stats.median(spans.filter(_.name == name).map(_.ms))
      val p = ctx.probes.get
      val jobs = p.jobsIn(ctx.window)
      val writes = spans.filter(sp => sp.layer == "layers.Silver" || sp.layer == "layers.Gold")
      layer ++= Map(
        "ingest.bronze_ms_p50" -> p50("bronze"),
        "layers.Silver.transform_write_ms_p50" -> p50("Silver.transform+write"),
        "layers.Gold.build_write_ms_p50" -> p50("Gold.build+write"),
        "layers.IncrementalView.refresh_ms_p50" -> p50("refreshFromAppendsPruned"),
        "views.probe_ms_p50" -> p50("GoldViews probe"),
        // analysis + optimization + planning of every action one probe runs
        // (the view registrations and the query)
        "views.plan_ms_p50" -> Stats.median(spans.filter(_.name == "GoldViews probe").map(pr =>
          p.queriesIn((pr.startNs, pr.endNs)).map(_._2).sum)),
        "layers.OccTable.append_ms_p50" -> p50("OccTable.append"),
        "layers.AtomicAppend.driver_ms_per_cycle" ->
          writes.map(w => Intervals.uncoveredMs((w.startNs, w.endNs), jobs)).sum / math.max(1, cycles),
        "layers.Hwm.rows_read_per_row_landed" ->
          ctx.runtimeDelta.getOrElse("records_read", 0.0) / math.max(1L, s.landedLines - lines0),
        "runtime.jobs_per_cycle" -> jobs.size.toDouble / math.max(1, cycles),
        "runtime.shuffle_bytes_per_cycle" -> ctx.runtimeDelta.getOrElse("shuffle_bytes", 0.0) / math.max(1, cycles))
    }
    Outcome(
      attempted = (s.cycles - setUpCycles).toLong,
      failed = failed,
      checkFailures = failures,
      setupS = setupS,
      latenciesMs = latencies.toSeq,
      baselineLatenciesMs = baseLatencies.toSeq,
      // sustained throughput: the window's envelopes over the time from the
      // first one due to the last probe; it falls when cycles overrun the
      // schedule and a backlog builds
      opsPerS = (nFiles * eventsPerFile) / math.max(1e-9, (lastProbe - t1) / 1e9),
      tableBytesPerLiveByte = TableSize.ratio(java.nio.file.Paths.get(s.fact),
        AtomicAppend.read(spark, s.fact), ctx.work.resolve("rewrite")),
      layer = layer.toMap,
      info = Map(
        "offered" -> f"${eventsPerFile * 1000.0 / periodMs}%.0f envelopes/s in ${1000 / periodMs} files/s",
        "cycles" -> cycles, "files_per_cycle" -> batchSizes.toSeq, "cycle_ms" -> cycleMs.map(_.round),
        "batches_before_window" -> cycles0, "fact_rows" -> s.expectedFact,
        "loadgen_late_ms_max" -> lateMs.asScala.maxOption.getOrElse(0.0)))
  }

  /** Fact rows match the generator's model; dimension keys are unique; the
    * maintained view equals a GROUP BY recompute of the fact; the ingest log
    * holds one row per landed file.
    */
  private def check(ctx: Ctx, s: State): Seq[String] = {
    val spark = ctx.spark
    val out = mutable.ArrayBuffer.empty[String]
    val fact = AtomicAppend.read(spark, s.fact)
    val n = fact.count()
    if (n != s.expectedFact) out += s"etl_cycle: fact has $n rows, model expects ${s.expectedFact}"
    Seq("dim_customer" -> Seq("customer_key"), "dim_merchant" -> Seq("merchant", "merchant_lat", "merchant_long"),
      "dim_time" -> Seq("time_key"), "dim_location" -> Seq("city", "state", "zip")).foreach { case (t, keys) =>
      val d = Gold.read(spark, s.gold, t).get
      val dup = d.groupBy(keys.map(F.col): _*).count().filter(F.col("count") > 1).count()
      if (dup > 0) out += s"etl_cycle: $t has $dup duplicated keys"
    }
    val recompute = IncrementalView.summarize(fact, viewGroup, viewMeasures)
    val view = Snapshots.read(spark, s.view)
    val cols = recompute.columns.toSeq
    if (Hashing.ofRows(view.select(cols.map(F.col): _*).collect()) != Hashing.ofRows(recompute.collect()))
      out += "etl_cycle: maintained view differs from a GROUP BY recompute of the fact"
    val log = OccTable.read(spark, s.log)
      .agg(F.count(F.lit(1)), F.countDistinct("file"), F.sum("envelopes")).head()
    if (log.getLong(0) != s.logged || log.getLong(1) != s.files || log.getLong(2) != s.landedLines)
      out += s"etl_cycle: ingest log holds ${log.getLong(0)} rows of ${log.getLong(1)} files and " +
        s"${log.getLong(2)} envelopes; expected ${s.files} files and ${s.landedLines} envelopes"
    out.toSeq
  }
}
