package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.Instant
import java.util.concurrent.TimeUnit

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.ingest.Debezium
import graft.layers.Hwm
import graft.streaming.ScoringStream

/** `alert_stream`: an open loop. A generator thread lands one Debezium
  * envelope file every [[periodMs]] into [[ScoringStream.start]] (rule
  * model, [[triggerMs]] processing-time trigger), whether or not the
  * scorer keeps up. Latency runs from when a file was due to the
  * modification time of the predictions file that carries its event.
  */
object AlertStream {
  val periodMs = 500L
  val eventsPerFile = 20
  val triggerMs = 2500L
  /** The most files one micro-batch takes: `BronzeStream.readEnvelopes`'
    * default, which [[ScoringStream.start]] uses.
    */
  val maxFilesPerTrigger = 10

  final class State(val dir: Path, val gen: Gen, val query: StreamingQuery) {
    val in: Path = dir.resolve("in")
    val stage: Path = dir.resolve("stage")
    val preds: String = dir.resolve("predictions").toString
    val alerts: String = dir.resolve("alerts").toString
    /** (file, due ns, landed ns) for every file landed so far. */
    val landed = mutable.ArrayBuffer.empty[(CdcFile, Long, Long)]
  }

  private def land(s: State, f: CdcFile): Unit = {
    val tmp = s.stage.resolve(f"f${f.index}%06d.json")
    Files.write(tmp, f.lines.asJava)
    Files.move(tmp, s.in.resolve(tmp.getFileName), StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  private def setup(ctx: Ctx, dir: Path): State = {
    Files.createDirectories(dir.resolve("in"))
    Files.createDirectories(dir.resolve("stage"))
    // a replay lands at least maxFilesPerTrigger files after its original,
    // so the two meet in different micro-batches even when a slow trigger
    // lets files pile up, and the replay must be dropped by ScoringStream's
    // anti-join against the predictions already written. (A replay inside
    // its original's own micro-batch is not generated: that anti-join does
    // not see it and would score the pair twice.) 5 % of lines are
    // replays, so every run lands several.
    val gen = new Gen(ctx.seed, secondsPerFile = 600L, replayLagFiles = maxFilesPerTrigger,
      replayShare = 0.05)
    // the first file lands before the start, so the query's first trigger
    // scores it; its events count for the checks, not for latency
    val first = gen.file(0, eventsPerFile)
    Files.write(dir.resolve("in").resolve("f000000.json"), first.lines.asJava)
    val now = Clock.nowNs
    val q = ctx.tracer.span("streaming", "ScoringStream.start") {
      ScoringStream.start(ctx.spark, dir.resolve("in").toString,
        dir.resolve("predictions").toString, dir.resolve("alerts").toString,
        dir.resolve("checkpoint").toString, Trigger.ProcessingTime(s"$triggerMs milliseconds"))
    }
    val s = new State(dir, gen, q)
    s.landed += ((first, now, now))
    // until the first trigger has scored the file (processAllAvailable
    // would also wait for the next, empty trigger)
    while (!q.recentProgress.exists(_.numInputRows > 0)) {
      q.exception.foreach(e => throw e)
      Thread.sleep(5L)
    }
    s
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val (s, setupS) = ctx.setups(3)(setup(ctx, _))(_.query.stop())
    // two triggers' worth of files warm the running query up before the
    // window (after one, the first window trigger still ran up to twice as
    // long as the rest); their events are checked, not timed
    val nWarm = 2 * (triggerMs / periodMs).toInt
    val nFiles = (ctx.seconds * 1000L / periodMs).toInt
    // a traced run lands an untraced baseline window first
    val nBase = if (ctx.traced) nFiles else 0
    val files = (1 to nWarm + nBase + nFiles).map(k => s.gen.file(k, eventsPerFile))
    val lateMs = mutable.ArrayBuffer.empty[Double]
    // Spark fires processing-time triggers on multiples of the interval
    // since the epoch; each schedule starts half a file period past such a
    // multiple, so every run sees files at the same trigger phases and
    // latency does not depend on where the run happened to start
    def gridStart(): Long = {
      val grid = triggerMs * 1000000L
      (Clock.nowNs / grid + 1) * grid + periodMs * 1000000L / 2
    }
    def produce(batch: Seq[CdcFile], t0: Long): Unit = {
      val producer = new Thread(() => batch.zipWithIndex.foreach { case (f, i) =>
        val due = t0 + i * periodMs * 1000000L
        val wait = (due - Clock.nowNs) / 1000000L
        if (wait > 0) Thread.sleep(wait)
        land(s, f)
        val now = Clock.nowNs
        s.landed += ((f, due, now))
        lateMs += (now - due) / 1e6
      }, "loadgen")
      producer.start()
      producer.join()
    }
    def offered = s.landed.map(_._1.lines.size.toLong).sum
    def consumed = s.query.recentProgress.map(_.numInputRows).sum
    /** Land `batch` on a schedule aligned to the trigger clock, starting
      * on a caught-up, idle query, so a slow earlier trigger cannot shift
      * its trigger phases; returns when its first file was due.
      */
    def aligned(batch: Seq[CdcFile], measure: Boolean): Long = {
      while (consumed < offered || s.query.status.isTriggerActive) {
        s.query.exception.foreach(e => throw e)
        Thread.sleep(5L)
      }
      val t0 = gridStart()
      Thread.sleep(math.max(0L, (t0 - periodMs * 1000000L / 2 - Clock.nowNs) / 1000000L))
      if (measure) ctx.measured(produce(batch, t0)) else produce(batch, t0)
      t0
    }
    produce(files.take(nWarm), gridStart())
    if (nBase > 0) aligned(files.slice(nWarm, nWarm + nBase), measure = false)
    ctx.startTracing()
    val t0 = aligned(files.drop(nWarm + nBase), measure = true)
    s.query.processAllAvailable()
    def started(p: StreamingQueryProgress) = Instant.parse(p.timestamp).toEpochMilli * 1000000L
    def ms(p: StreamingQueryProgress, k: String) =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    // backlog: events landed before the last trigger that started inside
    // the window but left for a later trigger; a scorer that keeps up
    // leaves none (events landed after that trigger merely wait for the next)
    val backlog = {
      val upToEnd = s.query.recentProgress.toSeq.filter(p => started(p) <= ctx.window._2)
      upToEnd.map(started).maxOption.fold(0L) { last =>
        val landedBefore = s.landed.filter(_._3 < last).map(_._1.lines.size.toLong).sum
        math.max(0L, landedBefore - upToEnd.map(_.numInputRows).sum)
      }
    }
    val triggers = s.query.recentProgress.toSeq.filter(p => started(p) >= ctx.window._1)
      .filter(_.numInputRows > 0)
    s.query.stop()

    // latency: due time of an event's first landing → mtime of the
    // predictions file that carries it; a replay is timed with its
    // original, so one whose original landed before the window is not timed
    val firstDue = mutable.HashMap.empty[String, (Long, Int)]
    s.landed.foreach { case (f, due, _) =>
      f.inserts.foreach(e => if (!firstDue.contains(e.transNum)) firstDue(e.transNum) = (due, f.index)) }
    val predRows = spark.read.parquet(s.preds)
      .select(F.col("trans_num"), F.input_file_name().as("file")).collect()
    val mtime = predRows.map(_.getString(1)).distinct.map { f =>
      f -> Files.getLastModifiedTime(Paths.get(new java.net.URI(f))).to(TimeUnit.NANOSECONDS)
    }.toMap
    /** (due, scored) of the events first landed in files `from` to `to`. */
    def scoredIn(from: Int, to: Int): Seq[(Long, Long)] = predRows.toSeq.flatMap { r =>
      firstDue.get(r.getString(0)).collect { case (due, k) if k >= from && k <= to =>
        (due, mtime(r.getString(1))) }
    }
    val scoredAt = scoredIn(nWarm + nBase + 1, Int.MaxValue)
    val latencies = scoredAt.map { case (due, at) => (at - due) / 1e6 }
    val baseLatencies = scoredIn(nWarm + 1, nWarm + nBase).map { case (due, at) => (at - due) / 1e6 }
    // sustained throughput: the window's events over the time from the
    // first one due to the last one scored; it falls below the offered
    // rate only when a backlog builds
    val sustained = scoredAt.map(_._2).maxOption
      .fold(0.0)(last => scoredAt.size / math.max(1e-9, (last - t0) / 1e9))

    if (ctx.corrupt) // one event scored twice
      spark.read.parquet(s.preds).limit(1).write.mode("append").parquet(s.preds)
    val failures = check(ctx, s)

    val busyMs = triggers.map(ms(_, "triggerExecution")).sum
    val late = if (lateMs.isEmpty) 0.0 else lateMs.max
    val layer = mutable.Map[String, Double](
      "loadgen.late_ms_max" -> late, "loadgen.backlog_end_events" -> backlog.toDouble)
    if (ctx.traced) {
      val heard = ctx.probes.get.progress.asScala.toSeq
        .filter(p => started(p) >= ctx.window._1 && started(p) <= ctx.window._2)
      val withData = heard.filter(_.numInputRows > 0)
      def p50(k: String) = Stats.median(withData.map(ms(_, k)))
      val rowsPerTrigger = Stats.median(withData.map(_.numInputRows.toDouble))
      layer ++= Map(
        "streaming.trigger_ms_p50" -> p50("triggerExecution"),
        "streaming.add_batch_ms_p50" -> p50("addBatch"),
        "streaming.source_ms_p50" -> Stats.median(withData.map(p => ms(p, "latestOffset") + ms(p, "getBatch"))),
        "streaming.wal_commit_ms_p50" -> p50("walCommit"),
        "streaming.rows_per_trigger_p50" -> rowsPerTrigger,
        "streaming.idle_share" ->
          math.max(0.0, 1.0 - heard.map(ms(_, "triggerExecution")).sum / (ctx.windowSeconds * 1000.0)))
      // a median-size batch, replayed through the scoring kernel
      val lines = s.landed.filter(_._1.index > nWarm + nBase).flatMap(_._1.lines)
        .take(math.max(1, rowsPerTrigger.toInt)).toSeq
      import spark.implicits._
      val times = (0 until 3).map { _ =>
        val start = System.nanoTime()
        ctx.tracer.span("scoring", "ScoringStream.scoreBatch") {
          ScoringStream.scoreBatch(Debezium.parse(lines.toDF("json_string")),
            Hwm.readIfExists(spark, s.preds)).count()
        }
        (System.nanoTime() - start) / 1e6
      }
      layer ++= Map("scoring.score_batch_ms" -> Stats.median(times),
        "scoring.existing_rows_end" -> spark.read.parquet(s.preds).count().toDouble)
    }
    Outcome(
      attempted = s.landed.map(_._1.lines.size.toLong).sum,
      failed = 0L,
      checkFailures = failures,
      setupS = setupS,
      latenciesMs = latencies,
      baselineLatenciesMs = baseLatencies,
      opsPerS = sustained,
      tableBytesPerLiveByte = TableSize.ratio(Paths.get(s.preds), spark.read.parquet(s.preds),
        ctx.work.resolve("rewrite")),
      layer = layer.toMap,
      info = Map(
        "offered" -> f"${eventsPerFile * 1000.0 / periodMs}%.0f events/s in ${1000 / periodMs} files/s",
        "trigger_ms" -> triggerMs, "files_landed" -> s.landed.size,
        "replays_landed" -> {
          val ins = s.landed.flatMap(_._1.inserts.map(_.transNum))
          ins.size - ins.distinct.size
        },
        "scorer_busy_share" -> busyMs / (ctx.windowSeconds * 1000.0),
        "scored_events_per_trigger_s" -> triggers.map(_.numInputRows).sum / math.max(1e-9, busyMs / 1000.0),
        "loadgen_backlog_end_events" -> backlog, "loadgen_late_ms_max" -> late,
        "trigger_rows_ms" -> triggers.map(p => s"${p.numInputRows}/${ms(p, "triggerExecution").round}")))
  }

  /** Every live trans_num scored exactly once; the alert set equals a
    * one-shot [[ScoringStream.scoreBatch]] over every envelope landed.
    */
  private def check(ctx: Ctx, s: State): Seq[String] = {
    val spark = ctx.spark
    import spark.implicits._
    val live = s.landed.flatMap(_._1.inserts.map(_.transNum)).toSet
    val scored = spark.read.parquet(s.preds).groupBy("trans_num").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val alerts = spark.read.parquet(s.alerts).select("trans_num").as[String].collect().toSeq
    val oneShot = ScoringStream.scoreBatch(
        Debezium.parse(s.landed.flatMap(_._1.lines).toSeq.toDF("json_string")), None)
      .filter(F.col("is_fraud_predicted") === 1).select("trans_num").distinct()
      .as[String].collect().toSet
    val out = mutable.ArrayBuffer.empty[String]
    val twice = scored.count(_._2 != 1)
    if (twice > 0) out += s"alert_stream: $twice trans_nums scored more than once"
    if (scored.keySet != live)
      out += s"alert_stream: scored set differs from live events " +
        s"(missing ${(live -- scored.keySet).size}, unexpected ${(scored.keySet -- live).size})"
    if (alerts.size != alerts.distinct.size) out += "alert_stream: duplicate alerts"
    if (alerts.toSet != oneShot)
      out += s"alert_stream: alert set (${alerts.toSet.size}) differs from one-shot scoring (${oneShot.size})"
    if (oneShot.isEmpty) out += "alert_stream: no alerts (planted fraud missing)"
    out.toSeq
  }
}
