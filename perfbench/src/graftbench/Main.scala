package graftbench

import java.nio.file.Paths

import graft.runtime.GraftSession

/** Benchmark entry point: one workload, one seed, one JSON result.
  *
  * Prints a host-stamp line, a detail line, and last the result object
  * (correctness counts plus end-to-end and per-layer values) that
  * `perfbench/run.py` turns into the benchmark's output line, with the
  * units BENCHMARK.json declares.
  */
object Main {

  /** Layers whose calls the benchmark's spans wrap after set-up; each
    * reports its self time. (The streaming layer's time is its triggers'.)
    */
  val spanned: Seq[String] = Seq("scoring", "ingest", "layers.Silver", "layers.Gold",
    "layers.OccTable", "layers.IncrementalView", "views")

  /** Per-layer metrics of a traced run. Every workload reports all of
    * them; a layer the workload does not exercise reads 0.
    */
  val perLayer: Seq[String] = Seq(
    "streaming.trigger_ms_p50", "streaming.add_batch_ms_p50", "streaming.source_ms_p50",
    "streaming.wal_commit_ms_p50", "streaming.rows_per_trigger_p50", "streaming.idle_share",
    "scoring.score_batch_ms", "scoring.existing_rows_end",
    "loadgen.late_ms_max", "loadgen.backlog_end_events",
    "ingest.bronze_ms_p50", "layers.Silver.transform_write_ms_p50",
    "layers.Gold.build_write_ms_p50", "layers.IncrementalView.refresh_ms_p50",
    "views.probe_ms_p50", "views.plan_ms_p50", "layers.OccTable.append_ms_p50",
    "layers.AtomicAppend.driver_ms_per_cycle", "layers.Hwm.rows_read_per_row_landed",
    "runtime.jobs_per_cycle", "runtime.shuffle_bytes_per_cycle",
    "runtime.gc_ms", "runtime.spill_bytes", "runtime.tasks") ++ spanned.map(_ + ".self_ms") ++
    Seq("trace.latency_p50_ms", "trace.overhead_pct")

  private def uptimeS(epochNs: Long): Double =
    (epochNs - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L) / 1e9

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val trace = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    val load0 = Host.loadavg1()
    val ticks0 = Host.cpuTicks()
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = GraftSession.builder("graftbench", cores.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = uptimeS(Clock.nowNs)
    val ctx = new Ctx(spark, seed, seconds, trace, work, a.get("corrupt").contains("1"))
    val tracer = ctx.tracer

    val out = workload match {
      case "alert_stream" => AlertStream.run(ctx)
      case "etl_cycle" => EtlCycle.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val failed = out.failed + out.checkFailures.size
    val attempted = out.attempted + out.checkFailures.size
    val (tail, tailPct, n) = Stats.tail(out.latenciesMs)
    val e2e = Map(
      "latency_p50_ms" -> Stats.median(out.latenciesMs),
      "latency_tail_ms" -> tail,
      "ops_per_s" -> out.opsPerS,
      "setup_s" -> Stats.median(out.setupS),
      "peak_rss_mb" -> Host.peakRssMb(),
      "table_bytes_per_live_byte" -> out.tableBytesPerLiveByte)
    val selfMs = tracer.selfMs((ctx.window._1, Long.MaxValue))
    val runtime = Map("runtime.gc_ms" -> ctx.runtimeDelta.getOrElse("gc_ms", 0.0),
      "runtime.spill_bytes" -> ctx.runtimeDelta.getOrElse("spill_bytes", 0.0),
      "runtime.tasks" -> ctx.runtimeDelta.getOrElse("tasks", 0.0))
    // tracing overhead: the traced window's p50 latency against the
    // untraced window's that ran just before it in this JVM
    val untracedP50 = Stats.median(out.baselineLatenciesMs)
    val tracing = Map("trace.latency_p50_ms" -> e2e("latency_p50_ms"),
      "trace.overhead_pct" -> 100.0 * (e2e("latency_p50_ms") / math.max(1e-9, untracedP50) - 1.0))
    val layer = perLayer.map { name =>
      name -> out.layer.orElse(runtime).orElse(tracing).applyOrElse(name, (_: String) =>
        if (name.endsWith(".self_ms")) selfMs.getOrElse(name.stripSuffix(".self_ms"), 0.0) else 0.0)
    }.toMap
    if (trace) tracer.writeTo(work.getParent.getParent.resolve("trace")
      .resolve(s"$workload-seed$seed.spans.jsonl"))

    val ticks1 = Host.cpuTicks()
    val stamp = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "traced" -> trace,
      "nproc" -> cores, "loadavg1_start" -> load0, "loadavg1_end" -> Host.loadavg1(),
      // shares of the machine's CPU time since the session began: idle, and
      // stolen by the hypervisor (a busy host shows here first)
      "cpu_idle_share" -> (ticks1._2 - ticks0._2).toDouble / math.max(1L, ticks1._1 - ticks0._1),
      "cpu_steal_share" -> (ticks1._3 - ticks0._3).toDouble / math.max(1L, ticks1._1 - ticks0._1),
      "jdk" -> System.getProperty("java.version"), "spark" -> spark.version,
      "offered" -> out.info.getOrElse("offered", "closed loop"))
    println(Json.render(Map("host" -> stamp)))
    println(Json.render(Map("detail" -> (out.info ++ Map(
      "latency_samples" -> n, "latency_tail_percentile" -> tailPct,
      "setup_s_each" -> out.setupS,
      "untraced_latency_p50_ms" -> (if (trace) Some(untracedP50) else None),
      // seconds since JVM start: session ready, window start and end, results ready
      "phase_s" -> Map("session" -> sessionS, "window_start" -> uptimeS(ctx.window._1),
        "window_end" -> uptimeS(ctx.window._2), "done" -> uptimeS(Clock.nowNs)),
      "ops_failed_ratio" -> failed.toDouble / math.max(1L, attempted),
      "check_failures" -> out.checkFailures)))))
    println(Json.render(Map(
      "correct" -> (failed == 0), "attempted" -> math.max(1L, attempted), "failed" -> failed,
      "check_failures" -> out.checkFailures,
      "e2e" -> e2e, "layer" -> layer)))
    spark.stop()
  }
}

/** Minimal JSON rendering for the result lines. */
object Json {
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).map { case (k, x) => str(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
