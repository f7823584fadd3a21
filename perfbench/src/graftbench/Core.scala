package graftbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Order statistics as the benchmark reports them. */
object Stats {
  private def sorted(xs: Iterable[Double]): IndexedSeq[Double] = xs.toIndexedSeq.sorted

  def median(xs: Iterable[Double]): Double = {
    val s = sorted(xs)
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it:
    * (value, percentile, sample count). Below eleven samples no percentile
    * has ten beyond it and the maximum is reported as p100.
    */
  def tail(xs: Iterable[Double]): (Double, Double, Int) = {
    val s = sorted(xs)
    val n = s.size
    if (n == 0) (0.0, 0.0, 0)
    else if (n < 11) (s.last, 100.0, n)
    else (s(n - 11), 100.0 * (n - 10) / n, n)
  }
}

/** One timed call into a layer. Times are epoch nanoseconds on a single
  * monotonic clock, so they compare with each other and, to the
  * millisecond, with Spark's listener event times.
  */
final case class Span(id: Long, parent: Long, request: Long, layer: String, name: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

object Clock {
  private val anchorEpochNs = System.currentTimeMillis() * 1000000L
  private val anchorNano = System.nanoTime()
  def nowNs: Long = anchorEpochNs + (System.nanoTime() - anchorNano)
}

/** Spans around the benchmark's calls into each layer, kept in memory and
  * written out when the run ends. Until enabled, a span is a plain call.
  */
final class Tracer {
  @volatile var enabled = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)
  private val requests = new AtomicLong(0L)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val request = ThreadLocal.withInitial[java.lang.Long](() => 0L)

  /** Run `f` as one request: every span it opens shares a fresh id. */
  def asRequest[T](f: => T): T = {
    val prev = request.get()
    request.set(requests.incrementAndGet())
    try f finally request.set(prev)
  }

  def span[T](layer: String, name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(0L)
      stack.set(id :: stack.get())
      val t0 = Clock.nowNs
      try f
      finally {
        stack.set(stack.get().tail)
        spans.add(Span(id, parent, request.get(), layer, name, t0, Clock.nowNs))
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Per layer: summed time of the spans inside `window` (set-up and
    * warm-up precede it) minus the part covered by their child spans.
    */
  def selfMs(window: (Long, Long)): Map[String, Double] = {
    val inside = all.filter(s => s.startNs >= window._1 && s.endNs <= window._2)
    val byParent = inside.groupBy(_.parent)
    inside.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = Intervals.unionMs(byParent.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
        s.ms - covered
      }.sum
    }
  }

  def writeTo(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val lines = all.sortBy(_.startNs).map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"request":${s.request},"layer":"${s.layer}",""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    Files.write(path, lines.asJava)
  }
}

object Intervals {
  /** Total length in ms of the union of [start, end) ns intervals. */
  def unionMs(xs: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    xs.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total += math.max(0L, curE - curS)
    total / 1e6
  }

  /** Length in ms of `span` not covered by any of `busy`. */
  def uncoveredMs(span: (Long, Long), busy: Seq[(Long, Long)]): Double =
    (span._2 - span._1) / 1e6 -
      unionMs(busy.map(b => (math.max(b._1, span._1), math.min(b._2, span._2))))
}

/** Counters from Spark's own listener APIs, registered by the benchmark. */
final class Probes(spark: SparkSession) {
  val jobs = new ConcurrentLinkedQueue[(Long, Long)]() // (start, end) epoch ns
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  val tasks = new AtomicLong()
  val recordsRead = new AtomicLong()
  val bytesRead = new AtomicLong()
  val shuffleBytes = new AtomicLong()
  val spillBytes = new AtomicLong()
  val progress = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
  /** (planning start epoch ns, planning ms, execution ms) per successful action. */
  val queries = new ConcurrentLinkedQueue[(Long, Double, Double)]()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = { jobStart.put(e.jobId, e.time * 1000000L); () }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach(s => jobs.add((s, e.time * 1000000L)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        recordsRead.addAndGet(m.inputMetrics.recordsRead)
        bytesRead.addAndGet(m.inputMetrics.bytesRead)
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = { progress.add(e.progress); () }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.values
      val start = if (phases.isEmpty) Clock.nowNs else phases.map(_.startTimeMs).min * 1000000L
      queries.add((start, phases.map(_.durationMs).sum.toDouble, durationNs / 1e6)); ()
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(jobListener)
  spark.streams.addListener(streamListener)
  spark.listenerManager.register(qeListener)

  def drain(): Unit = org.apache.spark.graftbench.Bus.drain(spark.sparkContext)

  def jobsIn(w: (Long, Long)): Seq[(Long, Long)] =
    jobs.asScala.toSeq.filter(j => j._1 >= w._1 && j._2 <= w._2)
  def queriesIn(w: (Long, Long)): Seq[(Long, Double, Double)] =
    queries.asScala.toSeq.filter(q => q._1 >= w._1 && q._1 <= w._2)

  /** A snapshot of the cumulative counters. */
  def counters: Map[String, Double] = Map(
    "tasks" -> tasks.get.toDouble, "records_read" -> recordsRead.get.toDouble,
    "bytes_read" -> bytesRead.get.toDouble, "shuffle_bytes" -> shuffleBytes.get.toDouble,
    "spill_bytes" -> spillBytes.get.toDouble)
}

/** Order-independent content hashes for output checks. Doubles compare
  * at nine significant digits, so two layouts of one table that sum in a
  * different order still agree.
  */
object Hashing {
  def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else f"$d%.9g"
    case f: Float => canon(f.toDouble)
    case t: java.sql.Timestamp => (t.getTime * 1000L + (t.getNanos / 1000) % 1000).toString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  def rowHash(values: Seq[Any]): Long = {
    val s = values.map(canon).mkString("\u0001")
    val h1 = scala.util.hashing.MurmurHash3.stringHash(s, 0x1234567)
    val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x7654321)
    (h1.toLong << 32) ^ (h2.toLong & 0xffffffffL)
  }

  /** (row count, sum of row hashes) — equal for equal multisets of rows. */
  def multiset(rows: Iterable[Seq[Any]]): (Long, Long) =
    rows.foldLeft((0L, 0L)) { case ((n, h), r) => (n + 1, h + rowHash(r)) }

  def ofRows(rows: Iterable[Row]): (Long, Long) = multiset(rows.map(_.toSeq))
}

object Host {
  def loadavg1(): Double =
    scala.util.Try(new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ")(0).toDouble)
      .getOrElse(-1.0)

  /** The machine's cumulative CPU ticks from /proc/stat: (all, idle, steal). */
  def cpuTicks(): (Long, Long, Long) =
    scala.util.Try {
      val f = new String(Files.readAllBytes(Paths.get("/proc/stat"))).linesIterator.next()
        .split("\\s+").drop(1).map(_.toLong)
      (f.sum, f(3) + f(4), if (f.length > 7) f(7) else 0L)
    }.getOrElse((0L, 0L, 0L))

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double =
    scala.util.Try(scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).get)
      .getOrElse(Runtime.getRuntime.totalMemory() / 1048576.0)

  def gcMs(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.toDouble).sum
}

object Fs {
  def files(root: Path): Seq[(Path, Long)] =
    if (!Files.exists(root)) Nil
    else {
      val st = Files.walk(root)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(p => (p, Files.size(p))).toList
      finally st.close()
    }

  def bytes(root: Path): Long = files(root).map(_._2).sum

  def isData(p: Path): Boolean = p.getFileName.toString.endsWith(".parquet")

  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val st = Files.walk(root)
      try st.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists(_))
      finally st.close()
    }
}

object TableSize {
  /** Parquet bytes of a one-shot rewrite of `live` into a single file
    * (the scan's split count would otherwise set the per-file overhead).
    */
  def rewrittenBytes(live: org.apache.spark.sql.DataFrame, scratch: Path): Long = {
    Fs.deleteTree(scratch)
    live.coalesce(1).write.parquet(scratch.toString)
    val rewritten = Fs.files(scratch).filter(p => Fs.isData(p._1)).map(_._2).sum
    Fs.deleteTree(scratch)
    math.max(1L, rewritten)
  }

  /** Bytes under a table root over the parquet bytes of a one-shot
    * rewrite of its live rows.
    */
  def ratio(root: Path, live: org.apache.spark.sql.DataFrame, scratch: Path): Double =
    Fs.bytes(root).toDouble / rewrittenBytes(live, scratch)
}

/** What a workload hands back to [[Main]]. */
final case class Outcome(
    attempted: Long,
    failed: Long,
    checkFailures: Seq[String],
    setupS: Seq[Double],
    latenciesMs: Seq[Double],
    /** A traced run's latencies of an untraced window before the traced one. */
    baselineLatenciesMs: Seq[Double],
    opsPerS: Double,
    tableBytesPerLiveByte: Double,
    layer: Map[String, Double],
    info: Map[String, Any])

/** Everything a workload needs from the run. */
final class Ctx(
    val spark: SparkSession,
    val seed: Long,
    val seconds: Int,
    val traced: Boolean,
    val work: Path,
    val corrupt: Boolean) {
  val tracer = new Tracer
  /** Spark's listeners, registered by [[startTracing]]. */
  var probes: Option[Probes] = None

  /** In a traced run: register the listeners and enable the spans. A
    * workload calls it after its untraced baseline window, right before
    * the measured one.
    */
  def startTracing(): Unit = if (traced) {
    probes = Some(new Probes(spark))
    tracer.enabled = true
  }

  /** The measurement window (epoch ns) and the runtime counters it moved. */
  var window: (Long, Long) = (0L, 0L)
  var runtimeDelta: Map[String, Double] = Map.empty

  def windowSeconds: Double = (window._2 - window._1) / 1e9

  /** Run the measured part of a workload, recording its window and the
    * GC time and listener counters spent inside it.
    */
  def measured[T](f: => T): T = {
    probes.foreach(_.drain())
    val c0 = probes.map(_.counters)
    val g0 = Host.gcMs()
    val t0 = Clock.nowNs
    try f
    finally {
      val t1 = Clock.nowNs
      probes.foreach(_.drain())
      window = (t0, t1)
      runtimeDelta = Map("gc_ms" -> (Host.gcMs() - g0)) ++
        c0.map(c => probes.get.counters.map { case (k, v) => k -> (v - c(k)) }).getOrElse(Map.empty)
    }
  }

  /** Run `setup` `n` times on fresh directories and keep the last state;
    * returns it with each set-up's wall time in seconds.
    */
  def setups[S](n: Int)(setup: Path => S)(discard: S => Unit): (S, Seq[Double]) = {
    val times = mutable.ArrayBuffer.empty[Double]
    var last: Option[S] = None
    (0 until n).foreach { i =>
      val d = work.resolve(s"setup$i")
      last.foreach { s => discard(s); Fs.deleteTree(work.resolve(s"setup${i - 1}")) }
      Files.createDirectories(d)
      val t0 = System.nanoTime()
      last = Some(setup(d))
      times += (System.nanoTime() - t0) / 1e9
    }
    (last.get, times.toSeq)
  }
}
