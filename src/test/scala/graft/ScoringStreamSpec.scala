package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.Debezium
import graft.streaming.{BronzeStream, ScoringStream}

/** The scoring trigger's body ([[ScoringStream.start]]): a replay in its
  * original's micro-batch is scored once, a small epoch runs as one
  * partition and lands one file per table without a shuffle, a batch
  * above the one-task cut keeps its planned partitions (and runs as one
  * task when the source planned one), and a re-run after a crash between
  * the alert and prediction writes adds no alert.
  */
class ScoringStreamSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.runtime.GraftSession
    .builder("graft-test", "8").getOrCreate()

  /** Stage task counts and shuffle bytes written of every Spark job a
    * streaming query ran, keyed by the query id Structured Streaming puts
    * in each job's local properties.
    */
  private final class QueryJobs extends SparkListener {
    private val jobQuery = new ConcurrentHashMap[Int, String]()
    private val jobStages = new ConcurrentHashMap[Int, Seq[Int]]()
    private val ended = ConcurrentHashMap.newKeySet[Int]()
    private val stageTasks = new ConcurrentHashMap[Int, Int]()
    private val stageShuffleBytes = new ConcurrentHashMap[Int, Long]()

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
        .foreach { id => jobStages.put(e.jobId, e.stageIds); jobQuery.put(e.jobId, id) }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stageTasks.put(e.stageInfo.stageId, e.stageInfo.numTasks)
      stageShuffleBytes.put(e.stageInfo.stageId,
        Option(e.stageInfo.taskMetrics).fold(0L)(_.shuffleWriteMetrics.bytesWritten))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = { ended.add(e.jobId); () }

    /** (task counts of the run stages, total shuffle bytes written) of
      * the query's jobs, once listener delivery has caught up with them.
      */
    def of(q: StreamingQuery): (Seq[Int], Long) = {
      val jobs = jobQuery.asScala.collect { case (j, id) if id == q.id.toString => j }.toSeq
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
      while (!jobs.forall(ended.contains) && System.nanoTime() < deadline) Thread.sleep(20)
      assert(jobs.nonEmpty, s"no Spark job carried query id ${q.id}")
      assert(jobs.forall(ended.contains), "the query's jobs never ended")
      val stages = jobs.flatMap(j => jobStages.get(j)).filter(stageTasks.containsKey).distinct
      (stages.map(s => stageTasks.get(s)), stages.map(s => stageShuffleBytes.get(s)).sum)
    }
  }

  private def listening[T](body: QueryJobs => T): T = {
    val jobs = new QueryJobs
    spark.sparkContext.addSparkListener(jobs)
    try body(jobs) finally spark.sparkContext.removeSparkListener(jobs)
  }

  private def parquetFiles(dir: String): Set[String] = {
    val p = java.nio.file.Paths.get(dir)
    if (!Files.exists(p)) Set.empty
    else Files.list(p).iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")).toSet
  }

  /** Run one micro-batch over everything landed, under `checkpoint`. */
  private def once(session: SparkSession, work: Path, checkpoint: String): StreamingQuery = {
    val q = ScoringStream.start(session, work.resolve("in").toString,
      work.resolve("preds").toString, work.resolve("alerts").toString,
      work.resolve(checkpoint).toString, Trigger.AvailableNow())
    q.awaitTermination()
    q
  }

  private def countsBy(path: String): Map[String, Long] =
    spark.read.parquet(path).groupBy("trans_num").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Originals (with the planted high-risk smoke row) in one file and a
    * replay of part of them in a second: one micro-batch takes both.
    */
  private def landWithReplay(in: Path, seed: Long): Set[String] = {
    val originals = TestFixtures.randomRows(40, seed = seed)
    TestFixtures.writeEnvelopes(in, "a-original.jsonl", originals ++ TestFixtures.smokeRows)
    TestFixtures.writeEnvelopes(in, "b-replay.jsonl", TestFixtures.smokeRows ++ originals.take(10))
    (originals.indices.map(i => f"TX_${seed}%d_$i%05d") ++
      Seq("RT_HIGH_0001", "RT_MEDIUM_0001", "RT_LOW_0001", "RT_NORMAL_0001")).toSet
  }

  test("a replay landing in its original's micro-batch is scored and alerted once") {
    val work = TestFixtures.tmpDir("score-replay")
    val live = landWithReplay(work.resolve("in"), seed = 42L)
    val q = once(spark, work, "ckpt")
    assert(q.recentProgress.count(_.numInputRows > 0) == 1, "original and replay split across batches")

    val preds = countsBy(work.resolve("preds").toString)
    assert(preds.keySet == live)
    assert(preds.filter(_._2 != 1).isEmpty, s"scored more than once: ${preds.filter(_._2 != 1)}")
    val alerts = countsBy(work.resolve("alerts").toString)
    assert(alerts.contains("RT_HIGH_0001"))
    assert(alerts.filter(_._2 != 1).isEmpty, s"alerted more than once: ${alerts.filter(_._2 != 1)}")
  }

  test("small triggers run as one partition: one file per table, no shuffle") {
    val work = TestFixtures.tmpDir("score-small")
    val in = work.resolve("in")
    val preds = work.resolve("preds").toString
    val alerts = work.resolve("alerts").toString
    listening { jobs =>
      val runs = (1 to 3).map { k =>
        // each trigger's rows span three files, which the source plans as
        // three splits; the replayed smoke rows meet their originals from
        // the earlier triggers
        (0 until 3).foreach(f => TestFixtures.writeEnvelopes(in, s"t$k-$f.jsonl",
          TestFixtures.randomRows(30, seed = 100L * k + f) ++ TestFixtures.smokeRows))
        val (predsBefore, alertsBefore) = (parquetFiles(preds), parquetFiles(alerts))
        val q = once(spark, work, "ckpt")
        assert((parquetFiles(preds) -- predsBefore).size == 1, s"trigger $k predictions files")
        assert((parquetFiles(alerts) -- alertsBefore).size <= 1, s"trigger $k alerts files")
        q
      }
      // one checkpoint, so all three runs carry the same query id
      assert(jobs.of(runs.last)._2 == 0L, "the small triggers wrote shuffle bytes")
    }
    val scored = countsBy(preds)
    assert(scored.size == 3 * 3 * 30 + 4 && scored.values.forall(_ == 1L))
    assert(countsBy(alerts).values.forall(_ == 1L))
  }

  test("a batch above one split keeps its planned partitions and still dedups") {
    val work = TestFixtures.tmpDir("score-split")
    val live = landWithReplay(work.resolve("in"), seed = 43L)
    val session = spark.newSession()
    session.conf.set("spark.sql.files.maxPartitionBytes", "4096")
    listening { jobs =>
      val q = once(session, work, "ckpt")
      val (tasks, shuffleBytes) = jobs.of(q)
      assert(tasks.max > 1, s"stage task counts $tasks")
      assert(shuffleBytes > 0L, "the dedup of a multi-partition batch needs a hash exchange")
    }
    val preds = countsBy(work.resolve("preds").toString)
    assert(preds.keySet == live && preds.values.forall(_ == 1L))
    assert(countsBy(work.resolve("alerts").toString).values.forall(_ == 1L))
  }

  test("a batch above the cut without repeated keys lands its planned partitions") {
    val work = TestFixtures.tmpDir("score-unique")
    val in = work.resolve("in")
    (0 until 3).foreach(f => TestFixtures.writeEnvelopes(in, s"u$f.jsonl",
      TestFixtures.randomRows(30, seed = 200L + f)))
    val session = spark.newSession()
    session.conf.set("spark.sql.files.maxPartitionBytes", "4096")
    listening { jobs =>
      val (tasks, shuffleBytes) = jobs.of(once(session, work, "ckpt"))
      assert(tasks.max > 1, s"stage task counts $tasks")
      // no key repeats, so the key check finds nothing and no exchange runs
      assert(shuffleBytes == 0L, "a batch without repeated keys was shuffled")
    }
    assert(parquetFiles(work.resolve("preds").toString).size > 1)
    val preds = countsBy(work.resolve("preds").toString)
    assert(preds.size == 90 && preds.values.forall(_ == 1L))
  }

  test("a batch above the cut that the source planned as one split runs as one task") {
    val work = TestFixtures.tmpDir("score-onesplit")
    val in = work.resolve("in")
    val originals = TestFixtures.randomRows(40, seed = 44L)
    TestFixtures.writeEnvelopes(in, "a.jsonl", originals ++ TestFixtures.smokeRows ++ originals.take(10))
    // one split holds the whole file, but the plan statistics of its
    // parsed rows, several times the file's bytes, do not fit one
    val split = 2 * Files.size(in.resolve("a.jsonl"))
    val session = spark.newSession()
    session.conf.set("spark.sql.files.maxPartitionBytes", split.toString)
    val estimate = Debezium.parse(session.read.schema(BronzeStream.rawSchema).text(in.toString)
      .withColumnRenamed("value", "json_string")).queryExecution.optimizedPlan.stats.sizeInBytes
    assert(estimate > split, s"plan statistics $estimate fit the $split-byte split")
    listening { jobs =>
      val (tasks, shuffleBytes) = jobs.of(once(session, work, "ckpt"))
      assert(tasks.forall(_ == 1), s"stage task counts $tasks")
      assert(shuffleBytes == 0L, "the dedup of a one-partition batch needs no exchange")
    }
    assert(parquetFiles(work.resolve("preds").toString).size == 1)
    val preds = countsBy(work.resolve("preds").toString)
    assert(preds.size == 44 && preds.values.forall(_ == 1L))
  }

  test("re-running a batch whose alerts landed but whose predictions did not adds no alert") {
    val work = TestFixtures.tmpDir("score-crash")
    TestFixtures.writeEnvelopes(work.resolve("in"), "s1.jsonl",
      TestFixtures.randomRows(40) ++ TestFixtures.smokeRows)
    once(spark, work, "ckpt")
    val predsPath = work.resolve("preds").toString
    val alertsPath = work.resolve("alerts").toString
    def rows(path: String) =
      spark.read.parquet(path).select("trans_num").collect().map(_.getString(0)).sorted.toSeq
    val predsBefore = rows(predsPath)
    val alertsBefore = rows(alertsPath)
    assert(alertsBefore.contains("RT_HIGH_0001"))

    // the crash window: the alert write landed, the predictions write and
    // the batch's commit did not. Restarting re-runs the same batch id.
    def rm(f: java.io.File): Unit = { Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); () }
    rm(new java.io.File(predsPath))
    val commits = work.resolve("ckpt").resolve("commits")
    Files.list(commits).iterator().asScala.toSeq.foreach(Files.delete)
    val q = once(spark, work, "ckpt")
    assert(q.recentProgress.map(_.batchId).contains(0L), "batch 0 was not re-run")

    assert(rows(predsPath) == predsBefore)
    assert(rows(alertsPath) == alertsBefore, "the re-run wrote an alert")
  }
}
