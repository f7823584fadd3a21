package graft.runtime

import org.apache.spark.sql.SparkSession

import graft.plans.GraftExtensions

/** Session factory with the engine's canonical configuration.
  *
  * Tuned for correctness parity with the DuckDB oracle (UTC session
  * timezone, ANSI-ish defaults) and for scale-out behavior that holds on a
  * real cluster (AQE, skew-join handling, partition coalescing). On a 1000-
  * executor cluster only `master`/memory change; the SQL-layer settings are
  * identical.
  *
  * Mirrors the reference's Spark tuning surface
  * (`config/spark/spark-defaults.conf:19-21` — AQE on, coalesce partitions,
  * small shuffle-partition count) re-expressed for Spark 4.
  *
  * The only session factory: every main, spec and benchmark builds here,
  * so every session carries the same conf and the engine's native
  * functions and planner strategy ([[GraftExtensions]]).
  */
object GraftSession {

  def builder(appName: String = "graft", cores: String = "*"): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
      // testdata timestamps are parquet TIMESTAMP(MICROS) WITHOUT the
      // isAdjustedToUTC flag; inferred as TIMESTAMP_NTZ they break
      // unix_micros / event-time watermarks and change row encoders.
      // Read them as the session-UTC TimestampType instead — the same
      // wall-clock instants DuckDB's naive reader sees, decided at SCAN
      // time so timestamp filter pushdown is preserved (a post-scan cast
      // would defeat it).
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // allow co-partitioning on a SUBSET of the join keys: a table
      // bucketed by id joins on (id, shingle) without reshuffling — the
      // contract NearDupIndex/PlanSpec rely on. Semantics-preserving
      // (same-key rows still colocate); the default `true` exists to
      // avoid skew on low-cardinality subsets, which our bucket keys
      // (hashes, ids) don't have.
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      // reliable RDD checkpoints (IncrementalView.materialize takes them
      // whenever a checkpoint dir is set) are NOT cleaned by default —
      // a standing refresh stream would grow the checkpoint dir without
      // bound. With this on, the ContextCleaner deletes a checkpointed
      // RDD's files once it is GC'd, same lifecycle localCheckpoint gets.
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.ui.enabled", "false")

  /** Builder whose catalog survives the session AND the JVM: Hive catalog
    * over an embedded Derby metastore at `metastoreDir`. With
    * [[Catalog.registerExternal]] this reproduces the reference's durable
    * table registration (`register_tables_to_hive.py`) without a thrift
    * service; swapping `metastoreDir` for a `hive.metastore.uris` config
    * is the only change needed on a real cluster.
    */
  def persistentBuilder(
      appName: String,
      warehouseDir: String,
      metastoreDir: String,
      cores: String = "*"): SparkSession.Builder =
    builder(appName, cores)
      .config("spark.sql.warehouse.dir", warehouseDir)
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$metastoreDir/metastore_db;create=true")
      .enableHiveSupport()

  def get(appName: String = "graft"): SparkSession = {
    val s = builder(appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
