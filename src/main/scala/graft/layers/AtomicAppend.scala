package graft.layers

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}

/** Atomic-visibility batch appends — the role Delta's `_delta_log` plays
  * in every reference table write (`docs/ARCHITECTURE.md:167-174`,
  * `streaming_job.py:100-105`): a reader concurrent with a multi-file
  * append must see either none of the batch or all of it, never a torn
  * prefix. A bare `mode("append").parquet` gives no such boundary — the
  * files land one task at a time and a concurrent scan lists whatever
  * exists at that instant.
  *
  * Discipline (the engine-wide epoch convention,
  * [[graft.streaming.IdempotentSink]]'s batch shape generalized to plain
  * BATCH appends): each append overwrites its own `_batch=<id>`
  * subdirectory, then commits a `_COMMITTED` marker file; [[read]] lists
  * marker-bearing directories and scans exactly those. The leading
  * underscore keeps a naive `spark.read.parquet(path)` from seeing
  * half-landed files too (Spark's file index skips underscore paths) —
  * but such a read sees committed batches AS EMPTY as well, so tables
  * written through this API are read through [[read]].
  *
  * Idempotence: with a caller-owned `batchId` (a stream epoch, an
  * orchestrator run id) a replay overwrites the same directory and
  * re-commits — exactly-once content by construction; a replay that
  * finds the marker already present skips entirely. Without one, the
  * next free id is allocated (single-writer — concurrent WRITERS need
  * caller-owned disjoint ids; readers are lock-free and concurrent).
  *
  * Scale: the marker protocol adds two metadata ops per append and a
  * directory listing per read — both O(batches), independent of data
  * size; partition columns (`partitionBy`) live INSIDE each batch
  * directory, so partition pruning still reaches the scan per batch.
  * Batch-dir fragmentation across many appends is [[compact]]'s job:
  * folding k committed batches into one needs an ATOMIC visibility flip
  * (marker listing alone can't express "replaced" — landing the folded
  * copy would double the data for a concurrent lister), so the first
  * compaction upgrades the table to a `_MANIFEST` pointer (the
  * engine-wide [[graft.runtime.PointerFile]] protocol) naming the live
  * batch ids; from then on readers resolve the manifest — one metadata
  * read instead of O(batches) marker probes — and every flip is
  * write-new-state → commit-pointer, crash-safe at any instant.
  * Writers are single-maintainer per table (the engine-wide contract);
  * readers stay concurrent and lock-free on either protocol.
  *
  * DATA SKIPPING rides the same layout ([[BatchStats]] — the per-file
  * stats role of Delta's `_delta_log`): `statsCols` on [[append]] writes
  * a `_STATS` zone map (min/max/null counts) into the batch dir,
  * [[compact]] folds zone maps exactly without rescanning, and the
  * predicate reader `read(path, predicate)` drops every batch whose
  * stats PROVE the predicate empty — driver-side, before any footer is
  * opened. [[compactClustered]] (z-order fold, OPTIMIZE ZORDER BY's
  * role) is what makes the ranges tight enough to skip on: after it, a
  * selective predicate on any clustered column scans only the matching
  * z-range batches. At 100 TB that layering is partition pruning →
  * batch-dir zone maps → parquet row-group min/max, each cutting the
  * next's input.
  */
object AtomicAppend {

  private val Marker = "_COMMITTED"

  private[layers] def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  /** Every mutator here assumes ONE maintainer: its manifest flips and
    * log renames are last-writer-wins, so driving an [[OccTable]]-marked
    * table through this protocol could overwrite a concurrent optimistic
    * commit. Refuse up front, actionably.
    */
  private def requireSingleMaintainer(f: org.apache.hadoop.fs.FileSystem,
      basePath: String): Unit =
    require(!f.exists(new Path(s"$basePath/_OCC")),
      s"$basePath is a multi-writer (OCC) table — drive writes through " +
        "graft.layers.OccTable; the single-maintainer mutators would race " +
        "its optimistic commits")

  private def manifestIds(spark: SparkSession, basePath: String): Option[Seq[Long]] =
    graft.runtime.PointerFile.read(fs(spark, basePath),
      new Path(s"$basePath/_MANIFEST"), new Path(s"$basePath/_MANIFEST.tmp"))
      .map(s => if (s.isEmpty) Seq.empty
        else s.split(",").map(_.trim.toLong).toSeq.sorted)

  private def commitManifest(spark: SparkSession, basePath: String, ids: Seq[Long]): Unit =
    graft.runtime.PointerFile.commit(fs(spark, basePath),
      new Path(s"$basePath/_MANIFEST"), new Path(s"$basePath/_MANIFEST.tmp"),
      ids.sorted.mkString(","))

  private def markerDirs(spark: SparkSession, basePath: String): Seq[Path] = {
    val f = fs(spark, basePath)
    val base = new Path(basePath)
    if (!f.exists(base)) Seq.empty
    else f.listStatus(base).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("_batch="))
      .filter(st => f.exists(new Path(st.getPath, Marker)))
      .map(_.getPath)
      // id order, not listing order — readers and [[pruneBatches]] report
      // deterministically on any filesystem
      .sortBy(p => scala.util.Try(p.getName.stripPrefix("_batch=").toLong)
        .getOrElse(Long.MaxValue))
  }

  private def committedDirs(spark: SparkSession, basePath: String): Seq[Path] =
    manifestIds(spark, basePath) match {
      case Some(ids) => ids.map(id => new Path(s"$basePath/_batch=$id"))
      case None => markerDirs(spark, basePath)
    }

  /** One scan over a set of committed batch dirs. `basePath` anchors
    * partition discovery at the TABLE root: without it, a multi-batch
    * read of a PARTITIONED table trips CONFLICTING_DIRECTORY_STRUCTURES
    * (each batch root parses its own partition chain). Anchoring makes
    * Spark infer `_batch` itself as a partition column — protocol
    * metadata, not data — so it is dropped before the frame escapes
    * (critically: [[compact]] feeds this frame straight into the folded
    * WRITE, which must not bake a `_batch` column into the data).
    *
    * The scan binds to the table's LOGGED schema when one exists
    * ([[storedSchema]]): without it, Spark samples ONE footer, so a
    * column added by a later append silently VANISHES whenever the
    * sampled file predates it — with it, every batch reads under the
    * full evolved schema and pre-evolution batches null-fill the new
    * columns. Logged PARTITION columns ([[storedPartSchema]]) bind too,
    * under their WRITTEN types — partition-value inference would re-type
    * them from directory names per read (and can't type them at all on
    * an empty table); only the protocol's own `_batch` is left to
    * discovery.
    */
  private def scanDirs(spark: SparkSession, basePath: String,
      dirs: Seq[Path]): DataFrame =
    scanDirs(spark, basePath, dirs, dvCurrent(fs(spark, basePath), basePath))

  /** [[scanDirs]] under an explicit deletion-vector generation — what
    * [[readAsOf]] and the change feeds use to reconstruct the masking in
    * force AT a version rather than now.
    */
  private[layers] def scanDirs(spark: SparkSession, basePath: String,
      dirs: Seq[Path], dv: Option[Long]): DataFrame =
    applyDv(spark, basePath, scanRaw(spark, basePath, dirs), dv)

  /** The physical scan, no deletion-vector masking — the positions
    * source for [[deleteWhereMergeOnRead]].
    */
  private def scanRaw(spark: SparkSession, basePath: String,
      dirs: Seq[Path]): DataFrame = {
    val reader = spark.read.option("basePath", basePath)
    storedSchema(spark, basePath).foreach { s =>
      reader.schema(org.apache.spark.sql.types.StructType(
        s.fields ++ storedPartSchema(spark, basePath).map(_.fields).getOrElse(Array.empty)))
    }
    reader.parquet(dirs.map(_.toString): _*).drop("_batch")
  }

  // ---------------------------------------------------------- table schema

  /** The table's logged FILE schema (data columns as written inside the
    * batch dirs — partition columns live in the directory structure),
    * the schema-in-metadata half of Delta's log: readers bind to it
    * instead of sampling a footer. None on tables created before the
    * log existed (they read footer-sampled, as before).
    */
  def storedSchema(spark: SparkSession, basePath: String): Option[org.apache.spark.sql.types.StructType] =
    graft.runtime.PointerFile.read(fs(spark, basePath),
      new Path(s"$basePath/_SCHEMA"), new Path(s"$basePath/_SCHEMA.tmp"))
      .map(s => org.apache.spark.sql.types.DataType.fromJson(s)
        .asInstanceOf[org.apache.spark.sql.types.StructType])

  /** The table's logged PARTITION-column schema (the columns living in
    * the directory structure, in nesting order, under their types as
    * WRITTEN) — what lets an EMPTY table's frame carry the same shape as
    * a non-empty read, and every read bind partition types instead of
    * re-inferring them from directory names. None on unpartitioned or
    * pre-log tables.
    */
  def storedPartSchema(spark: SparkSession, basePath: String): Option[org.apache.spark.sql.types.StructType] =
    graft.runtime.PointerFile.read(fs(spark, basePath),
      new Path(s"$basePath/_PARTSCHEMA"), new Path(s"$basePath/_PARTSCHEMA.tmp"))
      .map(s => org.apache.spark.sql.types.DataType.fromJson(s)
        .asInstanceOf[org.apache.spark.sql.types.StructType])

  private def logPartSchema(spark: SparkSession, basePath: String,
      df: DataFrame, partitionBy: Seq[String]): Unit =
    if (partitionBy.nonEmpty) {
      val parts = org.apache.spark.sql.types.StructType(partitionBy.flatMap(p =>
        df.schema.fields.find(_.name.equalsIgnoreCase(p)).map(_.copy(nullable = true))))
      if (!storedPartSchema(spark, basePath).contains(parts))
        graft.runtime.PointerFile.commit(fs(spark, basePath),
          new Path(s"$basePath/_PARTSCHEMA"), new Path(s"$basePath/_PARTSCHEMA.tmp"),
          parts.json)
    }

  /** `dt` with every NESTED nullability flag forced permissive — the
    * equality domain for append-compatibility checks: an aggregation or
    * join flips a struct field's / array element's nullability without
    * changing the logical type, and two such schemas must not fail an
    * append as a "type change".
    */
  private[layers] def relaxNullability(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case StructType(fields) => StructType(fields.map(f =>
        f.copy(dataType = relaxNullability(f.dataType), nullable = true)))
      case ArrayType(et, _) => ArrayType(relaxNullability(et), containsNull = true)
      case MapType(k, v, _) =>
        MapType(relaxNullability(k), relaxNullability(v), valueContainsNull = true)
      case other => other
    }
  }

  /** Merge an incoming batch's file schema into the logged one:
    * ADD-COLUMN evolution only — new columns append (nullable; older
    * batches null-fill them), existing columns must keep their exact
    * type (no silent widening/narrowing — a type change is a rewrite,
    * route it through [[SchemaEvolution]]). Type equality ignores
    * nullability at every nesting level (see [[relaxNullability]]); the
    * stored field wins on a pure-nullability disagreement. Returns the
    * schema to log.
    */
  private def mergeTableSchema(stored: org.apache.spark.sql.types.StructType,
      incoming: org.apache.spark.sql.types.StructType,
      basePath: String): org.apache.spark.sql.types.StructType = {
    incoming.fields.foreach { f =>
      stored.fields.find(_.name.equalsIgnoreCase(f.name)).foreach { s =>
        require(relaxNullability(s.dataType) == relaxNullability(f.dataType),
          s"append to $basePath changes column '${f.name}' from ${s.dataType} " +
            s"to ${f.dataType} — type changes need a rewrite (SchemaEvolution), " +
            "not an append")
      }
    }
    val extra = incoming.fields.filterNot(f =>
      stored.fields.exists(_.name.equalsIgnoreCase(f.name)))
    org.apache.spark.sql.types.StructType((stored.fields ++ extra)
      .map(f => f.copy(dataType = relaxNullability(f.dataType), nullable = true)))
  }

  /** Log (and if needed evolve) the table schema for a batch about to
    * become — or already — visible. Idempotent: no pointer write when
    * nothing changed, so replays and crash-heals converge.
    */
  private[layers] def logSchema(spark: SparkSession, basePath: String,
      fileSchema: org.apache.spark.sql.types.StructType): Unit = {
    val stored = storedSchema(spark, basePath)
    val merged = stored
      .map(mergeTableSchema(_, fileSchema, basePath))
      .getOrElse(org.apache.spark.sql.types.StructType(fileSchema.fields
        .map(f => f.copy(dataType = relaxNullability(f.dataType), nullable = true))))
    if (!stored.contains(merged))
      graft.runtime.PointerFile.commit(fs(spark, basePath),
        new Path(s"$basePath/_SCHEMA"), new Path(s"$basePath/_SCHEMA.tmp"),
        merged.json)
  }

  // -------------------------------------------------------- CHECK constraints

  /** The table's CHECK constraints (Delta `ALTER TABLE … ADD CONSTRAINT
    * … CHECK`'s role): name → SQL boolean expression, enforced on every
    * row-adding write. SQL CHECK semantics: a row violates only when the
    * expression is FALSE — NULL passes (write `x IS NOT NULL` to forbid
    * nulls).
    */
  def checkConstraints(spark: SparkSession, basePath: String): Map[String, String] =
    graft.runtime.PointerFile.read(fs(spark, basePath),
      new Path(s"$basePath/_CONSTRAINTS"), new Path(s"$basePath/_CONSTRAINTS.tmp"))
      .map(_.split("\n").filter(_.nonEmpty).map { line =>
        val Array(n, sql) = line.split("\t", 2)
        n -> sql
      }.toMap).getOrElse(Map.empty)

  private def commitConstraints(spark: SparkSession, basePath: String,
      cs: Map[String, String]): Unit =
    graft.runtime.PointerFile.commit(fs(spark, basePath),
      new Path(s"$basePath/_CONSTRAINTS"), new Path(s"$basePath/_CONSTRAINTS.tmp"),
      cs.toSeq.sortBy(_._1).map { case (n, sql) => s"$n\t$sql" }.mkString("\n"))

  /** Add a CHECK constraint. EXISTING rows are validated first (one
    * scan — Delta's discipline: a constraint the current data violates
    * must not be added), then the constraint pointer flips; every
    * subsequent row-adding write ([[append]], [[updateWhere]],
    * [[mergeInto]]) enforces it AT ZERO EXTRA COST — the violation count
    * rides the write job's observation, and a violating write deletes
    * its own (never-visible) batch dir and throws before the commit.
    */
  def addCheckConstraint(spark: SparkSession, basePath: String,
      name: String, sqlExpr: String): Unit = {
    require(name.matches("[A-Za-z0-9_-]+"),
      s"constraint name '$name' must be alphanumeric/_/-")
    require(!sqlExpr.contains("\n") && !sqlExpr.contains("\t"),
      "constraint expression must be a single line")
    readIfExists(spark, basePath).foreach { existing =>
      val bad = existing.filter(!F.coalesce(F.expr(sqlExpr).cast("boolean"),
        F.lit(true))).count()
      require(bad == 0L,
        s"cannot add CHECK constraint '$name' CHECK ($sqlExpr) to $basePath: " +
          s"$bad existing rows violate it")
    }
    commitConstraints(spark, basePath,
      checkConstraints(spark, basePath) + (name -> sqlExpr))
  }

  /** Drop a CHECK constraint by name (unknown names fail actionably). */
  def dropCheckConstraint(spark: SparkSession, basePath: String, name: String): Unit = {
    val cs = checkConstraints(spark, basePath)
    require(cs.contains(name),
      s"no CHECK constraint '$name' on $basePath (has: ${cs.keys.toSeq.sorted.mkString(",")})")
    commitConstraints(spark, basePath, cs - name)
  }

  /** Violation-count metric columns for a write's observation — one
    * `count(expr IS FALSE)` per constraint, names stable for
    * [[requireNoViolations]].
    */
  private def constraintAggs(cs: Map[String, String]): Seq[Column] =
    cs.toSeq.sortBy(_._1).map { case (n, sql) =>
      F.count(F.when(!F.coalesce(F.expr(sql).cast("boolean"), F.lit(true)),
        F.lit(1))).as(s"__ck_$n")
    }

  /** Enforce observed constraint counts for a just-written batch dir:
    * on violation, delete the (never-visible) dir and throw.
    */
  private def requireNoViolations(f: org.apache.hadoop.fs.FileSystem, dir: Path,
      basePath: String, cs: Map[String, String], metrics: Map[String, Any]): Unit = {
    val bad = cs.toSeq.sortBy(_._1).flatMap { case (n, sql) =>
      val v = metrics(s"__ck_$n").asInstanceOf[Long]
      Option.when(v > 0L)(s"'$n' CHECK ($sql): $v rows")
    }
    if (bad.nonEmpty) {
      f.delete(dir, true) // the batch never became visible
      throw new IllegalArgumentException(
        s"write to $basePath rejected by CHECK constraints — ${bad.mkString("; ")}")
    }
  }

  /** Ids of the committed batches at `basePath` (sorted ascending) — the
    * manifest when the table has one, the marker listing otherwise.
    */
  def committedIds(spark: SparkSession, basePath: String): Seq[Long] =
    manifestIds(spark, basePath).getOrElse(
      markerDirs(spark, basePath)
        .flatMap(p => scala.util.Try(p.getName.stripPrefix("_batch=").toLong).toOption)
        .sorted)

  // ------------------------------------------------------------ commit log

  private val VlogDir = "_VLOG"

  private[layers] def vlogPath(basePath: String, v: Long) = new Path(s"$basePath/$VlogDir/v=$v")

  /** Committed table versions, oldest first ([[readAsOf]]'s domain). */
  def versions(spark: SparkSession, basePath: String): Seq[Long] = {
    val f = fs(spark, basePath)
    val dir = new Path(s"$basePath/$VlogDir")
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq
      .filterNot(_.getPath.getName.startsWith("LATEST"))
      .flatMap(st => scala.util.Try(st.getPath.getName.stripPrefix("v=").toLong).toOption)
      .sorted
  }

  /** The newest version, via the `LATEST` pointer — O(1) metadata reads,
    * never a directory listing: a standing stream commits one version
    * per trigger, and [[logCommit]] on the next trigger must not pay
    * O(version-count) to find where it is. Falls back to the listing
    * for pre-pointer tables.
    */
  private def latestVersion(f: org.apache.hadoop.fs.FileSystem,
      spark: SparkSession, basePath: String): Option[Long] =
    graft.runtime.PointerFile.read(f,
      new Path(s"$basePath/$VlogDir/LATEST"), new Path(s"$basePath/$VlogDir/LATEST.tmp"))
      .flatMap(s => scala.util.Try(s.toLong).toOption)
      .orElse(versions(spark, basePath).lastOption)

  /** One commit-log entry: the commit KIND, the live batch set after
    * it, and the DELETION-VECTOR generation in force ([[dvCurrent]] at
    * commit time — what [[readAsOf]] applies to reconstruct the version,
    * None = no deletions masked). `append` commits add rows (the new
    * batch dirs ARE the change feed); `fold` commits
    * ([[compact]]/[[compactClustered]]) replace batches
    * content-preservingly and contribute NOTHING to a change feed —
    * which is why the kind must be logged, not inferred: an id-diff
    * across a fold would re-emit the whole table. Serialized as
    * `kind[@dv=<gen>]:id,id,…`; pre-DV entries parse with `dv = None`.
    */
  private[layers] final case class VlogEntry(kind: String, ids: Seq[Long], dv: Option[Long])

  private[layers] def vlogEntry(f: org.apache.hadoop.fs.FileSystem, basePath: String,
      v: Long): Option[VlogEntry] =
    try {
      val in = graft.runtime.MetaIO.open(f, vlogPath(basePath, v))
      val content =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      val (kindPart, csv) = content.split(":", 2) match {
        case Array(k, rest) => (k, rest)
        case _ => ("append", content) // first-format entries were append-only
      }
      val (kind, dv) = kindPart.split("@dv=", 2) match {
        case Array(k, g) => (k, scala.util.Try(g.toLong).toOption)
        case _ => (kindPart, None)
      }
      Some(VlogEntry(kind,
        if (csv.isEmpty) Seq.empty
        else csv.split(",").map(_.trim.toLong).toSeq.sorted, dv))
    } catch { case _: java.io.FileNotFoundException => None }

  private def vlogIds(f: org.apache.hadoop.fs.FileSystem, basePath: String,
      v: Long): Option[Seq[Long]] = vlogEntry(f, basePath, v).map(_.ids)

  // ------------------------------------------------------ deletion vectors

  private val DvDir = "_DV"

  private def dvGenPath(basePath: String, g: Long) = new Path(s"$basePath/$DvDir/gen=$g")

  /** The deletion-vector generation currently in force (merge-on-read
    * deletes' visibility pointer — flipping it IS the delete's atomic
    * commit, exactly as the `_MANIFEST` flip is an append's). None = no
    * deletions masked.
    */
  def dvCurrent(spark: SparkSession, basePath: String): Option[Long] =
    dvCurrent(fs(spark, basePath), basePath)

  private def dvCurrent(f: org.apache.hadoop.fs.FileSystem,
      basePath: String): Option[Long] =
    graft.runtime.PointerFile.read(f,
      new Path(s"$basePath/$DvDir/CURRENT"), new Path(s"$basePath/$DvDir/CURRENT.tmp"))
      .flatMap(s => scala.util.Try(s.toLong).toOption)

  private def commitDvPointer(f: org.apache.hadoop.fs.FileSystem,
      basePath: String, g: Long): Unit =
    graft.runtime.PointerFile.commit(f,
      new Path(s"$basePath/$DvDir/CURRENT"), new Path(s"$basePath/$DvDir/CURRENT.tmp"),
      g.toString)

  /** A generation's (file, position) tombstones. Schema:
    * `__dv_file` string, `__dv_pos` long — FIXED by the engine (the
    * writer is [[deleteWhereMergeOnRead]]), so the read binds it
    * explicitly instead of paying a footer-inference job per mask read
    * (round-15 optimization).
    */
  private def dvFrame(spark: SparkSession, basePath: String, g: Long): DataFrame =
    spark.read.schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__dv_file",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("__dv_pos",
          org.apache.spark.sql.types.LongType))))
      .parquet(dvGenPath(basePath, g).toString)

  /** Mask `df`'s rows whose (file, row-index) the generation tombstones —
    * a BROADCAST anti-join keyed on parquet's own `_metadata` columns,
    * so the big side never shuffles and deleted rows cost one hash probe
    * per row. Positions are physical and immutable for committed batch
    * files; tombstones referencing replaced (folded/rewritten) files
    * match nothing, which is what makes folds MATERIALIZE deletions for
    * free.
    */
  private def applyDv(spark: SparkSession, basePath: String, df: DataFrame,
      dv: Option[Long]): DataFrame =
    dv.fold(df) { g =>
      require(fs(spark, basePath).exists(dvGenPath(basePath, g)),
        s"deletion-vector generation $g of $basePath is missing (vacuumed while " +
          "a version still references it?) — raise vacuum's retainVersions")
      df.withColumn("__dv_file", F.col("_metadata.file_path"))
        .withColumn("__dv_pos", F.col("_metadata.row_index"))
        .join(F.broadcast(dvFrame(spark, basePath, g)),
          Seq("__dv_file", "__dv_pos"), "left_anti")
        .drop("__dv_file", "__dv_pos")
    }

  /** Record the just-committed live batch set as the next table version
    * (one immutable `_VLOG/v=<n>` file — the commit-history half of the
    * `_delta_log` role; the manifest/markers are the CURRENT-state
    * half). Idempotent: when the latest entry already equals `liveNow`
    * (a replay, or nothing changed) no entry is written — so a crash
    * between a visibility commit and its log entry self-heals on the
    * next commit or replay, at the cost of the skipped intermediate
    * state never appearing in history (every logged version IS a state
    * the table actually held).
    */
  /** The latest version after adopting any orphan entries (see
    * [[logCommit]]), paired with the pointer's pre-adoption value.
    */
  private def adoptedLatest(f: org.apache.hadoop.fs.FileSystem, spark: SparkSession,
      basePath: String): (Option[Long], Option[Long]) = {
    var latest = latestVersion(f, spark, basePath)
    val pointed = latest
    while (f.exists(vlogPath(basePath, latest.map(_ + 1).getOrElse(0L))))
      latest = Some(latest.map(_ + 1).getOrElse(0L))
    (latest, pointed)
  }

  /** The version the NEXT [[logCommit]] will assign, assuming it writes
    * an entry (the single-maintainer contract makes this a guarantee for
    * a commit that changes the live set). Lets a writer key a sidecar —
    * e.g. a [[changeFeed]] change file — by version BEFORE the commit,
    * so the sidecar is already in place when the version becomes
    * observable.
    */
  private def nextVersion(f: org.apache.hadoop.fs.FileSystem, spark: SparkSession,
      basePath: String): Long =
    adoptedLatest(f, spark, basePath)._1.map(_ + 1).getOrElse(0L)

  private def logCommit(spark: SparkSession, basePath: String,
      liveNow: Seq[Long], kind: String = "append"): Long = {
    val f = fs(spark, basePath)
    // ADOPT any orphan entries a crash left un-pointered (the entry
    // rename landed, the LATEST update didn't): log entries are
    // IMMUTABLE once a lister could have seen them — versions()/
    // readAsOf resolve the directory, so overwriting the orphan would
    // silently re-point an already-observable version at a different
    // batch set. The orphan names a state the table really committed
    // (logCommit runs after the visibility commit), so rolling the
    // pointer forward to it is the truthful heal.
    val (latest, pointed) = adoptedLatest(f, spark, basePath)
    def healPointer(): Unit =
      if (latest != pointed) latest.foreach(v =>
        graft.runtime.PointerFile.commit(f,
          new Path(s"$basePath/$VlogDir/LATEST"), new Path(s"$basePath/$VlogDir/LATEST.tmp"),
          v.toString))
    val sorted = liveNow.sorted
    val dvNow = dvCurrent(f, basePath)
    // FULL-entry idempotency (kind + ids + dv), not ids alone: a
    // merge-on-read delete changes the dv generation without touching
    // the batch set, and an ids-only compare would silently swallow its
    // log entry — losing the version time travel and the change feed key
    // the delete's change file by
    if (latest.flatMap(vlogEntry(f, basePath, _))
        .contains(VlogEntry(kind, sorted, dvNow))) {
      healPointer(); return latest.get // replay / adopted orphan: entry already live
    }
    // entry first, pointer second: a crash between the two leaves an
    // orphan the adoption above heals. The entry itself lands by
    // write-tmp → rename: readers list the directory (not just the
    // pointer), so an in-place create would expose a torn/empty entry
    // to a concurrent versions()/readAsOf — the one reader-visible
    // metadata file here that must be as atomic as the PointerFiles
    val next = latest.map(_ + 1).getOrElse(0L)
    val tmp = new Path(s"$basePath/$VlogDir/v=$next.tmp")
    val out = graft.runtime.MetaIO.create(f, tmp)
    try out.write((s"$kind${dvNow.map(g => s"@dv=$g").getOrElse("")}:" +
      sorted.mkString(",")).getBytes("UTF-8"))
    finally out.close()
    val dest = vlogPath(basePath, next)
    require(f.rename(tmp, dest), s"failed to commit log entry $dest")
    graft.runtime.PointerFile.commit(f,
      new Path(s"$basePath/$VlogDir/LATEST"), new Path(s"$basePath/$VlogDir/LATEST.tmp"),
      next.toString)
    next
  }

  /** The table as of commit `version` (TIME TRAVEL — Delta's
    * `VERSION AS OF`): scans exactly the batch set the table held at
    * that commit. Replaced batch dirs stay on disk until [[vacuum]], so
    * every version newer than the vacuum retention window stays
    * readable; older versions fail actionably.
    */
  def readAsOf(spark: SparkSession, basePath: String, version: Long): DataFrame = {
    val f = fs(spark, basePath)
    val e = vlogEntry(f, basePath, version).getOrElse(
      throw new IllegalArgumentException(
        s"no committed version $version under $basePath " +
          s"(versions: ${versions(spark, basePath).mkString(",")})"))
    val dirs = e.ids.map(id => new Path(s"$basePath/_batch=$id"))
    dirs.filterNot(f.exists) match {
      case Seq() if dirs.isEmpty => emptyFrame(spark, basePath)
      // the deletion-vector generation in force AT the version, not now:
      // rows merge-on-read-deleted later must still appear here
      case Seq() => scanDirs(spark, basePath, dirs, e.dv)
      case gone => throw new IllegalArgumentException(
        s"version $version of $basePath references vacuumed batches " +
          s"${gone.map(_.getName).mkString(",")} — raise vacuum's retainVersions " +
          "to keep older versions readable")
    }
  }

  /** A zero-row frame bound to the table's schema at O(1) cost: one
    * batch dir's footer (never the full listing a `read(...)` would
    * build just to throw its rows away), or the logged schema when the
    * table is currently empty. Partition columns join from their own
    * log ([[storedPartSchema]]) so an empty table's shape matches a
    * non-empty read — a union or schema-keyed cache built against the
    * empty frame must not break when data arrives.
    */
  private[layers] def emptyFrame(spark: SparkSession, basePath: String): DataFrame = {
    val dirs = committedDirs(spark, basePath)
    if (dirs.nonEmpty)
      scanDirs(spark, basePath, Seq(dirs.head)).filter(F.lit(false))
    else storedSchema(spark, basePath) match {
      case Some(s) =>
        val full = org.apache.spark.sql.types.StructType(
          s.fields ++ storedPartSchema(spark, basePath).map(_.fields).getOrElse(Array.empty))
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], full)
      case None => throw new IllegalArgumentException(
        s"no committed batches and no logged schema under $basePath — " +
          "cannot bind an empty frame")
    }
  }

  /** (version, live batch ids) pairs, oldest first. */
  def history(spark: SparkSession, basePath: String): Seq[(Long, Seq[Long])] = {
    val f = fs(spark, basePath)
    versions(spark, basePath).flatMap(v => vlogIds(f, basePath, v).map(v -> _))
  }

  /** One-line render of the commit log WITH kinds — the observability
    * payload [[ProtocolAudit]] attaches to a divergence report:
    * `v0:append{0} v1:fold{3} …`.
    */
  def describeHistory(spark: SparkSession, basePath: String): String = {
    val f = fs(spark, basePath)
    versions(spark, basePath).map { v =>
      vlogEntry(f, basePath, v)
        .map(e => s"v$v:${e.kind}${e.dv.map(g => s"@dv=$g").getOrElse("")}" +
          s"{${e.ids.mkString(",")}}")
        .getOrElse(s"v$v:?")
    }.mkString(" ")
  }

  /** The rows ADDED between two committed versions — the CHANGE FEED
    * role of Delta's CDF for insert-only batch tables, derived from the
    * commit log alone: an `append` commit's delta is exactly its new
    * batch dirs; a `fold` commit ([[compact]]/[[compactClustered]])
    * replaces batches content-preservingly and contributes nothing.
    * This is the LATE-DATA-SAFE incremental feed: consumption is keyed
    * on batch identity, not an event-time high-water mark, so a batch
    * whose timestamps lag everything already consumed still arrives
    * (the blind spot [[IncrementalView.refreshFromAppends]] documents).
    *
    * Soundness over completeness at the edges: a compound commit — a
    * crashed fold healed by a later append logs one entry that both
    * removes and adds batches — cannot be split into "replaced" vs
    * "new" from ids alone, so it FAILS actionably instead of re-emitting
    * folded rows as inserts; vacuumed ranges and `rewrite` commits
    * ([[deleteWhere]]/[[updateWhere]] — rows removed or changed, which
    * an insert-only delta cannot represent) fail the same way. Returns
    * rows from `(fromVersion, toVersion]`.
    */
  def changesBetween(spark: SparkSession, basePath: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"changesBetween: fromVersion $fromVersion > toVersion $toVersion")
    val f = fs(spark, basePath)
    def entry(v: Long) = vlogEntry(f, basePath, v).getOrElse(
      throw new IllegalArgumentException(
        s"no committed version $v under $basePath (vacuumed? " +
          s"versions: ${versions(spark, basePath).mkString(",")})"))
    val window = versions(spark, basePath)
      .filter(v => v > fromVersion && v <= toVersion)
    val start = entry(fromVersion)
    var prevIds = start.ids.toSet
    var prevDv = start.dv
    val added = Seq.newBuilder[Long]
    window.foreach { v =>
      val e = entry(v)
      val newIds = e.ids.toSet
      e.kind match {
        case "append" =>
          // an append never moves the deletion-vector pointer: a changed
          // generation here means a merge-on-read delete crashed between
          // its visibility flip and its log entry — the delete is in
          // force but was never logged, so this feed would silently skip
          // rows it removed. Fail actionably (the advice-r14 window).
          require(e.dv == prevDv,
            s"version $v of $basePath is an append whose deletion-vector " +
              s"generation moved ($prevDv -> ${e.dv}): a merge-on-read delete " +
              "crashed between its pointer flip and its log entry, so its " +
              "removed rows were never published — re-bootstrap this " +
              "consumer from readAsOf")
          val removed = prevIds -- newIds
          require(removed.isEmpty,
            s"version $v of $basePath is a compound commit (an append entry " +
              s"that also retires batches ${removed.toSeq.sorted.mkString(",")} — " +
              "a crash-healed fold): its delta cannot be derived from ids; " +
              "re-bootstrap this consumer from readAsOf")
          added ++= (newIds -- prevIds).toSeq.sorted
        case "fold" => () // content-preserving: no delta
        case "rewrite" | "mordelete" | "merge" => throw new IllegalArgumentException(
          s"version $v of $basePath is a ${e.kind} commit (deleteWhere/" +
            "updateWhere/deleteWhereMergeOnRead/mergeInto): rows were removed " +
            "or changed, which an insert-only change feed cannot represent — " +
            "consume the row-level feed (changeFeed) instead, or re-bootstrap " +
            "from readAsOf")
        case "restore" => throw new IllegalArgumentException(
          s"version $v of $basePath is a restore (the table was rolled back): " +
            "re-bootstrap this consumer from readAsOf")
        case other => throw new IllegalArgumentException(
          s"version $v of $basePath has unknown commit kind '$other'")
      }
      prevIds = newIds
      prevDv = e.dv
    }
    val dirs = added.result().map(id => new Path(s"$basePath/_batch=$id"))
    dirs.filterNot(f.exists) match {
      case Seq() if dirs.isEmpty => emptyFrame(spark, basePath) // empty delta
      // the window crosses no mordelete (it throws above), so the dv
      // generation in force is CONSTANT across it: the start entry's.
      // (A clearing fold mid-window only un-masks files the window's
      // appends never reference — a no-op on these dirs.)
      case Seq() => scanDirs(spark, basePath, dirs, start.dv)
      case gone => throw new IllegalArgumentException(
        s"the change feed $fromVersion→$toVersion of $basePath references " +
          s"vacuumed batches ${gone.map(_.getName).mkString(",")} — raise " +
          "vacuum's retainVersions or re-bootstrap the consumer")
    }
  }

  // ------------------------------------------------ row-level change feed

  private val CdfDir = "_CDF"

  private def cdfPath(basePath: String, v: Long) = new Path(s"$basePath/$CdfDir/v=$v")

  /** The ROW-LEVEL change feed — Delta CDF's `table_changes` role, the
    * full-fidelity sibling of the insert-only [[changesBetween]]: every
    * row changed in `(fromVersion, toVersion]`, tagged `_change_type` ∈
    * {insert, delete, update_preimage, update_postimage} and
    * `_commit_version`. `append` commits derive their insert rows from
    * the commit log alone (the new batch dirs ARE the change set — zero
    * write-side cost); `fold` commits are content-preserving and emit
    * nothing; `rewrite` commits ([[deleteWhere]]/[[updateWhere]]) read
    * the change file the rewrite published under `_CDF/v=<version>` —
    * written change-set-sized at rewrite time, exactly like Delta's
    * `_change_data` files, so a downstream incremental consumer costs
    * O(changes), never O(table). Schema evolution across the window
    * null-backfills (unionByName), matching the table's ADD-COLUMN
    * semantics.
    *
    * Fails actionably (never silently wrong) on: a compound crash-healed
    * commit, a vacuumed window, a pre-CDF or crash-stranded rewrite
    * version with no change file.
    *
    * `fromVersion = -1` replays from the table's creation (every version
    * contributes — Delta's `startingVersion = 0`); any other
    * `fromVersion` must itself be a committed version, and the window is
    * `(fromVersion, toVersion]`.
    */
  def changeFeed(spark: SparkSession, basePath: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"changeFeed: fromVersion $fromVersion > toVersion $toVersion")
    val f = fs(spark, basePath)
    def entry(v: Long) = vlogEntry(f, basePath, v).getOrElse(
      throw new IllegalArgumentException(
        s"no committed version $v under $basePath (vacuumed? " +
          s"versions: ${versions(spark, basePath).mkString(",")})"))
    val window = versions(spark, basePath)
      .filter(v => v > fromVersion && v <= toVersion)
    if (fromVersion < 0L) // full-history bootstrap needs the full history
      versions(spark, basePath).headOption.foreach(first => require(first == 0L,
        s"full-history feed of $basePath impossible: versions before $first " +
          "were vacuumed — re-bootstrap this consumer from readAsOf"))
    var prevIds =
      if (fromVersion < 0L) Set.empty[Long]
      else entry(fromVersion).ids.toSet
    var prevDv =
      if (fromVersion < 0L) Option.empty[Long]
      else entry(fromVersion).dv
    // append/rewrite/merge commits never move the deletion-vector
    // pointer; a moved generation under one of those kinds means a
    // merge-on-read delete crashed between its visibility flip and its
    // log entry — its delete rows were never published, and this feed
    // would silently omit them. Fail actionably (the advice-r14 window).
    def requireDvStable(v: Long, e: VlogEntry): Unit =
      require(e.dv == prevDv,
        s"version $v of $basePath is a ${e.kind} whose deletion-vector " +
          s"generation moved ($prevDv -> ${e.dv}): a merge-on-read delete " +
          "crashed between its pointer flip and its log entry, so its " +
          "removed rows were never published — re-bootstrap this consumer " +
          "from readAsOf")
    val slices = Seq.newBuilder[DataFrame]
    window.foreach { v =>
      val e = entry(v)
      val newIds = e.ids.toSet
      e.kind match {
        case "append" =>
          requireDvStable(v, e)
          val removed = prevIds -- newIds
          require(removed.isEmpty,
            s"version $v of $basePath is a compound commit (an append entry " +
              s"that also retires batches ${removed.toSeq.sorted.mkString(",")} — " +
              "a crash-healed fold): its delta cannot be derived from ids; " +
              "re-bootstrap this consumer from readAsOf")
          val dirs = (newIds -- prevIds).toSeq.sorted
            .map(id => new Path(s"$basePath/_batch=$id"))
          dirs.filterNot(f.exists) match {
            case Seq() => if (dirs.nonEmpty)
              // rows as of THIS commit: the dv generation in force at v
              // (a later merge-on-read delete re-emits its rows as
              // `delete` changes — masking them here would lose them)
              slices += scanDirs(spark, basePath, dirs, e.dv)
                .withColumn("_change_type", F.lit("insert"))
                .withColumn("_commit_version", F.lit(v))
            case gone => throw new IllegalArgumentException(
              s"the change feed $fromVersion→$toVersion of $basePath references " +
                s"vacuumed batches ${gone.map(_.getName).mkString(",")} — raise " +
                "vacuum's retainVersions or re-bootstrap the consumer")
          }
        case "fold" => () // content-preserving: no delta
        case "rewrite" | "mordelete" | "merge" =>
          if (e.kind != "mordelete") requireDvStable(v, e)
          val dir = cdfPath(basePath, v)
          if (!f.exists(dir)) throw new IllegalArgumentException(
            s"${e.kind} version $v of $basePath has no change file under " +
              s"$CdfDir (a pre-CDF rewrite, a vacuumed change file, or a " +
              "crash before the sidecar published) — re-bootstrap this " +
              "consumer from readAsOf")
          // a rewrite whose predicate matched nothing in the uncertain
          // batches publishes an EMPTY change file (just _SUCCESS) —
          // schema-less to parquet, but a valid empty delta. ONLY that
          // case may read as empty: a corrupt change file, a transient
          // FS error, or a permission failure must propagate, not
          // silently drop a version's changes from the feed.
          val hasData = f.listStatus(dir).exists { st =>
            val n = st.getPath.getName
            st.isFile && !n.startsWith("_") && !n.startsWith(".")
          }
          if (hasData)
            slices += spark.read.parquet(dir.toString)
              .withColumn("_commit_version", F.lit(v))
        case "restore" => throw new IllegalArgumentException(
          s"version $v of $basePath is a restore (the table was rolled back, " +
            "possibly removing rows no sidecar records): re-bootstrap this " +
            "consumer from readAsOf")
        case other => throw new IllegalArgumentException(
          s"version $v of $basePath has unknown commit kind '$other'")
      }
      prevIds = newIds
      prevDv = e.dv
    }
    slices.result() match {
      case Seq() =>
        emptyFrame(spark, basePath)
          .withColumn("_change_type", F.lit(null).cast("string"))
          .withColumn("_commit_version", F.lit(null).cast("long"))
      case some => some.reduce(_.unionByName(_, allowMissingColumns = true))
    }
  }

  /** Append `df` as one atomically-visible batch; returns the committed
    * batch id, or None when `batchId` was already committed (replay).
    * On a manifest table the marker commit is followed by the manifest
    * flip; a crash between the two replays to a heal — the marker proves
    * this id's content landed whole, so the replay only finishes the
    * visibility flip (replay presents identical rows by contract).
    */
  def append(df: DataFrame, basePath: String, partitionBy: Seq[String] = Nil,
      batchId: Option[Long] = None, statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil): Option[Long] = {
    val spark = df.sparkSession
    val f = fs(spark, basePath)
    requireSingleMaintainer(f, basePath)
    healRestoreIntent(spark, basePath)
    val manifest = manifestIds(spark, basePath)
    val live = manifest.getOrElse(committedIds(spark, basePath))
    // auto-ids allocate above every on-disk dir, not just the live set:
    // after a delete retires the highest id (dir kept for time travel,
    // marker intact), `live.max + 1` would land ON the retired dir —
    // the replay heal below would then adopt its OLD content into the
    // manifest, silently resurrecting deleted rows
    val id = batchId.getOrElse(
      nextBatchId(f, spark, basePath, live, includeLog = false))
    val dir = new Path(s"$basePath/_batch=$id")
    val marker = new Path(dir, Marker)
    val fileSchema = org.apache.spark.sql.types.StructType(
      df.schema.fields.filterNot(fd => partitionBy.exists(_.equalsIgnoreCase(fd.name))))
    if (f.exists(marker) && live.contains(id)) {
      // heal a crash between the visibility commit and its log entries
      logSchema(spark, basePath, fileSchema)
      logPartSchema(spark, basePath, df, partitionBy)
      logCommit(spark, basePath, live)
      return None // replay: fully committed
    }
    if (!f.exists(marker)) {
      // schema BEFORE visibility: once the marker lands, every reader
      // must already bind to a schema covering this batch's columns
      logSchema(spark, basePath, fileSchema)
      logPartSchema(spark, basePath, df, partitionBy)
      landBatchDir(df, basePath, dir, partitionBy, statsCols, bloomCols,
        checkConstraints(spark, basePath), fileSchema)
      graft.runtime.MetaIO.create(f, marker).close()
    }
    // manifest tables: the flip IS the visibility commit. Also the heal
    // path for a replay that finds its own marker but no manifest entry.
    manifest.foreach(ids => if (!ids.contains(id)) commitManifest(spark, basePath, ids :+ id))
    logCommit(spark, basePath, (live.toSet + id).toSeq)
    Some(id)
  }

  /** Land one batch's data + sidecars into its (still-invisible) batch
    * dir — everything [[append]] does between schema logging and the
    * marker: the write itself (zone-map stats and CHECK-constraint
    * counts riding it as a Dataset.observe, so an append with stats
    * costs ONE job, not a write plus a read-back aggregate), the
    * constraint gate, the stats sidecar, and the bloom read-back (a
    * bloom is an aggregation buffer, not an observable scalar;
    * column-pruned, bound to the logged schema instead of re-inferring
    * the footer it just wrote). The caller owns marker creation and the
    * visibility commit — which is what lets [[appendAll]] run several
    * of these concurrently while committing strictly in order.
    */
  private def landBatchDir(df: DataFrame, basePath: String, dir: Path,
      partitionBy: Seq[String], statsCols: Seq[String], bloomCols: Seq[String],
      constraints: Map[String, String],
      fileSchema: org.apache.spark.sql.types.StructType): Unit = {
    val spark = df.sparkSession
    val f = fs(spark, basePath)
    val obs = Option.when(statsCols.nonEmpty || constraints.nonEmpty)(
      (org.apache.spark.sql.Observation(), // fresh UUID name: fixed names collide across concurrent writers on one session
        BatchStats.observationAggs(df, statsCols)))
    val observed = obs.fold(df) { case (o, (_, aggs)) =>
      val all = aggs ++ constraintAggs(constraints)
      df.observe(o, all.head, all.tail: _*)
    }
    val writer = observed.write.mode("overwrite") // overwrite own dir = replay-safe mid-batch
    (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer)
      .parquet(dir.toString)
    // constraint gate, then sidecars, then (in the caller) the marker: a
    // marker implies a validated batch with complete sidecars
    val metrics = obs.map { case (o, (fields, _)) => (fields, o.get) }
    metrics.foreach { case (_, m) =>
      requireNoViolations(f, dir, basePath, constraints, m) }
    val stats = metrics.filter(_ => statsCols.nonEmpty)
      .map { case (fields, m) => BatchStats.fromObserved(m, fields) }
    stats.foreach(BatchStats.write(f, dir, _))
    if (bloomCols.nonEmpty) {
      val reader =
        if (partitionBy.isEmpty) spark.read.schema(fileSchema)
        else spark.read
      scala.util.Try(reader.parquet(dir.toString)).foreach { landed =>
        val expected = stats.map(_.rows).getOrElse(landed.count())
        BatchBloom.write(f, dir, BatchBloom.compute(landed, bloomCols, expected))
      }
    }
  }

  /** Append several batches as ONE overlapped operation — equivalent to
    * calling [[append]] once per element (same final content, same
    * one-version-per-batch commit history, same sidecars), but the
    * batch DATA writes run concurrently (guide §2.6: independent jobs
    * back-fill each other's task tails — round-16 profiling showed each
    * multi-append query paying 3 strictly serialized ~0.2 s write jobs)
    * while every visibility commit (marker, manifest flip, log entry)
    * stays strictly serial in input order: a reader still observes the
    * batches appearing one at a time, in order, and a change-feed
    * consumer still sees one `append` version per batch.
    *
    * Protocol deltas vs the sequential loop, both on the SAFE side:
    *   - the union schema of every batch is logged before any data
    *     lands (a sequential loop logs batch i's columns before batch
    *     i's visibility; ADD-COLUMN evolution makes the early union
    *     observably identical — extra columns null-fill);
    *   - failure is all-or-nothing for VISIBILITY: if any write fails
    *     (constraint violations included), no batch commits — every
    *     landed dir stays unmarked/invisible, exactly a crashed
    *     attempt's debris that the retry overwrites — where the
    *     sequential loop would have committed the batches preceding
    *     the failing one.
    *
    * Batch ids are caller-owned ([[append]]'s `batchId` discipline;
    * they must be distinct and not collide with retired dirs). A batch
    * whose id is already committed replays to a heal, like [[append]].
    * Returns one entry per input: Some(id) when newly committed, None
    * on replay.
    */
  def appendAll(basePath: String, batches: Seq[(DataFrame, Long)],
      partitionBy: Seq[String] = Nil, statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil): Seq[Option[Long]] = {
    require(batches.nonEmpty, "appendAll needs at least one batch")
    require(batches.map(_._2).distinct.size == batches.size,
      s"appendAll batch ids must be distinct, got ${batches.map(_._2).mkString(",")}")
    val spark = batches.head._1.sparkSession
    val f = fs(spark, basePath)
    requireSingleMaintainer(f, basePath)
    healRestoreIntent(spark, basePath)
    val live0 = manifestIds(spark, basePath).getOrElse(committedIds(spark, basePath))
    val fileSchemas = batches.map { case (df, _) =>
      org.apache.spark.sql.types.StructType(df.schema.fields
        .filterNot(fd => partitionBy.exists(_.equalsIgnoreCase(fd.name))))
    }
    // schema BEFORE any visibility — the union of every batch, logged up
    // front so the concurrent writes below need no driver coordination
    batches.zip(fileSchemas).foreach { case ((df, _), sch) =>
      logSchema(spark, basePath, sch)
      logPartSchema(spark, basePath, df, partitionBy)
    }
    val constraints = checkConstraints(spark, basePath)
    val needWrite = batches.zip(fileSchemas).filter { case ((_, id), _) =>
      !f.exists(new Path(s"$basePath/_batch=$id/$Marker")) }
    // phase 1: land every missing batch dir concurrently — all invisible
    // (no markers), so a crash or failure anywhere leaves only debris.
    graft.operators.Par.awaitAll(needWrite.map { case ((df, id), sch) =>
      () => landBatchDir(df, basePath, new Path(s"$basePath/_batch=$id"),
        partitionBy, statsCols, bloomCols, constraints, sch)
    })
    // phase 2: strictly serial visibility in input order — marker, then
    // the manifest flip (manifest tables: the flip IS the commit; also
    // the heal for a marker stranded by a crash), then the log entry
    var live = live0
    batches.map { case (_, id) =>
      val replay = live.contains(id)
      val marker = new Path(s"$basePath/_batch=$id/$Marker")
      if (!f.exists(marker)) graft.runtime.MetaIO.create(f, marker).close()
      manifestIds(spark, basePath).foreach(ids =>
        if (!ids.contains(id)) commitManifest(spark, basePath, ids :+ id))
      live = (live.toSet + id).toSeq.sorted
      logCommit(spark, basePath, live)
      if (replay) None else Some(id)
    }
  }

  /** Fold all committed batches into ONE batch directory, atomically:
    * write the folded copy (unmarked, invisible), flip the `_MANIFEST`
    * pointer to exactly the new id, then marker the new dir. A reader at
    * ANY instant sees either the old batch set or the folded one, never
    * both and never a prefix; a crash at any step leaves the old state
    * live and the retry overwrites the debris (the folded id is derived
    * from the live set, which a failed attempt never changed). The
    * replaced directories stay on disk for in-flight readers until
    * [[vacuum]]. Returns the folded batch id, or None when the table has
    * fewer than `minBatches` live batches (nothing touched). Single
    * maintainer per table, like every commit protocol in the engine.
    */
  def compact(spark: SparkSession, basePath: String, partitionBy: Seq[String] = Nil,
      minBatches: Int = 2): Option[Long] = {
    requireSingleMaintainer(fs(spark, basePath), basePath)
    healRestoreIntent(spark, basePath)
    val live = committedIds(spark, basePath)
    if (live.size < minBatches) return None
    Some(foldSubset(spark, basePath, live, live, partitionBy))
  }

  /** Incremental BIN-PACKING compaction (Delta OPTIMIZE's file-size
    * role, the maintenance-cadence sibling of [[compact]]): folds ONLY
    * the live batches whose directory weighs under `maxBytes`, leaving
    * already-right-sized batches untouched — at 100 TB the table never
    * pays an O(table) rewrite to absorb a day of small appends; each
    * cycle costs O(small batches), and the steady state is a bounded
    * batch count however long the append history grows. Zone maps fold
    * exactly; the commit logs kind `fold` (content-preserving — a
    * change feed crossing it emits nothing, same as a full fold).
    * Returns the folded id, or None when fewer than `minBatches` small
    * batches exist (nothing touched).
    */
  def compactSmall(spark: SparkSession, basePath: String, maxBytes: Long,
      partitionBy: Seq[String] = Nil, minBatches: Int = 2): Option[Long] = {
    val f = fs(spark, basePath)
    requireSingleMaintainer(f, basePath)
    healRestoreIntent(spark, basePath)
    val live = committedIds(spark, basePath)
    val small = live.filter(id =>
      scala.util.Try(f.getContentSummary(new Path(s"$basePath/_batch=$id")).getLength)
        .toOption.exists(_ < maxBytes))
    if (small.size < minBatches) return None
    Some(foldSubset(spark, basePath, live, small, partitionBy))
  }

  /** The first batch id strictly above every id the table has EVER
    * referenced and may still serve: the live set, every `_batch=` dir
    * on disk (retired dirs awaiting [[vacuum]] — still read by
    * [[readAsOf]]/[[restore]]/[[changeFeed]]), and every id a surviving
    * `_VLOG` entry names (covers a dir deleted by a vacuum that crashed
    * before retiring the entry). `live.max + 1` alone is WRONG once a
    * rewrite can retire the highest id with no replacement (a delete
    * that emptied the batch): the retired dir stays on disk for
    * history, and an allocator blind to it would treat that committed
    * dir as its own crashed debris and destroy it — readAsOf, restore,
    * and the change feed would then silently serve the NEW content for
    * old versions. The vlog scan is one tiny file per version, paid
    * only on maintenance-cadence commits (folds/rewrites/merges), never
    * on reads or plain appends.
    */
  private def nextBatchId(f: org.apache.hadoop.fs.FileSystem, spark: SparkSession,
      basePath: String, live: Seq[Long], includeLog: Boolean): Long = {
    val base = new Path(basePath)
    val onDisk =
      if (!f.exists(base)) Seq.empty[Long]
      else f.listStatus(base).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("_batch="))
        .flatMap(st => scala.util.Try(
          st.getPath.getName.stripPrefix("_batch=").toLong).toOption)
    // the vlog leg only adds ids whose dirs a CRASHED vacuum deleted
    // before retiring their entries — versions already contractually
    // dead. Maintenance commits pay it for belt-and-braces; the
    // per-trigger append hot path skips it (one listing, no O(versions)
    // reads).
    val logged =
      if (!includeLog) Seq.empty[Long]
      else versions(spark, basePath)
        .flatMap(v => vlogIds(f, basePath, v).getOrElse(Seq.empty))
    (live ++ onDisk ++ logged).maxOption.map(_ + 1L).getOrElse(0L)
  }

  /** The shared fold core: write `subset`'s rows as one new batch dir,
    * carry the sidecars over (zone maps merge exactly — min of mins /
    * max of maxes / summed nulls, no rescans; blooms recompute, bit
    * arrays are sized per batch), pre-mark, and flip the manifest from
    * `live` to `(live − subset) + folded` in ONE commit. Markers land
    * BEFORE the flip: once a manifest exists it is authoritative
    * (committedDirs never consults markers), so pre-marking changes
    * nothing a reader can see — a marker-protocol table is first
    * UPGRADED with a content-preserving manifest naming the current
    * live set (marking first there would double the data for a
    * concurrent marker-lister). A crash at any step leaves the old
    * state live; the retry overwrites its own debris (the folded id
    * derives from the live set, which a failed attempt never changed).
    */
  private def foldSubset(spark: SparkSession, basePath: String, live: Seq[Long],
      subset: Seq[Long], partitionBy: Seq[String]): Long = {
    val f = fs(spark, basePath)
    val folded = nextBatchId(f, spark, basePath, live, includeLog = true)
    val dir = new Path(s"$basePath/_batch=$folded")
    val writer = scanDirs(spark, basePath,
        subset.map(id => new Path(s"$basePath/_batch=$id")))
      .write.mode("overwrite")
    (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer)
      .parquet(dir.toString)
    val subsetStats = subset.map(id => BatchStats.read(f, new Path(s"$basePath/_batch=$id")))
    if (subsetStats.forall(_.isDefined))
      BatchStats.write(f, dir, BatchStats.merge(subsetStats.flatten))
    // names-only sidecar reads: deciding WHAT to recompute must not
    // deserialize megabytes of sketches
    val subsetBloomCols = subset.map(id =>
      BatchBloom.readNames(f, new Path(s"$basePath/_batch=$id")))
    if (subsetBloomCols.nonEmpty && subsetBloomCols.forall(_.nonEmpty)) {
      val cols = subsetBloomCols.reduce(_ intersect _).toSeq.sorted
      if (cols.nonEmpty)
        scala.util.Try(spark.read.parquet(dir.toString)).foreach { foldedDf =>
          val expected = if (subsetStats.forall(_.isDefined))
            subsetStats.flatten.map(_.rows).sum.max(1L) else foldedDf.count()
          BatchBloom.write(f, dir, BatchBloom.compute(foldedDf, cols, expected))
        }
    }
    if (manifestIds(spark, basePath).isEmpty)
      commitManifest(spark, basePath, live)
    graft.runtime.MetaIO.create(f, new Path(dir, Marker)).close()
    val after = (live.filterNot(subset.contains) :+ folded).sorted
    commitManifest(spark, basePath, after) // THE atomic visibility flip
    // a FULL fold rewrote the masked scan — every tombstone is
    // materialized, so reset the dv pointer and let new reads skip the
    // (now no-op) anti-join; a PARTIAL fold keeps it: untouched batches
    // still need masking. A reader between the flip and the reset
    // applies the stale generation to the folded files — a no-op, the
    // tombstones name replaced files.
    if (subset.toSet == live.toSet) dvClear(f, basePath)
    logCommit(spark, basePath, after, kind = "fold")
    folded
  }

  private def dvClear(f: org.apache.hadoop.fs.FileSystem, basePath: String): Unit = {
    f.delete(new Path(s"$basePath/$DvDir/CURRENT"), false)
    f.delete(new Path(s"$basePath/$DvDir/CURRENT.tmp"), false)
  }

  /** [[compact]] that additionally Z-ORDER CLUSTERS the fold
    * ([[ZOrder]], the OPTIMIZE ZORDER BY role): the live batches are
    * folded into up to `numBatches` new batch directories split by
    * z-range of `zorderBy`, each with its own zone map over `statsCols`
    * — which is what makes [[read]]'s batch skipping BITE: after an
    * append history ordered by arrival time, every batch spans the full
    * value domain and nothing skips; after a clustered fold each batch
    * covers a tight hyper-rectangle, so a selective predicate on ANY
    * clustered column drops most batch dirs from the scan driver-side.
    * At 100 TB this is the maintenance-cadence operation between "scan
    * every file behind the partition" and "scan the matching z-ranges".
    *
    * Atomicity is [[compact]]'s discipline, k-way: the fold lands
    * unmarked under `_cluster_tmp` (invisible — readers only resolve
    * `_batch=` dirs), moves into place still unmarked, and ONE manifest
    * flip makes all k new batches visible and all old ones dead; a
    * crash at any step leaves the old state live, and the retry
    * overwrites its own debris (ids derive from the live set, which a
    * failed attempt never changed). Replaced dirs await [[vacuum]].
    * Single maintainer per table; readers stay lock-free.
    */
  def compactClustered(spark: SparkSession, basePath: String, zorderBy: Seq[String],
      numBatches: Int, partitionBy: Seq[String] = Nil, statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil, bits: Int = 4,
      minBatches: Int = 2): Option[Seq[Long]] = {
    require(numBatches >= 1, s"numBatches must be >= 1, got $numBatches")
    requireSingleMaintainer(fs(spark, basePath), basePath)
    healRestoreIntent(spark, basePath)
    val live = committedIds(spark, basePath)
    if (live.size < minBatches) return None
    val f = fs(spark, basePath)
    val df = scanDirs(spark, basePath, live.map(id => new Path(s"$basePath/_batch=$id")))
    val tmp = new Path(s"$basePath/_cluster_tmp")
    // a crashed prior attempt strands a partially-renamed tmp; the
    // overwrite below would clear it anyway, but an explicit delete
    // keeps the failure surface one line and covers write modes that
    // don't (vacuum reclaims the abandoned-table case)
    if (f.exists(tmp)) f.delete(tmp, true)
    ZOrder.clusterKeyed(df, zorderBy, numBatches, "__zbatch", bits)
      .write.mode("overwrite")
      .partitionBy("__zbatch" +: partitionBy: _*)
      .parquet(tmp.toString)
    // empty z-ranges write no directory; batch ids are dense over the
    // ranges that materialized
    val present = f.listStatus(tmp).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("__zbatch="))
      .map(_.getPath.getName.stripPrefix("__zbatch=").toLong)
      .sorted
    // per-z-range zone maps in ONE grouped aggregate over the fold
    val statsByZ =
      if (statsCols.isEmpty || present.isEmpty) Map.empty[Long, BatchStats.Stats]
      else BatchStats.computeGrouped(
        spark.read.parquet(tmp.toString), "__zbatch", statsCols)
    val firstId = nextBatchId(f, spark, basePath, live, includeLog = true)
    val ids = present.zipWithIndex.map { case (z, i) =>
      val id = firstId + i
      val dest = new Path(s"$basePath/_batch=$id")
      if (f.exists(dest)) f.delete(dest, true) // crashed prior attempt's debris
      require(f.rename(new Path(tmp, s"__zbatch=$z"), dest),
        s"compactClustered: rename of z-range $z failed")
      statsByZ.get(z).foreach(BatchStats.write(f, dest, _))
      // per-range bloom recompute (bit arrays size per batch, no merge);
      // a maintenance-cadence cost, one pruned scan per range
      if (bloomCols.nonEmpty)
        scala.util.Try(spark.read.parquet(dest.toString)).foreach { landed =>
          val expected = statsByZ.get(z).map(_.rows).getOrElse(landed.count())
          BatchBloom.write(f, dest, BatchBloom.compute(landed, bloomCols, expected))
        }
      id
    }
    // markers BEFORE the k-way flip — same discipline (and rationale)
    // as [[compact]]: upgrade a marker-protocol table with a
    // content-preserving manifest first, then pre-mark the still-
    // invisible fold dirs, then flip once.
    if (manifestIds(spark, basePath).isEmpty)
      commitManifest(spark, basePath, live)
    ids.foreach(id => graft.runtime.MetaIO.create(f, new Path(s"$basePath/_batch=$id/$Marker")).close())
    commitManifest(spark, basePath, ids) // THE atomic visibility flip, k-way
    f.delete(tmp, true)
    dvClear(f, basePath) // always a full fold: every tombstone materialized
    logCommit(spark, basePath, ids, kind = "fold")
    Some(ids)
  }

  // ------------------------------------------------- copy-on-write rewrite

  /** The change feed reserves `_change_type`/`_commit_version`; a row
    * operation on a table that carries either as DATA would emit an
    * ambiguous feed.
    */
  private def requireNoReservedCols(spark: SparkSession, basePath: String): Unit =
    storedSchema(spark, basePath).foreach(s =>
      Seq("_change_type", "_commit_version").foreach(r =>
        require(!s.fieldNames.exists(_.equalsIgnoreCase(r)),
          s"table $basePath has a column named '$r', which the change feed " +
            "reserves — rename it before using row-level deletes/updates")))

  /** Copy-on-write `DELETE ... WHERE` (Delta DELETE's role): removes
    * every row where `predicate` is TRUE (false and NULL rows stay —
    * SQL DELETE semantics), rewriting ONLY the batches whose zone maps
    * / blooms cannot prove the predicate empty. At 100 TB a selective
    * delete on a clustered column rewrites the matching z-range batch
    * dirs, never the table — the same [[BatchStats]] pruning that
    * serves reads decides the write set. Returns
    * (rewritten ids, replacement ids); a batch whose every row matched
    * is simply dropped from the manifest (no empty dir).
    *
    * Atomicity is the fold discipline: replacements land unmarked under
    * new ids, are pre-marked, and ONE manifest flip retires every
    * rewritten id — a reader at any instant sees the table before or
    * after the whole delete, never a partial one. The commit logs kind
    * `rewrite`: an insert-only change feed crossing it FAILS actionably
    * ([[changesBetween]]) — rows were removed, which an insert-only
    * delta cannot represent; consumers re-bootstrap from [[readAsOf]].
    * Replaced dirs stay for time travel until [[vacuum]]. Single
    * maintainer per table, like every commit protocol in the engine.
    */
  def deleteWhere(spark: SparkSession, basePath: String,
      predicate: Column): (Seq[Long], Seq[Long]) =
    rewriteWhere(spark, basePath, predicate, identity, keepMatches = false,
      changeRows = df => df.filter(F.coalesce(predicate, F.lit(false)))
        .withColumn("_change_type", F.lit("delete")))

  /** MERGE-ON-READ `DELETE ... WHERE` — Delta deletion vectors' role,
    * the write-cheap sibling of [[deleteWhere]]: instead of rewriting
    * every touched batch, record the matching rows' (file, row-index)
    * positions as TOMBSTONES in a new deletion-vector generation and
    * atomically flip the `_DV/CURRENT` pointer. A selective delete on a
    * 100 TB table writes kilobytes of positions, never rewrites
    * gigabytes of data; every reader masks tombstoned rows with a
    * BROADCAST anti-join on parquet's own `_metadata` (file_path,
    * row_index) — physical, immutable coordinates for committed batch
    * files, so the big side never shuffles. Generations are CUMULATIVE:
    * one read joins exactly one generation however many deletes accrued.
    * Folds MATERIALIZE tombstones for free (they rewrite the masked
    * scan; a full fold resets the pointer), so the standing maintenance
    * cadence bounds the mask's size; [[vacuum]] reclaims unreferenced
    * generations. SQL DELETE semantics (TRUE rows die, FALSE and NULL
    * rows stay). The commit logs kind `mordelete` carrying the
    * generation (time travel reconstructs each version under the mask in
    * force THEN), publishes the deleted rows as `delete` rows for
    * [[changeFeed]], and fails [[changesBetween]] actionably. Returns
    * the number of rows tombstoned (0 = nothing matched, nothing
    * committed). Single maintainer per table, like every commit protocol
    * in the engine.
    */
  def deleteWhereMergeOnRead(spark: SparkSession, basePath: String,
      predicate: Column): Long = {
    val f = fs(spark, basePath)
    requireSingleMaintainer(f, basePath)
    healRestoreIntent(spark, basePath)
    val live = committedIds(spark, basePath)
    if (live.isEmpty) return 0L
    requireNoReservedCols(spark, basePath)
    val (touched, _) = pruneBatches(spark, basePath, predicate)
    if (touched.isEmpty) return 0L // provably no matching row
    val cur = dvCurrent(f, basePath)
    // positions of the matching rows, masked by the CURRENT generation —
    // an already-deleted row must not re-tombstone or re-feed
    val pos = scanRaw(spark, basePath,
        touched.map(id => new Path(s"$basePath/_batch=$id")))
      .withColumn("__dv_file", F.col("_metadata.file_path"))
      .withColumn("__dv_pos", F.col("_metadata.row_index"))
    val visible = cur.fold(pos)(g =>
      pos.join(F.broadcast(dvFrame(spark, basePath, g)),
        Seq("__dv_file", "__dv_pos"), "left_anti"))
    // cached: the match set feeds THREE consumers (the count gate, the
    // mask write, the change file) — uncached, each re-ran the scan +
    // anti-join + filter (round-15 profiling: three serialized full
    // passes per MOR delete). The set is selective by contract (a
    // delete too big to hold belongs to copy-on-write deleteWhere), so
    // the cache is mask-sized; unpersisted on every exit path.
    val matched = visible.filter(F.coalesce(predicate, F.lit(false))).cache()
    try {
    val n = matched.count()
    if (n == 0L) return 0L
    // generation numbers are MONOTONIC over every gen dir on disk, not
    // `current + 1`: after a full fold resets the pointer, `current` is
    // None while retained log entries still REFERENCE the old
    // generations — reusing their numbers would silently re-point time
    // travel at the wrong mask. A crashed attempt's unpointered,
    // unlogged dir is skipped over the same way (vacuum reclaims it)
    val gen = {
      val dvRoot = new Path(s"$basePath/$DvDir")
      val onDisk =
        if (!f.exists(dvRoot)) Seq.empty
        else f.listStatus(dvRoot).toSeq
          .filter(st => st.isDirectory && st.getPath.getName.startsWith("gen="))
          .flatMap(st => scala.util.Try(
            st.getPath.getName.stripPrefix("gen=").toLong).toOption)
      ((onDisk ++ cur).maxOption).map(_ + 1L).getOrElse(0L)
    }
    val genDir = dvGenPath(basePath, gen)
    val v = nextVersion(f, spark, basePath)
    val cdfDest = cdfPath(basePath, v)
    if (f.exists(cdfDest)) f.delete(cdfDest, true)
    // the mask write and the change file are INDEPENDENT writes of
    // still-invisible files, both consuming the cached match set — run
    // them concurrently (guide §2.6) and flip the pointer only after BOTH
    // have landed, exactly the serial ordering's crash surface.
    graft.operators.Par.awaitAll(Seq(
      // the change file, keyed by the version this commit WILL get
      () => matched.drop("__dv_file", "__dv_pos")
        .withColumn("_change_type", F.lit("delete"))
        .write.mode("overwrite").parquet(cdfDest.toString),
      // positions-only, one file: the mask is selective by contract (a
      // delete too big to broadcast belongs to copy-on-write deleteWhere)
      () => cur.fold(matched.select("__dv_file", "__dv_pos"))(g =>
          dvFrame(spark, basePath, g)
            .unionByName(matched.select("__dv_file", "__dv_pos")))
        .distinct().coalesce(1)
        .write.mode("overwrite").parquet(genDir.toString)))
    commitDvPointer(f, basePath, gen) // THE atomic visibility flip
    val logged = logCommit(spark, basePath, live, kind = "mordelete")
    require(logged == v, s"merge-on-read delete of $basePath committed as " +
      s"version $logged but its change file was keyed $v — a concurrent " +
      "writer broke the single-maintainer contract; the change file for " +
      "this version is wrong")
    n
    } finally { matched.unpersist(); () }
  }

  /** Copy-on-write `UPDATE ... SET ... WHERE` (Delta UPDATE's role):
    * rows where `predicate` is TRUE get each `assignments` column
    * replaced; all other rows (false and NULL) pass through unchanged.
    * Touched-batch selection, atomicity, feed semantics, and vacuum
    * interplay are exactly [[deleteWhere]]'s. Returns
    * (rewritten ids, replacement ids).
    */
  def updateWhere(spark: SparkSession, basePath: String, predicate: Column,
      assignments: Map[String, Column]): (Seq[Long], Seq[Long]) = {
    require(assignments.nonEmpty, "updateWhere needs at least one assignment")
    val transform: DataFrame => DataFrame = df => {
      assignments.keys.foreach(c => require(df.columns.exists(_.equalsIgnoreCase(c)),
        s"updateWhere assigns unknown column '$c' (table has ${df.columns.mkString(",")})"))
      df.select(df.columns.toSeq.map { c =>
        assignments.find(_._1.equalsIgnoreCase(c)) match {
          case Some((_, v)) =>
            F.when(F.coalesce(predicate, F.lit(false)), v).otherwise(F.col(c)).as(c)
          case None => F.col(c)
        }
      }: _*)
    }
    rewriteWhere(spark, basePath, predicate, transform, keepMatches = true,
      changeRows = df => {
        val matched = df.filter(F.coalesce(predicate, F.lit(false)))
        matched.withColumn("_change_type", F.lit("update_preimage"))
          .unionByName(transform(matched)
            .withColumn("_change_type", F.lit("update_postimage")))
      })
  }

  /** MERGE INTO for batch tables — Delta MERGE's role, the upsert of
    * the DML trio: rows of `source` matching a table row on `keys` take
    * the source's values for every non-key source column (and are
    * DELETED when `deleteWhen` fires on the matched pair — `WHEN MATCHED
    * AND cond THEN DELETE`); unmatched source rows INSERT; everything
    * else survives by identity.
    *
    * The WRITE SET is pruned by the SOURCE'S OWN KEYS: a single-key
    * source with at most `maxInKeys` distinct keys prunes with an exact
    * `IN` (zone maps AND blooms bite); larger or composite keys prune
    * with per-column [min, max] ranges. On a table z-order-clustered by
    * the merge keys, a narrow upsert therefore rewrites the few matching
    * z-range batches, never the table — batches the pruning PROVES
    * key-free are untouched by identity, which is also what makes the
    * result correct with one join: a match can only live in a touched
    * batch. The touched set merges in ONE full-outer reconstruction
    * ([[Merge.merge]] — duplicate source keys fail loudly) and lands as
    * ONE new batch whose zone map rides the write job; sidecar columns
    * carry over as the intersection of the touched batches' contracts.
    *
    * Publishes update_preimage / update_postimage / insert (and
    * `delete`, under `deleteWhen`) rows to the [[changeFeed]] change
    * file, change-set-sized; the commit logs kind `merge`
    * ([[changesBetween]] fails actionably). Atomicity is the fold
    * discipline: one manifest flip retires every touched id. With
    * `allowSchemaEvolution` source-only columns append to the table
    * schema (older rows null-backfill, the ADD-COLUMN path). Returns
    * (replaced batch ids, the new batch id); an empty source is a no-op
    * `(Nil, None)`; a source with no possible match (empty table, or
    * pruning proves every batch key-free) commits a plain insert append.
    * Single maintainer per table, like every commit protocol here.
    */
  def mergeInto(spark: SparkSession, basePath: String, source: DataFrame,
      keys: Seq[String], deleteWhen: Option[Column] = None,
      allowSchemaEvolution: Boolean = false,
      maxInKeys: Int = 1024): (Seq[Long], Option[Long]) = {
    require(keys.nonEmpty, "mergeInto needs at least one key column")
    keys.foreach(k => require(source.columns.contains(k),
      s"mergeInto key '$k' is not a source column (${source.columns.mkString(",")})"))
    val f = fs(spark, basePath)
    requireSingleMaintainer(f, basePath)
    healRestoreIntent(spark, basePath)
    val live = committedIds(spark, basePath)
    if (live.isEmpty) // first write: everything inserts
      return (Seq.empty, append(source, basePath))
    requireNoReservedCols(spark, basePath)
    val src = source.cache()
    try {
      // one batch-sized aggregate decides the pruning shape: row count,
      // per-key [min, max], and (single key) the distinct-key count
      val aggs = F.count(F.lit(1)).as("__n") +:
        keys.flatMap(k => Seq(F.min(F.col(k)), F.max(F.col(k)))) :+
        (if (keys.size == 1) F.countDistinct(F.col(keys.head))
         else F.lit(0L)).as("__d")
      val row = src.agg(aggs.head, aggs.tail: _*).head()
      if (row.getLong(0) == 0L) return (Seq.empty, None) // empty source: no-op
      val ranges = keys.zipWithIndex.flatMap { case (k, i) =>
        val (mn, mx) = (row.get(1 + 2 * i), row.get(2 + 2 * i))
        Option.when(mn != null && mx != null)(
          F.col(k) >= F.lit(mn) && F.col(k) <= F.lit(mx))
      }
      val touched =
        if (ranges.size < keys.size) Seq.empty[Long] // an all-null key: no match can exist
        else {
          val pred =
            if (keys.size == 1 && row.getLong(row.length - 1) <= maxInKeys) {
              val ks = src.select(keys.head).distinct().collect()
                .map(_.get(0)).filter(_ != null)
              F.col(keys.head).isin(ks.toIndexedSeq: _*)
            } else ranges.reduce(_ && _)
          pruneBatches(spark, basePath, pred)._1
        }
      if (touched.isEmpty) // provably no match anywhere: a pure insert
        return (Seq.empty, append(src, basePath))

      val touchedDf = scanDirs(spark, basePath,
        touched.map(id => new Path(s"$basePath/_batch=$id")))
      val merged = Merge.merge(touchedDf, src, keys, deleteWhen,
        allowSchemaEvolution = allowSchemaEvolution)
      val partCols: Seq[String] =
        storedPartSchema(spark, basePath).map(_.fieldNames.toSeq).getOrElse(Seq.empty)
      // sidecar contract: the intersection of the touched batches'
      // columns (the fold's carry-over rule), restricted to what the
      // merged frame still has
      val statsCols = touched.map(id => BatchStats.read(f,
          new Path(s"$basePath/_batch=$id"))
          .map(_.cols.keySet).getOrElse(Set.empty[String]))
        .reduce(_ intersect _).toSeq.sorted
        .filter(c => merged.columns.contains(c))
      val bloomCols = touched.map(id => BatchBloom.readNames(f,
          new Path(s"$basePath/_batch=$id")))
        .reduce(_ intersect _).toSeq.sorted
        .filter(c => merged.columns.contains(c))
      val newId = nextBatchId(f, spark, basePath, live, includeLog = true)
      val dest = new Path(s"$basePath/_batch=$newId")
      if (f.exists(dest)) f.delete(dest, true) // unreachable by allocation; last-line guard
      // schema BEFORE visibility, as in [[append]] — evolution included
      logSchema(spark, basePath, org.apache.spark.sql.types.StructType(
        merged.schema.fields.filterNot(fd =>
          partCols.exists(_.equalsIgnoreCase(fd.name)))))
      val constraints = checkConstraints(spark, basePath)
      // the change file (preimages/postimages for matched pairs, deletes
      // under deleteWhen, inserts for source-only keys — shaped to the
      // merged schema, change-set-sized, keyed by the version this
      // commit WILL get) derives from touchedDf+src, NOT from the merged
      // write — two independent writes of still-invisible files, run
      // concurrently (guide §2.6) and only then the single visibility
      // flip below. The merged write is listed first: its failure (a
      // constraint violation, say) is the one that propagates.
      val v = nextVersion(f, spark, basePath)
      val cdfDest = cdfPath(basePath, v)
      if (f.exists(cdfDest)) f.delete(cdfDest, true)
      graft.operators.Par.awaitAll(Seq(
        () => {
          val obs = org.apache.spark.sql.Observation() // fresh UUID name (see append)
          val (fields, oAggs) = BatchStats.observationAggs(merged, statsCols)
          val allAggs = oAggs ++ constraintAggs(constraints)
          val writer = merged.observe(obs, allAggs.head, allAggs.tail: _*)
            .write.mode("overwrite")
          (if (partCols.nonEmpty) writer.partitionBy(partCols: _*) else writer)
            .parquet(dest.toString)
          val metrics = obs.get
          requireNoViolations(f, dest, basePath, constraints, metrics)
          val st = BatchStats.fromObserved(metrics, fields)
          if (statsCols.nonEmpty) BatchStats.write(f, dest, st)
          if (bloomCols.nonEmpty)
            scala.util.Try(spark.read.option("basePath", basePath)
              .parquet(dest.toString).drop("_batch")).foreach { landed =>
              BatchBloom.write(f, dest, BatchBloom.compute(landed, bloomCols, st.rows))
            }
        },
        () => mergeChangeRows(touchedDf, src, keys, deleteWhen, merged.schema)
          .write.mode("overwrite").parquet(cdfDest.toString)))
      if (manifestIds(spark, basePath).isEmpty)
        commitManifest(spark, basePath, live)
      graft.runtime.MetaIO.create(f, new Path(dest, Marker)).close()
      val after = (live.filterNot(touched.contains) :+ newId).sorted
      commitManifest(spark, basePath, after) // THE atomic visibility flip
      val logged = logCommit(spark, basePath, after, kind = "merge")
      require(logged == v, s"merge into $basePath committed as version $logged " +
        s"but its change file was keyed $v — a concurrent writer broke the " +
        "single-maintainer contract; the change file for this version is wrong")
      (touched, Some(newId))
    } finally src.unpersist()
  }

  /** [[mergeInto]]'s change rows: one inner join gives the matched
    * pairs (preimage from the target side, postimage with the source's
    * values winning, `delete` when `deleteWhen` fires), one anti-join
    * gives the inserts; every row shaped to `outSchema` with typed null
    * backfill for columns a side lacks.
    */
  private def mergeChangeRows(target: DataFrame, source: DataFrame,
      keys: Seq[String], deleteWhen: Option[Column],
      outSchema: org.apache.spark.sql.types.StructType): DataFrame = {
    val updateCols = source.columns.filterNot(keys.contains).toSet
    val targetCols = target.columns.toSet
    val t = target.as("t")
    val s = source.as("s")
    val cond = keys.map(k => F.col(s"t.$k") === F.col(s"s.$k")).reduce(_ && _)
    val matched = t.join(s, cond, "inner")
    val delCond = deleteWhen.map(c => F.coalesce(c, F.lit(false)))
      .getOrElse(F.lit(false))
    def shaped(from: String => Option[Column]): Seq[Column] =
      outSchema.fields.toSeq.map(fd =>
        from(fd.name).getOrElse(F.lit(null).cast(fd.dataType)).as(fd.name))
    val pre = matched
      .select(shaped(c => Option.when(targetCols.contains(c))(F.col(s"t.$c"))) :+
        F.when(delCond, "delete").otherwise("update_preimage").as("_change_type"): _*)
    val post = matched.filter(!delCond)
      .select(shaped { c =>
        if (updateCols.contains(c)) Some(F.col(s"s.$c"))
        else Option.when(targetCols.contains(c))(F.col(s"t.$c"))
      } :+ F.lit("update_postimage").as("_change_type"): _*)
    val ins = source
      .join(target.select(keys.map(F.col): _*), keys, "left_anti")
      .select(shaped(c => Option.when(source.columns.contains(c))(F.col(c))) :+
        F.lit("insert").as("_change_type"): _*)
    pre.unionByName(post).unionByName(ins)
  }

  /** Shared copy-on-write core: prune the batch set under `predicate`
    * (uncertain batches rewrite — conservative), rewrite each touched
    * batch (delete drops matching rows; update transforms them), publish
    * the [[changeFeed]] change file, and flip visibility once.
    *
    * The change file (`changeRows` over exactly the touched batches —
    * change-set-sized, one job) lands under `_CDF/v=<version>` BEFORE
    * the flip, keyed by [[nextVersion]] (exact under the protocol's
    * single-maintainer contract): by the time the version is observable
    * its change file already is too. A crash before the flip leaves only
    * scratch the retry overwrites; a crash between the flip and the log
    * entry is the standing skipped-state heal ([[logCommit]]) — the
    * rewrite version never enters history, and its stranded change file
    * is [[vacuum]]'s to reclaim.
    */
  private def rewriteWhere(spark: SparkSession, basePath: String, predicate: Column,
      transform: DataFrame => DataFrame, keepMatches: Boolean,
      changeRows: DataFrame => DataFrame): (Seq[Long], Seq[Long]) = {
    val f = fs(spark, basePath)
    requireSingleMaintainer(f, basePath)
    healRestoreIntent(spark, basePath)
    val live = committedIds(spark, basePath)
    if (live.isEmpty) return (Seq.empty, Seq.empty)
    requireNoReservedCols(spark, basePath)
    val constraints = checkConstraints(spark, basePath)
    val (touched, untouched) = pruneBatches(spark, basePath, predicate)
    if (touched.isEmpty) return (Seq.empty, Seq.empty) // provably no matching row
    val partCols: Seq[String] =
      storedPartSchema(spark, basePath).map(_.fieldNames.toSeq).getOrElse {
        // pre-_PARTSCHEMA partitioned tables: the partition columns are
        // whatever a batch read carries beyond the logged file schema —
        // a replacement MUST keep the table's layout or a later anchored
        // multi-dir read trips on conflicting directory structures
        storedSchema(spark, basePath).fold(Seq.empty[String]) { s =>
          scanDirs(spark, basePath, Seq(new Path(s"$basePath/_batch=${touched.head}")))
            .columns.filterNot(c => s.fieldNames.exists(_.equalsIgnoreCase(c))).toSeq
        }
      }
    // sidecar contract of the ORIGINALS carries over to the replacements
    def statsColsOf(id: Long): Seq[String] =
      BatchStats.read(f, new Path(s"$basePath/_batch=$id"))
        .map(_.cols.keys.toSeq.sorted).getOrElse(Nil)
    def bloomColsOf(id: Long): Seq[String] =
      BatchBloom.readNames(f, new Path(s"$basePath/_batch=$id")).toSeq.sorted
    val firstId = nextBatchId(f, spark, basePath, live, includeLog = true)
    // one independent rewrite job per touched batch; returns the
    // replacement id, or None when the rewrite emptied the batch (the
    // id is dropped with no replacement — its tentative newId stays
    // unused, a harmless gap in the id space)
    def rewriteOne(id: Long, newId: Long): Option[Long] = {
      val one = scanDirs(spark, basePath, Seq(new Path(s"$basePath/_batch=$id")))
      val rewritten =
        if (keepMatches) transform(one)
        else one.filter(!F.coalesce(predicate, F.lit(false))) // NULL predicate keeps the row
      val dest = new Path(s"$basePath/_batch=$newId")
      if (f.exists(dest)) f.delete(dest, true) // crashed prior attempt's debris
      // survivor count, replacement zone map AND constraint gate ride
      // the rewrite job itself (Dataset.observe, same discipline as
      // [[append]]) — no read-back count, no read-back stats aggregate
      val sc = statsColsOf(id)
      val obs = org.apache.spark.sql.Observation() // fresh UUID name (see append)
      val (fields, aggs) = BatchStats.observationAggs(rewritten, sc)
      val all = aggs ++ constraintAggs(constraints)
      val writer = rewritten.observe(obs, all.head, all.tail: _*)
        .write.mode("overwrite")
      (if (partCols.nonEmpty) writer.partitionBy(partCols: _*) else writer)
        .parquet(dest.toString)
      val metrics = obs.get
      requireNoViolations(f, dest, basePath, constraints, metrics)
      val stats = BatchStats.fromObserved(metrics, fields)
      // a delete that emptied the batch: drop the id, keep no empty dir
      if (stats.rows == 0L) { f.delete(dest, true); None }
      else {
        if (sc.nonEmpty) BatchStats.write(f, dest, stats)
        val bc = bloomColsOf(id)
        if (bc.nonEmpty) // blooms are aggregation buffers: one pruned read-back
          scala.util.Try(spark.read.option("basePath", basePath)
            .parquet(dest.toString).drop("_batch")).foreach { landed =>
            BatchBloom.write(f, dest, BatchBloom.compute(landed, bc, stats.rows))
          }
        Some(newId)
      }
    }
    // the per-batch rewrites are INDEPENDENT writes to still-invisible
    // directories — overlap them (guide §2.6: submit independent jobs
    // from a small pool so one job's task tail back-fills with the
    // next's work) instead of paying their latencies serially; round-15
    // profiling showed ql20's six rewrite jobs strictly serialized at
    // ~0.15 s each. Ids are assigned tentatively up front (firstId + i);
    // visibility still happens only at the single manifest flip below,
    // so the crash/failure surface is unchanged — an abandoned write is
    // the same invisible debris a crashed serial attempt left.
    val outcomes: Seq[(Long, Option[Long])] = graft.operators.Par.awaitAll(
      touched.zipWithIndex.map { case (id, i) => () => (id, rewriteOne(id, firstId + i)) })
    val replaced = Seq.newBuilder[Long]
    val replacements = Seq.newBuilder[Long]
    outcomes.foreach { case (id, kept) =>
      replaced += id
      kept.foreach(replacements += _)
    }
    val newIds = replacements.result()
    // the change file: changeRows over exactly the touched batches, one
    // change-set-sized job, keyed by the version this commit WILL get —
    // in place before the flip makes that version observable
    val v = nextVersion(f, spark, basePath)
    val cdfDest = cdfPath(basePath, v)
    if (f.exists(cdfDest)) f.delete(cdfDest, true) // crashed prior attempt's debris
    changeRows(scanDirs(spark, basePath,
        touched.map(id => new Path(s"$basePath/_batch=$id"))))
      .write.mode("overwrite").parquet(cdfDest.toString)
    // same flip discipline as the folds: upgrade a marker table first,
    // pre-mark the (invisible) replacements, flip once
    if (manifestIds(spark, basePath).isEmpty)
      commitManifest(spark, basePath, live)
    newIds.foreach(id => graft.runtime.MetaIO.create(f, new Path(s"$basePath/_batch=$id/$Marker")).close())
    val after = (live.filterNot(replaced.result().contains) ++ newIds).sorted
    commitManifest(spark, basePath, after)
    val logged = logCommit(spark, basePath, after, kind = "rewrite")
    require(logged == v, s"rewrite of $basePath committed as version $logged " +
      s"but its change file was keyed $v — a concurrent writer broke the " +
      "single-maintainer contract; the change file for this version is wrong")
    (replaced.result(), newIds)
  }

  /** RESTORE the table to a committed version — Delta `RESTORE TABLE …
    * TO VERSION AS OF`'s role, and the cheap half of it: the restored
    * version's batch dirs are still on disk (retention permitting), so
    * the restore is METADATA-ONLY — one manifest flip back to that
    * version's batch set and the deletion-vector pointer back to the
    * mask in force then. No data moves at any table size. The restore
    * itself commits as a NEW version (kind `restore` — history only
    * moves forward; the rolled-back versions stay readable for audit
    * until vacuum), which both change feeds refuse actionably (a
    * restore can remove rows). Fails actionably when the target
    * version's batches were vacuumed. Returns the new version.
    */
  /** A RESTORE is a two-pointer commit (manifest flip + deletion-vector
    * pointer flip) and no ordering of the two is atomic for a crash: the
    * half-restored state (restored batch set under the wrong mask) must
    * never PERSIST as adopted truth. The intent file names the target
    * version before either flip; every mutating entry point heals a
    * pending intent by rolling the restore FORWARD (re-applying both
    * flips and the log entry — all idempotent) before doing its own
    * work, so the mixed state survives at most until the next commit. A
    * reader inside the crash window can still observe the mix — the
    * documented cost of keeping readers lock-free; consumers needing a
    * consistent point-in-time use [[readAsOf]].
    */
  private def restoreIntentPath(basePath: String) = new Path(s"$basePath/_RESTORE_INTENT")

  private def healRestoreIntent(spark: SparkSession, basePath: String): Unit = {
    val f = fs(spark, basePath)
    graft.runtime.PointerFile.read(f, restoreIntentPath(basePath),
        new Path(s"$basePath/_RESTORE_INTENT.tmp"))
      .flatMap(s => scala.util.Try(s.toLong).toOption)
      .foreach { target =>
        vlogEntry(f, basePath, target) match {
          case Some(e) =>
            commitManifest(spark, basePath, e.ids)
            e.dv match {
              case Some(g) => commitDvPointer(f, basePath, g)
              case None => dvClear(f, basePath)
            }
            logCommit(spark, basePath, e.ids, kind = "restore")
          case None => () // target vacuumed since: nothing restorable to finish
        }
        f.delete(restoreIntentPath(basePath), false)
      }
  }

  def restore(spark: SparkSession, basePath: String, version: Long): Long = {
    val f = fs(spark, basePath)
    requireSingleMaintainer(f, basePath)
    healRestoreIntent(spark, basePath)
    val e = vlogEntry(f, basePath, version).getOrElse(
      throw new IllegalArgumentException(
        s"no committed version $version under $basePath " +
          s"(versions: ${versions(spark, basePath).mkString(",")})"))
    val gone = e.ids.map(id => new Path(s"$basePath/_batch=$id")).filterNot(f.exists)
    require(gone.isEmpty,
      s"cannot restore $basePath to version $version: batches " +
        s"${gone.map(_.getName).mkString(",")} were vacuumed — raise vacuum's " +
        "retainVersions to keep restore targets on disk")
    e.dv.foreach(g => require(f.exists(dvGenPath(basePath, g)),
      s"cannot restore $basePath to version $version: its deletion-vector " +
        s"generation $g was vacuumed"))
    if (manifestIds(spark, basePath).isEmpty) // marker-protocol table: upgrade
      commitManifest(spark, basePath, committedIds(spark, basePath))
    // intent BEFORE either flip: a crash at any point after this line
    // rolls forward at the next mutating entry point (healRestoreIntent)
    graft.runtime.PointerFile.commit(f, restoreIntentPath(basePath),
      new Path(s"$basePath/_RESTORE_INTENT.tmp"), version.toString)
    commitManifest(spark, basePath, e.ids) // visibility flip 1 of 2
    e.dv match {
      case Some(g) => commitDvPointer(f, basePath, g) // flip 2 of 2
      case None => dvClear(f, basePath)
    }
    val v = logCommit(spark, basePath, e.ids, kind = "restore")
    f.delete(restoreIntentPath(basePath), false)
    v
  }

  /** Delete batch directories no longer in the manifest (replaced by a
    * [[compact]], or debris from a crashed append/compact attempt that
    * never became visible). Manifest tables only — a marker-protocol
    * table has no replaced dirs to clean. As with
    * [[Snapshots.vacuum]], a reader that resolved the manifest BEFORE a
    * flip may still be scanning a replaced dir; run vacuum on a
    * maintenance cadence that outlives query runtimes. Returns the
    * deleted ids.
    *
    * `retainVersions` is the TIME-TRAVEL retention dial (Delta's
    * `VACUUM ... RETAIN` role): batches referenced by the newest k
    * commit-log entries are kept even when replaced, so [[readAsOf]]
    * stays serviceable that far back; 0 (the default) keeps only the
    * current state. Retired log entries whose batches were deleted are
    * dropped with them — [[versions]] then lists exactly the readable
    * range.
    */
  def vacuum(spark: SparkSession, basePath: String,
      retainVersions: Int = 0): Seq[Long] = {
    healRestoreIntent(spark, basePath) // never reap against a half-restored state
    manifestIds(spark, basePath).fold(Seq.empty[Long]) { ids =>
      val f = fs(spark, basePath)
      val base = new Path(basePath)
      if (!f.exists(base)) return Seq.empty
      // a [[compactClustered]] crash after its renames strands a
      // partial `_cluster_tmp` that no retry may ever come to clear —
      // it is pure scratch (never reader-visible), reclaim it here
      f.delete(new Path(base, "_cluster_tmp"), true)
      val vs = versions(spark, basePath)
      val retained = vs.takeRight(math.max(0, retainVersions))
      val protected_ = ids.toSet ++
        retained.flatMap(v => vlogIds(f, basePath, v).getOrElse(Seq.empty))
      val dead = f.listStatus(base).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("_batch="))
        .flatMap(st =>
          scala.util.Try(st.getPath.getName.stripPrefix("_batch=").toLong).toOption)
        .filterNot(protected_.contains)
      dead.foreach(id => f.delete(new Path(s"$basePath/_batch=$id"), true))
      // retire log entries that reference a batch no longer on disk —
      // readAsOf's domain stays exactly the readable versions. Checked
      // against the DISK, not just this run's `dead` set: a prior vacuum
      // that crashed between its dir deletes and this pass left entries
      // referencing gone dirs, and the next run must finish the retire
      // (nextBatchId's vlog leg guards the in-between window)
      val onDiskNow = f.listStatus(base).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("_batch="))
        .flatMap(st =>
          scala.util.Try(st.getPath.getName.stripPrefix("_batch=").toLong).toOption)
        .toSet
      vs.dropRight(math.max(0, retainVersions))
        .filter(v => vlogIds(f, basePath, v).exists(_.exists(!onDiskNow.contains(_))))
        .foreach(v => f.delete(vlogPath(basePath, v), false))
      // change files of versions no longer in the log (retired above, or
      // stranded by a rewrite that crashed between flip and log entry)
      // go with them — the feed window and the time-travel window shrink
      // together
      val cdfRoot = new Path(s"$basePath/$CdfDir")
      if (f.exists(cdfRoot)) {
        val surviving = versions(spark, basePath).toSet
        f.listStatus(cdfRoot).toSeq
          .filter(st => st.isDirectory && st.getPath.getName.startsWith("v="))
          .filterNot(st => scala.util.Try(st.getPath.getName.stripPrefix("v=").toLong)
            .toOption.exists(surviving.contains))
          .foreach(st => f.delete(st.getPath, true))
      }
      // deletion-vector generations referenced by NO surviving version
      // and not in force now (retired entries' masks, a full fold's
      // reset, a crashed delete's debris) go the same way
      val dvRoot = new Path(s"$basePath/$DvDir")
      if (f.exists(dvRoot)) {
        val referenced = versions(spark, basePath)
          .flatMap(v => vlogEntry(f, basePath, v).flatMap(_.dv)).toSet ++
          dvCurrent(f, basePath)
        f.listStatus(dvRoot).toSeq
          .filter(st => st.isDirectory && st.getPath.getName.startsWith("gen="))
          .filterNot(st => scala.util.Try(st.getPath.getName.stripPrefix("gen=").toLong)
            .toOption.exists(referenced.contains))
          .foreach(st => f.delete(st.getPath, true))
      }
      dead.sorted
    }
  }

  /** Everything committed so far — never a torn batch. None when no batch
    * has ever committed (distinguishes "empty table" from "no table").
    */
  def readIfExists(spark: SparkSession, basePath: String): Option[DataFrame] = {
    val dirs = committedDirs(spark, basePath)
    if (dirs.isEmpty) None
    else Some(scanDirs(spark, basePath, dirs))
  }

  /** [[readIfExists]] that fails actionably on a never-written table. */
  def read(spark: SparkSession, basePath: String): DataFrame =
    readIfExists(spark, basePath).getOrElse(
      throw new IllegalArgumentException(s"no committed batches under $basePath"))

  /** `read(...).filter(predicate)`, with the scan list pruned by each
    * batch's zone map FIRST ([[BatchStats]]): a batch whose `_STATS`
    * prove the predicate empty is dropped driver-side — no footer reads,
    * no tasks. Semantically always `filter(predicate)` over the full
    * committed table: skipping is sound-only (a stats-less batch, an
    * unsupported conjunct, a type mix — everything uncertain scans), and
    * the predicate is re-applied to the surviving batches, where it also
    * pushes into the parquet scan as usual (row-group pruning under the
    * batch pruning). Pair with [[compactClustered]] to make the batch
    * ranges tight enough to skip on.
    */
  def read(spark: SparkSession, basePath: String, predicate: Column): DataFrame = {
    val dirs = committedDirs(spark, basePath)
    if (dirs.isEmpty)
      throw new IllegalArgumentException(s"no committed batches under $basePath")
    val (kept, _) = partitionByStats(spark, dirs, predicate)
    if (kept.isEmpty) // every batch provably empty: the schema still binds
      scanDirs(spark, basePath, Seq(dirs.head)).filter(predicate).filter(F.lit(false))
    else scanDirs(spark, basePath, kept).filter(predicate)
  }

  /** The pruning decision alone, for observability and specs:
    * (kept, skipped) committed batch ids under `predicate`.
    */
  def pruneBatches(spark: SparkSession, basePath: String,
      predicate: Column): (Seq[Long], Seq[Long]) = {
    // a malformed `_batch=<non-numeric>` dir is scanned by the read path
    // (markerDirs tolerates it) — observability must not crash on it
    def id(p: Path) =
      scala.util.Try(p.getName.stripPrefix("_batch=").toLong).toOption
    val (kept, skipped) =
      partitionByStats(spark, committedDirs(spark, basePath), predicate)
    (kept.flatMap(id), skipped.flatMap(id))
  }

  private[layers] def partitionByStats(spark: SparkSession, dirs: Seq[Path],
      predicate: Column): (Seq[Path], Seq[Path]) = {
    if (dirs.isEmpty) return (dirs, Seq.empty)
    val f = dirs.head.getFileSystem(spark.sessionState.newHadoopConf())
    // compile ONCE from a probe plan over one batch; evaluate per batch.
    // The probe anchors basePath at the table root like every reader, so
    // its resolved schema matches what [[read]] serves
    val node = BatchStats.compile(
      scanDirs(spark, dirs.head.getParent.toString, Seq(dirs.head)).filter(predicate))
    // bloom sidecars only ever decide Eq/IN leaves — skip their read
    // for pure range predicates, and deserialize ONLY the probed
    // columns' sketches otherwise
    val eqCols = BatchStats.equalityColumns(node)
    dirs.partition { dir =>
      val statsEmpty = BatchStats.read(f, dir).exists(BatchStats.mustBeEmpty(_, node))
      def bloomEmpty = eqCols.nonEmpty && {
        val blooms = BatchBloom.read(f, dir, Some(eqCols))
        blooms.nonEmpty && BatchBloom.mustBeEmpty(blooms, node)
      }
      !(statsEmpty || bloomEmpty)
    }
  }
}
