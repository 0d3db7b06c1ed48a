package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Paths, Path}
import java.util.UUID
import scala.jdk.CollectionConverters._

/** Raised when a commit loses the put-if-absent race for its version file
  * AND the conflict cannot be resolved by rebasing. Delta-style
  * write-serializable rules apply per commit kind:
  *
  *  - blind appends always rebase and retry (appends commute);
  *  - partition-scoped commits (overwritePartitions, partition-pruned
  *    MERGE) rebase when every intervening commit touched DISJOINT
  *    partitions, and raise otherwise;
  *  - file-granular commits (file-pruned MERGE) rebase when no intervening
  *    commit removed a file this merge rewrote and no intervening commit
  *    added a file that may contain this merge's keys, and raise otherwise;
  *  - full-snapshot rewrites (overwrite-backed MERGE/OPTIMIZE) read the
  *    whole table, so ANY intervening commit raises.
  */
final class ConcurrentCommitException(msg: String) extends IllegalStateException(msg)

/** A versioned, parquet-backed managed table: the engine's replacement for
  * the transactional table layer the reference builds on
  * (`delta.tables.DeltaTable`, used throughout
  * /root/reference/mack/__init__.py:4,12,144,631).
  *
  * Layout:
  * {{{
  *   <path>/data/<uuid>/...parquet          # unpartitioned commit
  *   <path>/data/<uuid>/p=v/...parquet      # partitioned commit (leaf dirs)
  *   <path>/_graft_log/v0.json …vN.json     # one JSON entry per version
  * }}}
  *
  * Each log entry records the complete current snapshot as a list of
  * LEAF data directories — for partitioned tables one entry per partition
  * directory — plus the schema, partition columns, and properties. Leaf
  * granularity is what makes partition-scoped rewrites possible: a MERGE
  * that only touches `p=3` commits a snapshot that keeps every other
  * partition's existing leaf dirs verbatim (see [[overwritePartitions]]).
  *
  * Commits are atomic: data is fully written under a fresh UUID directory
  * first, then the log entry is linked into place with put-if-absent
  * semantics. Readers resolve the latest vN.json and read exactly the
  * directories it lists, so concurrent readers never observe a
  * half-written commit.
  *
  * Scale note: on a real cluster this maps to object-store put-if-absent
  * on the log key (the same protocol Delta/Iceberg use); the data path is
  * already cluster-safe because every commit writes to a unique directory
  * via the normal distributed parquet writer.
  */
final class ManagedTable private (val spark: SparkSession, val location: String) {
  import ManagedTable._

  private def logDir: Path = Paths.get(location, "_graft_log")
  private def dataDir: Path = Paths.get(location, "data")
  private def cdcRoot: Path = Paths.get(location, "_graft_cdc")
  private def dvRoot: Path = Paths.get(location, "_graft_dv")

  // ---- log access ------------------------------------------------------

  private[tables] def latestEntry: LogEntry = {
    val v = latestVersion
    require(v >= 0, s"No committed version at $location")
    readEntry(v)
  }

  def latestVersion: Long = {
    if (!Files.isDirectory(logDir)) -1L
    else {
      // Files.list holds a directory fd until closed; this runs on every
      // read/commit, so close it deterministically.
      val s = Files.list(logDir)
      try
        s.iterator().asScala
          .map(_.getFileName.toString)
          .collect { case VersionFile(n) => n.toLong }
          .foldLeft(-1L)(math.max)
      finally s.close()
    }
  }

  private def readEntry(v: Long): LogEntry =
    try LogEntry.fromJson(Files.readString(logDir.resolve(s"v$v.json")))
    catch {
      case _: java.nio.file.NoSuchFileException =>
        throw new IllegalStateException(
          s"Version $v's log entry at $location was cleaned up " +
            "(cleanupLog); time travel is limited to the retained log window")
    }

  private[tables] def commit(e: LogEntry): Unit = {
    Files.createDirectories(logDir)
    val tmp = logDir.resolve(s".tmp-${UUID.randomUUID()}.json")
    Files.writeString(tmp, e.toJson)
    val target = logDir.resolve(s"v${e.version}.json")
    // Atomic put-if-absent: link(2) fails if the version file exists
    // (a plain ATOMIC_MOVE rename would silently REPLACE it on POSIX —
    // last-writer-wins, i.e. lost commits). On an object store this is
    // the conditional-put the same way Delta/Iceberg do it.
    try {
      Files.createLink(target, tmp)
      Files.deleteIfExists(tmp)
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(tmp)
        throw new ConcurrentCommitException(
          s"Concurrent commit detected for version ${e.version} at $location")
    }
    // Periodic history checkpoint (Delta `_last_checkpoint` analog): a
    // derived artifact, so failure must never fail the commit, and
    // last-writer-wins replacement between racing writers is fine.
    if (e.version > 0 && e.version % ManagedTable.checkpointInterval == 0)
      try writeCheckpoint(e.version) catch { case _: Exception => () }
  }

  // ---- log checkpointing -----------------------------------------------

  private def checkpointPath: Path = logDir.resolve("checkpoint.json")

  /** Compact (version, timestampMs, operation, metrics) rows for versions
    * `0..maxVersion` — what [[history]] needs, without the snapshot file
    * listings that make per-version reads O(files).
    */
  private[tables] final case class Checkpoint(
      maxVersion: Long, rows: Seq[(Long, Long, String, Map[String, String])])

  private def readCheckpoint(): Option[Checkpoint] =
    if (!Files.isRegularFile(checkpointPath)) None
    else
      try {
        val n = ManagedTable.mapper.readTree(Files.readString(checkpointPath))
        val rows = n.get("rows").elements().asScala.map { r =>
          val metrics = // 4th element absent in pre-metrics checkpoints
            if (r.size() > 3)
              r.get(3).properties().asScala
                .map(e => e.getKey -> e.getValue.asText()).toMap
            else Map.empty[String, String]
          (r.get(0).asLong(), r.get(1).asLong(), r.get(2).asText(), metrics)
        }.toSeq
        Some(Checkpoint(n.get("maxVersion").asLong(), rows))
      } catch { case _: Exception => None } // derived: ignore corrupt

  /** Roll the checkpoint forward to `upTo`: previous checkpoint rows +
    * one read per NEW version since — O(checkpointInterval) amortized,
    * never O(all versions).
    */
  private def writeCheckpoint(upTo: Long): Unit = {
    val prev = readCheckpoint().filter(_.maxVersion <= upTo)
    val from = prev.map(_.maxVersion + 1).getOrElse(0L)
    val rows = prev.map(_.rows).getOrElse(Vector.empty) ++
      (from to upTo).map { v =>
        val e = readEntry(v); (v, e.timestampMs, e.operation, e.metrics)
      }
    val root = ManagedTable.mapper.createObjectNode()
    root.put("maxVersion", upTo)
    val rs = root.putArray("rows")
    rows.foreach { case (v, ts, op, m) =>
      val a = rs.addArray(); a.add(v); a.add(ts); a.add(op)
      val mo = a.addObject(); m.foreach { case (k, x) => mo.put(k, x) }
    }
    val tmp = logDir.resolve(s".cp-tmp-${UUID.randomUUID()}.json")
    Files.writeString(tmp, ManagedTable.mapper.writeValueAsString(root))
    Files.move(tmp, checkpointPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Delete version files the checkpoint already covers, keeping the most
    * recent `keepVersions` (Delta's log-retention cleanup). History stays
    * complete via the checkpoint; snapshot reads and [[vacuum]] need only
    * the kept entries, so pass `keepVersions` ≥ the vacuum retention you
    * use. Returns the number of log files removed.
    */
  def cleanupLog(keepVersions: Int = 20): Long = {
    require(keepVersions >= 1, "keepVersions must be >= 1")
    val latest = latestVersion
    val cp = readCheckpoint().getOrElse(return 0L)
    val cutoff = math.min(cp.maxVersion, latest - keepVersions)
    var removed = 0L
    (0L to cutoff).foreach { v =>
      if (Files.deleteIfExists(logDir.resolve(s"v$v.json"))) removed += 1
    }
    removed
  }

  // ---- reads -----------------------------------------------------------

  /** Current table contents. Missing columns of older commits (schema
    * evolution via mergeSchema-style appends) are null-filled so the frame
    * always carries the latest, union'd schema — mirroring Delta's read path
    * for tables evolved by `.option("mergeSchema","true")` appends
    * (reference: mack/__init__.py:378,683,690).
    */
  def toDF: DataFrame = snapshotDF(latestEntry)

  /** Time travel: the table contents as of `version` (Delta
    * `VERSION AS OF` analog — every log entry records its complete file
    * snapshot, so old versions stay readable until vacuumed).
    */
  def toDF(version: Long): DataFrame = {
    require(version >= 0 && version <= latestVersion,
      s"Version $version out of range [0, $latestVersion]")
    snapshotDF(readEntry(version))
  }

  /** RESTORE analog: commit a new version whose contents are version `v`'s
    * snapshot (history is preserved; nothing is deleted). Table
    * PROPERTIES keep their current values — including `graft.txn.*`
    * idempotent-append markers, so a restore does not forget writer
    * versions (Delta's RESTORE keeps SetTransaction state the same way;
    * a streaming writer replaying past versions after a restore must use
    * a fresh appId).
    */
  def restore(version: Long): Unit = {
    require(version >= 0 && version <= latestVersion,
      s"Version $version out of range [0, $latestVersion]")
    val src = readEntry(version)
    // a vacuumed snapshot must refuse HERE, not commit a version whose
    // every subsequent read throws "references vacuumed data"
    src.files.find(f => !Files.isRegularFile(dataDir.resolve(f.path)))
      .foreach { f =>
        throw new IllegalStateException(
          s"Cannot restore $location to v$version: it references " +
            s"vacuumed data (${f.path}); restore is limited to the " +
            "vacuum retention window")
      }
    src.files.flatMap(_.dv).distinct
      .find(r => !Files.isDirectory(dvRoot.resolve(r))).foreach { r =>
        throw new IllegalStateException(
          s"Cannot restore $location to v$version: it references a " +
            s"vacuumed deletion vector ($r)")
      }
    val cur = latestEntry
    // copy() from the latest entry MUST drop per-commit payloads: an
    // inherited `cdc` would make changes() re-emit the previous commit's
    // sidecar rows under this version, and inherited `metrics` would
    // report the previous DML's counts as this commit's.
    commit(cur.copy(version = cur.version + 1,
      timestampMs = System.currentTimeMillis(),
      operation = s"RESTORE v$version",
      dirs = src.dirs, schema = src.schema,
      partitionColumns = src.partitionColumns, files = src.files,
      metrics = Map("numRestoredFiles" -> src.files.size.toString),
      cdc = Nil))
  }

  /** Schemas carrying `parquet.field.id` metadata (Iceberg imports of
    * renamed tables) must resolve parquet columns BY ID — a name-based
    * read would silently null-fill every column whose file predates its
    * rename. Spark's id-resolution is conf-gated, so any scan of such a
    * schema switches it on for the session (idempotent; schemas without
    * ids are unaffected by the conf, the commit path only keeps id
    * metadata when every adopted footer stamps COMPLETE ids, and
    * writeData re-stamps ids into every later write, so all of an
    * id-bearing table's files are id-resolvable).
    */
  private def ensureFieldIdRead(schema: StructType): Unit =
    if (ManagedTable.hasFieldIds(schema))
      spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")

  private[tables] def snapshotDF(e: LogEntry): DataFrame = {
    ensureFieldIdRead(e.schema)
    if (e.files.nonEmpty) readFilesDF(e.files, e.schema, e.version)
    else if (e.dirs.isEmpty) {
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], e.schema)
    } else {
      e.dirs.find(d => !Files.isDirectory(dataDir.resolve(d))).foreach { d =>
        throw new IllegalStateException(
          s"Version ${e.version} of $location references vacuumed data ($d); " +
            "time travel is limited to the vacuum retention window")
      }
      // One scan per commit uuid: leaf dirs are grouped so the reader's
      // basePath sits directly above the partition directories and Spark
      // re-derives the partition columns (and prunes on them) from the
      // k=v path segments.
      val frames = e.dirs.groupBy(_.takeWhile(_ != '/')).toSeq.map {
        case (uuid, leaves) =>
          spark.read
            .schema(e.schema) // from the log — no footer inference (see
                              // readFilesFiltered)
            .option("basePath", dataDir.resolve(uuid).toString)
            .parquet(leaves.map(l => dataDir.resolve(l).toString): _*)
      }
      project(frames.reduce(_.unionByName(_, allowMissingColumns = true)), e.schema)
    }
  }

  /** Read exactly `files` (same uuid-grouped basePath trick as the dir
    * path, so partition columns still derive from `k=v` segments),
    * with each file's deletion vector applied (rows whose (file,
    * position) appear in the file's DV are filtered out — Delta's
    * merge-on-read DELETE). Tables without DVs take the plain path:
    * no metadata columns, no join, zero overhead.
    */
  /** The file-level delta of one commit vs its predecessor, keyed by
    * (path, deletion-vector id) — the structural classification the
    * streaming table source tails by: a commit that removes nothing is
    * append-shaped regardless of its operation string; any removal (or a
    * DV swap, which re-keys the file) is a change commit.
    */
  private[graft] def commitFileDelta(v: Long)
      : (Seq[FileStat], Seq[FileStat], String, StructType) = {
    require(v >= 0, s"commitFileDelta needs v >= 0, got $v")
    val cur = readEntry(v)
    // version 0 diffs against the empty table: all its files are "added"
    // (the CREATE commit is append-shaped — changes() makes the same call)
    if (v == 0) return (cur.files, Nil, cur.operation, cur.schema)
    val prev = readEntry(v - 1)
    def key(f: FileStat) = (f.path, f.dv)
    val prevKeys = prev.files.map(key).toSet
    val curKeys = cur.files.map(key).toSet
    (cur.files.filterNot(f => prevKeys(key(f))),
      prev.files.filterNot(f => curKeys(key(f))),
      cur.operation, cur.schema)
  }

  /** Read a commit's added files under that commit's schema (returned by
    * [[commitFileDelta]], so the caller pays no extra log reads) — the
    * streaming source's batch reader.
    */
  private[graft] def readCommitFiles(added: Seq[FileStat],
                                     schema: StructType,
                                     v: Long): DataFrame =
    readFilesDF(added, schema, v)

  private def readFilesDF(files: Seq[FileStat], schema: StructType,
                          version: Long): DataFrame =
    project(readFilesFiltered(files, schema, version, withPos = false), schema)

  /** [[readFilesDF]] keeping the physical position columns
    * ([[ManagedTable.FP]] = snapshot-relative file path,
    * [[ManagedTable.POS]] = row index in that file) — the DV write path
    * needs them to record what it deletes.
    */
  private def readFilesPosDF(files: Seq[FileStat], schema: StructType,
                             version: Long): DataFrame = {
    val raw = readFilesFiltered(files, schema, version, withPos = true)
    val cols = schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name))
      .toIndexedSeq :+ col(ManagedTable.FP) :+ col(ManagedTable.POS)
    raw.select(cols: _*)
  }

  /** snapshot-relative path of a `_metadata.file_path` value (the DV
    * coordinate system — stable across [[rename]], unlike the full URI).
    * Built with the Column API (a literal, not SQL interpolation — a
    * quote in the table location must not become a parse error), and a
    * prefix miss fails LOUD: `_metadata.file_path` is a URI whose
    * escaping can diverge from the raw local path (e.g. `%20` for a
    * space), and silently slicing at a wrong offset would corrupt DV
    * coordinates — deleted rows would later resurrect.
    */
  private def relPathOf: org.apache.spark.sql.Column = {
    val abs = dataDir.toAbsolutePath.toString + "/"
    val fp = col(ManagedTable.FP)
    val pos = locate(abs, fp)
    when(pos > 0, fp.substr(pos + lit(abs.length), lit(Int.MaxValue)))
      .otherwise(raise_error(concat(
        lit(s"_metadata.file_path outside table data dir $abs: "), fp)))
  }

  private def readFilesFiltered(files: Seq[FileStat], schema: StructType,
                                version: Long, withPos: Boolean): DataFrame = {
    import ManagedTable.{FP, POS}
    ensureFieldIdRead(schema)
    if (files.isEmpty) {
      val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      return if (!withPos) empty
        else empty.withColumn(FP, lit(null).cast(StringType))
          .withColumn(POS, lit(null).cast(LongType))
    }
    files.find(f => !Files.isRegularFile(dataDir.resolve(f.path))).foreach { f =>
      throw new IllegalStateException(
        s"Version $version of $location references vacuumed data (${f.path}); " +
          "time travel is limited to the vacuum retention window")
    }
    val dvRefs = files.flatMap(_.dv).distinct
    dvRefs.find(r => !Files.isDirectory(dvRoot.resolve(r))).foreach { r =>
      throw new IllegalStateException(
        s"Version $version of $location references vacuumed deletion " +
          s"vector ($r); time travel is limited to the vacuum retention window")
    }
    val needPos = withPos || dvRefs.nonEmpty
    // The snapshot schema comes from the LOG, never from footer
    // inference: `mergeSchema` here used to re-open every parquet footer
    // at PLAN TIME (driver-side, once per commit-uuid group), so reads of
    // a long-lived table got slower with every commit — ~0.4 s per read
    // on a 60-commit index, pure driver latency. Files predating an
    // evolved column simply lack it; the reader null-fills by name
    // (standard parquet schema evolution) and [[project]] casts, which is
    // exactly what the mergeSchema union produced. Partition columns in
    // the schema resolve from the `k=v` path segments as before (a
    // user-specified schema naming a partition column takes its values
    // from the path).
    val frames = files.groupBy(_.path.takeWhile(_ != '/')).toSeq.map {
      case (uuid, fs) =>
        val r = spark.read
          .schema(schema)
          .option("basePath", dataDir.resolve(uuid).toString)
          .parquet(fs.map(f => dataDir.resolve(f.path).toString): _*)
        if (!needPos) r
        else r.select(col("*"),
          col("_metadata.file_path").as(FP), col("_metadata.row_index").as(POS))
    }
    val unioned = frames.reduce(_.unionByName(_, allowMissingColumns = true))
    if (!needPos) return unioned
    val withRel = unioned.withColumn(FP, relPathOf)
    if (dvRefs.isEmpty) withRel
    else {
      // DVs hold the DELETED coordinates — small WHEN users run OPTIMIZE
      // (that is when merge-on-read wins), but a table accumulating
      // deletes grows the vector set without bound, and a forced
      // broadcast past executor memory is a hard OOM, not a slowdown.
      // Gate the hint on the sidecars' on-disk footprint (already known
      // driver-side); past the threshold the anti-join shuffles on
      // (file, pos) — same rows, scale-safe plan.
      val dvRows = spark.read.schema(ManagedTable.dvSchema)
        .parquet(dvRefs.map(r => dvRoot.resolve(r).toString): _*)
      // sidecar dirs are immutable once written (vacuum removes whole
      // dirs, and removed refs are never planned), so the footprint is
      // memoized — no per-query driver walk on the hot read path
      val dvBytes = dvRefs.map(r =>
        ManagedTable.dvFootprint(dvRoot.resolve(r))).sum
      val limit = spark.conf.getOption("spark.graft.dv.broadcastThreshold")
        .map(_.toLong).getOrElse(ManagedTable.dvBroadcastThresholdDefault)
      val mask = dvRows.select(col("path").as(FP), col("pos").as(POS))
      withRel.join(if (dvBytes <= limit) broadcast(mask) else mask,
        Seq(FP, POS), "left_anti")
    }
  }

  /** Project to the committed schema (order + null-fill evolved columns). */
  private def project(df: DataFrame, schema: StructType): DataFrame = {
    val cols = schema.fields.map { f =>
      if (df.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** Filtered scan with file-level data skipping: files whose min/max
    * bounds prove they cannot satisfy `predicateSql` are never read (check
    * `.inputFiles` to see the skipping). The predicate is ALSO applied to
    * the surviving files, so the result equals `toDF.filter(predicateSql)`
    * always — bounds only remove work, never rows. Pair with
    * [[optimize]]`(sortBy = key)` to make the bounds tight on `key`; for
    * point lookups on high-cardinality unsorted columns (where bounds
    * are vacuous), declare them in `graft.bloom.columns` and equality
    * probes additionally prune through parquet bloom filters
    * ([[BloomSkip]]).
    */
  def toDFWhere(predicateSql: String): DataFrame = {
    val e = latestEntry
    val filtered = expr(predicateSql)
    if (e.files.isEmpty) return snapshotDF(e).filter(filtered)
    val parsed = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
      .parseExpression(predicateSql)
    val kept = BloomSkip.prune(spark.sessionState.newHadoopConf(), dataDir,
      FileStats.prune(e.files, e.schema, parsed), e.schema, parsed,
      e.properties)
    readFilesDF(kept, e.schema, e.version).filter(filtered)
  }

  def schema: StructType = latestEntry.schema
  def partitionColumns: Seq[String] = latestEntry.partitionColumns

  /** Live partition specs (`k=v[/k2=w]`) of the current snapshot, from
    * the log's leaf directories — metadata-only (SHOW PARTITIONS).
    * Empty for an unpartitioned table.
    */
  def partitionSpecs: Seq[String] =
    latestEntry.dirs.map(ManagedTable.leafSuffix)
      .filter(_.nonEmpty).distinct.sorted
  def properties: Map[String, String] = latestEntry.properties

  /** The current snapshot's per-file stats — the file-granular view
    * interop EXPORTERS need (paths data-dir-relative; rows/bytes from
    * footer stats). Stats-bearing snapshots only, like [[exportDelta]].
    */
  private[graft] def currentFileStats: Seq[FileStat] = {
    val e = latestEntry
    require(e.files.nonEmpty || e.dirs.isEmpty,
      s"export requires a stats-bearing snapshot at $location " +
        s"(version ${e.version} tracks directories, not files)")
    e.files
  }

  /** Absolute filesystem path of a snapshot-relative data file. */
  private[graft] def dataFilePath(rel: String): Path = dataDir.resolve(rel)

  /** The current snapshot's deletion-vector rows — (path, pos) in
    * [[ManagedTable.dvSchema]], restricted to the files each sidecar
    * actually masks NOW and dedup'd (a sidecar can hold rows for files
    * re-referenced across commits). Distributed read; O(deleted rows)
    * mass never touches the driver. Empty frame for DV-less snapshots.
    * Interop exporters ([[graft.sources.Iceberg.exportTable]]'s
    * position-delete leg) consume this.
    */
  private[graft] def currentDvRows: DataFrame = {
    val masked = latestEntry.files.filter(_.dv.isDefined)
    if (masked.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        ManagedTable.dvSchema)
    else masked.groupBy(_.dv.get).toSeq.map { case (ref, fs) =>
      spark.read.schema(ManagedTable.dvSchema)
        .parquet(dvRoot.resolve(ref).toString)
        .filter(col("path").isInCollection(fs.map(_.path)))
    }.reduce(_.unionByName(_)).distinct()
  }

  /** A file's hive `k=v` partition values decoded to raw strings
    * (null = default partition) — empty for an unpartitioned file.
    */
  private[graft] def hivePartitionValues(f: FileStat): Seq[(String, String)] = {
    val leaf = ManagedTable.leafSuffix(f.leafDir)
    if (leaf.isEmpty) Nil
    else leaf.split('/').filter(_.nonEmpty).toSeq.map { seg =>
      val i = seg.indexOf('=')
      require(i > 0, s"non-hive partition segment in $leaf")
      val raw = seg.substring(i + 1)
      seg.substring(0, i) ->
        (if (raw == "__HIVE_DEFAULT_PARTITION__") null
         else FileStats.unescapePath(raw))
    }
  }

  /** detail() analog (reference: delta_table.detail() at mack/__init__.py:277,
    * :310, :469, :658): location, partition columns, properties, file stats.
    */
  def detail: TableDetail = {
    val e = latestEntry
    if (e.files.nonEmpty)
      return TableDetail(location, e.partitionColumns, e.properties,
        e.files.size.toLong, e.files.map(_.bytes).sum)
    var n = 0L
    var bytes = 0L
    e.dirs.foreach { d =>
      val p = dataDir.resolve(d)
      if (Files.isDirectory(p)) {
        val s = Files.walk(p)
        try s.iterator().asScala.foreach { f =>
          val name = f.getFileName.toString
          if (Files.isRegularFile(f) && name.endsWith(".parquet")) {
            n += 1; bytes += Files.size(f)
          }
        }
        finally s.close()
      }
    }
    TableDetail(location, e.partitionColumns, e.properties, n, bytes)
  }

  /** Row count of the current snapshot from METADATA alone: the log's
    * per-file footer counts minus recorded deletion-vector
    * cardinalities. O(files) driver arithmetic, zero data scan — the
    * 100 TB `count(*)` answers in milliseconds, the same way Delta
    * answers it from `add.stats.numRecords`. Snapshots whose DV entries
    * predate the `dvRows` field pay one small sidecar read; legacy
    * pre-stats tables fall back to a scan (upgraded on their next
    * write).
    */
  def numRows: Long = numRowsAt(latestEntry)

  private[tables] def numRowsAt(e: LogEntry): Long = {
    if (e.files.isEmpty) return snapshotDF(e).count()
    val missing = e.files.filter(f => f.dv.isDefined && f.dvRows.isEmpty)
    val fallback: Map[String, Long] =
      if (missing.isEmpty) Map.empty
      else spark.read.schema(ManagedTable.dvSchema)
        .parquet(missing.map(f => dvRoot.resolve(f.dv.get).toString)
          .distinct: _*)
        .filter(col("path").isInCollection(missing.map(_.path)))
        .groupBy("path").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    e.files.map(f => f.rows - f.dvRows.getOrElse(
      if (f.dv.isDefined) fallback.getOrElse(f.path, 0L) else 0L)).sum
  }

  /** Live row count PER PARTITION from metadata alone (log footer counts
    * minus recorded DV cardinalities — same accounting as [[numRows]],
    * grouped by the file's `k=v` partition path). Zero data scan: the
    * balance probe behind maintenance decisions (skewed partitions →
    * re-cluster; an IVF index's drifted cells → refit) answers from the
    * log in O(files) driver arithmetic. Keys are the decoded partition
    * values in `partitionColumns` order; an unpartitioned table returns
    * one entry with an empty key. Files whose DV predates the dvRows
    * field pay one sidecar read (the [[numRows]] fallback).
    */
  def partitionRowCounts: Map[Seq[(String, String)], Long] = {
    val e = latestEntry
    val missing = e.files.filter(f => f.dv.isDefined && f.dvRows.isEmpty)
    val fallback: Map[String, Long] =
      if (missing.isEmpty) Map.empty
      else spark.read.schema(ManagedTable.dvSchema)
        .parquet(missing.map(f => dvRoot.resolve(f.dv.get).toString)
          .distinct: _*)
        .filter(col("path").isInCollection(missing.map(_.path)))
        .groupBy("path").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    e.files.groupBy { f =>
      val leaf = ManagedTable.leafSuffix(f.leafDir)
      if (leaf.isEmpty) Seq.empty[(String, String)]
      else leaf.split('/').filter(_.nonEmpty).toSeq.map { seg =>
        val i = seg.indexOf('=')
        require(i > 0, s"non-hive partition segment in $leaf")
        val raw = seg.substring(i + 1)
        seg.substring(0, i) ->
          (if (raw == "__HIVE_DEFAULT_PARTITION__") null
           else FileStats.unescapePath(raw))
      }
    }.map { case (k, fs) =>
      k -> fs.map(f => f.rows - f.dvRows.getOrElse(
        if (f.dv.isDefined) fallback.getOrElse(f.path, 0L) else 0L)).sum
    }
  }

  /** history() analog (mack/__init__.py:626): one row per committed
    * version. Reads the compact checkpoint for everything it covers and
    * per-version entries only for the tail — O(checkpointInterval) entry
    * reads however long the table's history, and the only way to list
    * versions whose entry files [[cleanupLog]] removed.
    */
  /** (version, commit timestamp ms, operation, metrics) for every
    * version — checkpoint rows for the covered prefix, per-version
    * entries only for the tail (the machinery behind [[history]] and
    * [[versionAsOf]]).
    */
  private def historyRows: Seq[(Long, Long, String, Map[String, String])] = {
    val latest = latestVersion
    val cp = readCheckpoint().filter(_.maxVersion <= latest)
    val head = cp.map(_.rows).getOrElse(Vector.empty)
    val from = cp.map(_.maxVersion + 1).getOrElse(0L)
    head ++ (from to latest).map { v =>
      val e = readEntry(v); (v, e.timestampMs, e.operation, e.metrics)
    }
  }

  def history: DataFrame = {
    val rows = historyRows.map { case (v, tsMs, op, m) =>
      Row(v, new java.sql.Timestamp(tsMs), op, m)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("version", LongType, nullable = false),
        StructField("timestamp", TimestampType, nullable = false),
        StructField("operation", StringType, nullable = false),
        StructField("operationMetrics",
          MapType(StringType, StringType), nullable = false))))
  }

  /** The highest version committed at or before `tsMillis` (Delta
    * `timestampAsOf` resolution). Raises if the timestamp predates the
    * table's first commit.
    */
  def versionAsOf(tsMillis: Long): Long = {
    val at = historyRows.filter(_._2 <= tsMillis)
    require(at.nonEmpty,
      s"No version of $location committed at or before $tsMillis " +
        s"(first commit: ${historyRows.headOption.map(_._2).getOrElse(-1L)})")
    at.map(_._1).max
  }

  /** Time travel by wall clock: the snapshot [[versionAsOf]] `tsMillis`. */
  def toDFAsOf(tsMillis: Long): DataFrame = toDF(versionAsOf(tsMillis))

  // ---- writes ----------------------------------------------------------

  /** Footer-harvested stats for the parquet files under `leaves` (see
    * [[FileStats.collect]] — metadata-only reads over ONE commit's files).
    */
  private def statsFor(leaves: Seq[String], schema: StructType): Seq[FileStat] =
    FileStats.collect(spark.sessionState.newHadoopConf(), dataDir, leaves, schema)

  /** The entry's per-file stats, backfilled from its leaf dirs when the
    * entry predates stats collection (one footer pass upgrades a legacy
    * table the first time it is written to).
    */
  private def entryFiles(e: LogEntry): Seq[FileStat] =
    if (e.files.nonEmpty || e.dirs.isEmpty) e.files
    else statsFor(e.dirs, e.schema)

  /** Per-row CHECK-constraint enforcement (Delta's `CheckInvariant`):
    * every write funnels through [[writeData]], so a violating row makes
    * the WRITE fail inside its own scan — one codegen'd boolean per row
    * per constraint, no second pass, and the error message only
    * materializes on the violating row. NULL results count as violations
    * (the semantics the reference's `constraint_append` quarantine
    * applies, `mack/__init__.py:677-687`).
    */
  private def enforced(df: DataFrame, props: Map[String, String]): DataFrame = {
    val checks = props.collect {
      case (k, v) if k.startsWith(ManagedTable.constraintPrefix) =>
        k.stripPrefix(ManagedTable.constraintPrefix) -> v
    }
    if (checks.isEmpty) df
    else {
      val rowJson = to_json(struct(df.columns.map(col).toIndexedSeq: _*))
      checks.foldLeft(df) { case (d, (name, sqlExpr)) =>
        d.filter(when(expr(sqlExpr) <=> true, lit(true)).otherwise(
          raise_error(concat(
            lit(s"CHECK constraint `$name` ($sqlExpr) violated by row: "),
            rowJson))))
      }
    }
  }

  /** Write `df` under a fresh uuid dir; returns the LEAF directories
    * relative to the data root — `uuid` itself when unpartitioned, else
    * one `uuid/p=v[/q=w…]` path per written partition. `props` (the
    * snapshot's table properties) activate parquet-native bloom filters
    * for `graft.bloom.columns` — see [[BloomSkip]] — and carry the CHECK
    * constraints [[enforced]] applies.
    */
  private def writeData(df: DataFrame, parts: Seq[String],
                        props: Map[String, String],
                        alreadyOrdered: Boolean = false,
                        tableSchema: StructType = null): Seq[String] = {
    val id = UUID.randomUUID().toString
    val out = dataDir.resolve(id)
    // Writes to an ID-BEARING table (Iceberg imports of renamed tables
    // scan by parquet field id) must STAMP the ids into the new files:
    // catalyst aliases/casts drop field metadata, so an aligned frame
    // would otherwise write id-LESS files that the table's id-resolved
    // scans NULL-FILL silently — Spark's id matching has no name
    // fallback, and `fieldId.read.ignoreMissing=true` null-fills too
    // (verified empirically). Re-select with the committed schema's
    // metadata (top-level) and cast to its types (restores nested
    // struct ids, which live in the DataType).
    val idSchema = Option(tableSchema).filter(ManagedTable.hasFieldIds)
    // save/restore around the write (not a permanent session flip): the
    // flag only stamps fields that carry metadata, but a library call
    // must not leave a global conf mutated behind it. Set on the
    // FRAME's session, not the table's: the write executes with the
    // frame's SQLConf, and a caller may hand over a frame built in a
    // width-scoped child session (the streaming-dedup per-batch
    // pipeline) — flipping the table session's flag there would
    // silently skip the id stamping.
    val wsp = df.sparkSession
    val prevIdWrite = idSchema.map(_ =>
      wsp.conf.getOption("spark.sql.parquet.fieldId.write.enabled"))
    val df1 = idSchema match {
      case None => df
      case Some(ts) =>
        wsp.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
        df.select(df.columns.map { c =>
          ts.fields.find(_.name == c) match {
            case Some(f) => col(c).cast(f.dataType).as(c, f.metadata)
            case None => col(c)
          }
        }.toIndexedSeq: _*)
    }
    try {
      // sorted writes (the `graft.write.sortBy` table property — Delta's
      // optimized-writes + sort practice): each write RANGE-partitions by
      // the configured columns (partition columns lead, so hive dirs keep
      // one writer each) and sorts within tasks, so every commit's files
      // are bound-DISJOINT on the leading sort column and probes skip
      // inside fresh appends without waiting for an OPTIMIZE rewrite. A
      // per-task sort alone would only tighten row-group stats — file
      // min/max needs the range shuffle, the documented cost of the
      // opt-in. The caller's task count is preserved, so file sizing
      // decisions (small-batch coalesce, compaction targets) survive.
      // `alreadyOrdered` frames (OPTIMIZE's z-/Hilbert-/sort-clustered
      // rewrites) bypass the staging: re-range-partitioning a frame the
      // caller just multi-dimensionally clustered would silently destroy
      // that clustering while recording the commit as OPTIMIZE.
      val sortCols =
        if (alreadyOrdered) Nil
        else props.get(ManagedTable.writeSortPropKey)
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(Nil).filter(df.columns.contains)
      val staged =
        if (sortCols.isEmpty) enforced(df1, props)
        else {
          val e = enforced(df1, props)
          val keys = (parts.filter(df.columns.contains) ++ sortCols)
            .distinct.map(col)
          val n = math.max(1, e.rdd.getNumPartitions)
          e.repartitionByRange(n, keys: _*).sortWithinPartitions(keys: _*)
        }
      val w = staged.write.mode("overwrite")
        .options(BloomSkip.writeOptions(props))
      (if (parts.nonEmpty) w.partitionBy(parts: _*) else w).parquet(out.toString)
      if (parts.isEmpty) Seq(id)
      else leafDirs(out, parts.length).map(l => id + "/" + out.relativize(l).toString)
    } finally prevIdWrite.foreach {
      case Some(v) =>
        wsp.conf.set("spark.sql.parquet.fieldId.write.enabled", v)
      case None =>
        wsp.conf.unset("spark.sql.parquet.fieldId.write.enabled")
    }
  }

  /** The partition directories exactly `depth` levels below `root`. */
  private def leafDirs(root: Path, depth: Int): Seq[Path] = {
    def step(p: Path, d: Int): Seq[Path] =
      if (d == 0) Seq(p)
      else {
        val s = Files.list(p)
        try s.iterator().asScala.toSeq
          .filter(c => Files.isDirectory(c) && c.getFileName.toString.contains("="))
          .flatMap(step(_, d - 1))
        finally s.close()
      }
    step(root, depth)
  }

  /** Append `df`. With `mergeSchema=true`, new columns are allowed and the
    * table schema becomes the union (existing rows read back null for the
    * new columns); re-using an existing column name with a different type
    * raises, as Delta's schema merge does. A lost commit race rebases on
    * the new latest version and retries — blind appends commute, so this
    * is safe (Delta's append-vs-append non-conflict rule); read-modify-
    * write commits ([[overwrite]]) do NOT retry.
    *
    * `txn = Some((appId, version))` makes the append idempotent per
    * writer (Delta's `txnAppId`/`txnVersion` option): the commit records
    * the monotonically increasing `version` under the writer's `appId`,
    * and an append whose version the table has ALREADY recorded is a
    * no-op. A replayed streaming micro-batch (checkpoint recovery, a
    * crash between the commits of one batch) re-runs its appends without
    * duplicating rows — an O(1) snapshot-property check, where an id-level
    * anti-join guard would re-scan the table every batch.
    */
  def append(df: DataFrame, mergeSchema: Boolean = false,
             operation: String = "APPEND",
             txn: Option[(String, Long)] = None): Unit =
    appendFrom(df, mergeSchema, operation, txn, preWritten = None)

  /** First half of [[append]]: write `df`'s data files against the
    * CURRENT snapshot's schema/layout without committing them. Pass the
    * result to [[appendStaged]] to commit. Lets a caller overlap the
    * write jobs of SEVERAL tables (run each stage concurrently) while
    * keeping their COMMITS strictly ordered — the streaming dedup
    * pipeline's out/buckets/sigs tail. A staged write that is never
    * committed (crash, replayed txn) is an orphan file set that
    * [[vacuum]] reclaims, exactly like a crash between write and commit
    * inside [[append]] itself.
    */
  private[graft] def stageAppend(df: DataFrame)
      : (Seq[String], StructType, Seq[String]) = {
    val e = latestEntry
    val aligned = alignForAppend(df, e.schema)
    (writeData(aligned, e.partitionColumns, e.properties,
      tableSchema = e.schema), e.schema,
      e.partitionColumns)
  }

  /** Second half of [[append]]: commit a [[stageAppend]] result. The
    * normal rebase loop still runs — if the table's schema or layout
    * changed since staging (concurrent writer), the staged files are
    * abandoned to [[vacuum]] and `df` is rewritten against the new
    * snapshot, so the commit is never wrong, only the overlap is lost.
    */
  private[graft] def appendStaged(df: DataFrame,
                                  staged: (Seq[String], StructType, Seq[String]),
                                  operation: String = "APPEND",
                                  txn: Option[(String, Long)] = None): Unit =
    appendFrom(df, mergeSchema = false, operation, txn,
      preWritten = Some(staged))

  /** Project `df` to `schema` for an append: resolve case-insensitively
    * (exact match first), as Spark's analyzer would — a stream/batch
    * column differing only in case must land in the table column, not
    * silently null-fill (GraftSink's unknown-column guard admits it on
    * the same terms); ambiguity raises, never null-fills.
    */
  private def alignForAppend(df: DataFrame, schema: StructType): DataFrame =
    df.select(schema.fields.map { f =>
      df.columns.find(_ == f.name).orElse {
        df.columns.filter(_.equalsIgnoreCase(f.name)) match {
          case Array(only) => Some(only)
          case Array() => None
          case many => throw new IllegalArgumentException(
            s"Ambiguous columns ${many.mkString(", ")} for table " +
              s"column '${f.name}'")
        }
      } match {
        case Some(c) => df.col(c).cast(f.dataType).as(f.name)
        case None => lit(null).cast(f.dataType).as(f.name)
      }
    }.toIndexedSeq: _*)

  private def appendFrom(df: DataFrame, mergeSchema: Boolean,
                         operation: String,
                         txn: Option[(String, Long)],
                         preWritten: Option[(Seq[String], StructType, Seq[String])])
      : Unit = {
    var written: Option[(Seq[String], StructType, Seq[String])] = preWritten
    var attempts = 0
    var done = false
    while (!done) {
      val e = latestEntry
      // idempotent-replay check rides the SAME snapshot read the commit
      // rebases on, so a twin writer that slipped in between retries is
      // still caught before this version double-applies
      val alreadyApplied = txn.exists { case (app, v) =>
        e.properties.get(ManagedTable.txnPropKey(app)).exists(_.toLong >= v)
      }
      if (alreadyApplied) return
      val newSchema =
        if (mergeSchema) unionSchema(e.schema, df.schema)
        else e.schema
      ManagedTable.guardResurrect(e,
        newSchema.fieldNames.filterNot(e.schema.fieldNames.contains))
      val dirs = written match {
        // data already on disk fits the rebased schema AND layout
        case Some((d, s, p)) if s == newSchema && p == e.partitionColumns => d
        case _ =>
          val d = writeData(alignForAppend(df, newSchema),
            e.partitionColumns, e.properties, tableSchema = newSchema)
          written = Some((d, newSchema, e.partitionColumns))
          d
      }
      val newProps = txn.fold(e.properties) { case (app, v) =>
        e.properties + (ManagedTable.txnPropKey(app) -> v.toString)
      }
      try {
        val newStats = statsFor(dirs, newSchema)
        commit(LogEntry(e.version + 1, System.currentTimeMillis(), operation,
          e.dirs ++ dirs, newSchema, e.partitionColumns, newProps,
          entryFiles(e) ++ newStats,
          metrics = ManagedTable.writeMetrics(newStats)))
        done = true
      } catch {
        case c: ConcurrentCommitException =>
          attempts += 1
          if (attempts > 10) throw c
      }
    }
  }

  /** The highest `version` committed via `append(txn = Some((appId, _)))`
    * for this writer, or None if it has never committed — the streaming
    * replay fast-path probe.
    */
  def txnVersion(appId: String): Option[Long] =
    latestEntry.properties.get(ManagedTable.txnPropKey(appId)).map(_.toLong)

  /** Atomically replace the table contents with `df` (new files + log swap;
    * old files become unreferenced until [[vacuum]], as in Delta overwrite).
    */
  def overwrite(df: DataFrame, operation: String = "OVERWRITE"): Unit =
    overwriteFrom(latestVersion, df, operation)

  /** [[overwrite]] pinned to the snapshot version the replacement was
    * COMPUTED from (the full-rewrite MERGE path): a full-snapshot rewrite
    * reads the whole table, so an intervening commit of any kind would be
    * silently discarded by a plain last-writer overwrite — fail loud
    * instead, before writing any data. The put-if-absent commit then
    * guards the residual window.
    */
  private[tables] def overwriteFrom(baseVersion: Long, df: DataFrame,
                                    operation: String,
                                    cdc: Seq[String] = Nil,
                                    txn: Option[(String, Long)] = None): Unit = {
    val e = latestEntry
    if (txnApplied(e, txn)) return
    if (e.version != baseVersion)
      throw new ConcurrentCommitException(
        s"$operation at $location was computed against v$baseVersion but " +
          s"the table is at v${e.version}; a full-snapshot rewrite reads " +
          "everything and cannot rebase over concurrent commits")
    val aligned = df.select(e.schema.fields.map { f =>
      col(f.name).cast(f.dataType).as(f.name)
    }.toIndexedSeq: _*)
    val dirs = writeData(aligned, e.partitionColumns, e.properties,
      tableSchema = e.schema)
    val newStats = statsFor(dirs, e.schema)
    commit(LogEntry(baseVersion + 1, System.currentTimeMillis(), operation,
      dirs, e.schema, e.partitionColumns, withTxnProp(e.properties, txn),
      newStats,
      metrics = ManagedTable.writeMetrics(newStats), cdc = cdc))
  }

  /** Whether `txn`'s (appId, version) is already recorded on `e` — the
    * same idempotent-replay rule [[append]] applies, shared by every
    * read-modify-write commit path a streaming writer drives (MERGE
    * sinks replay micro-batches exactly like append sinks do). The
    * marker rides the SAME commit as the data (see [[withTxnProp]]), so
    * a crash can never separate them.
    */
  private def txnApplied(e: LogEntry, txn: Option[(String, Long)]): Boolean =
    txn.exists { case (app, v) =>
      e.properties.get(ManagedTable.txnPropKey(app)).exists(_.toLong >= v)
    }

  private def withTxnProp(props: Map[String, String],
                          txn: Option[(String, Long)]): Map[String, String] =
    txn.fold(props) { case (app, v) =>
      props + (ManagedTable.txnPropKey(app) -> v.toString)
    }

  // ---- conflict detection for read-modify-write commits ----------------

  /** What one intervening commit changed vs its parent, for conflict
    * checks: (partition suffixes it touched, file paths it removed, files
    * it added). Derived from the log alone — every entry records its full
    * snapshot, so child-vs-parent diffs need no extra commit metadata.
    * None when the parent entry is unreadable (cleaned up by
    * [[cleanupLog]]), in which case disjointness is unprovable and the
    * caller must treat the commit as conflicting.
    */
  private def commitDelta(v: Long): Option[(Set[String], Set[String], Seq[FileStat])] =
    try {
      val e = readEntry(v)
      val p = readEntry(v - 1)
      val dirsE = e.dirs.toSet
      val dirsP = p.dirs.toSet
      val filesE = e.files.map(f => f.path -> f).toMap
      val filesP = p.files.map(f => f.path -> f).toMap
      // A deletion-vector-only commit keeps every path but swaps a file's
      // `dv` ref — logically a rewrite of that file. Treat it as
      // removed+added so rebase conflict checks (replaceFiles'
      // both-rewrite rule, overwritePartitions' touched-partition rule)
      // see it; a path-only diff would let a concurrent MERGE silently
      // resurrect the DV-deleted rows.
      val dvChanged = (filesE.keySet intersect filesP.keySet)
        .filter(p0 => filesE(p0).dv != filesP(p0).dv)
      val removedPaths = (filesP.keySet diff filesE.keySet) ++ dvChanged
      val addedFiles =
        ((filesE.keySet diff filesP.keySet) ++ dvChanged).toSeq.map(filesE)
      val touched =
        ((dirsE diff dirsP) ++ (dirsP diff dirsE)).map(ManagedTable.leafSuffix) ++
          (removedPaths ++ addedFiles.map(_.path))
            .map(path => ManagedTable.leafSuffix(
              path.substring(0, path.lastIndexOf('/'))))
      Some((touched, removedPaths, addedFiles))
    } catch { case _: IllegalStateException => None }

  /** The intervening commits `baseVersion+1 .. latest`, or a conflict
    * error if any of them changed the schema/partitioning (a rebase would
    * then commit data in an outdated layout).
    */
  private def interveningDeltas(baseVersion: Long, base: LogEntry,
                                latest: LogEntry, operation: String):
      Seq[(Long, (Set[String], Set[String], Seq[FileStat]))] =
    ((baseVersion + 1) to latest.version).map { v =>
      if (latest.schema != base.schema ||
          latest.partitionColumns != base.partitionColumns)
        throw new ConcurrentCommitException(
          s"$operation at $location conflicts with a concurrent " +
            s"schema/partitioning change (base v$baseVersion, now v${latest.version})")
      commitDelta(v) match {
        case Some(d) => v -> d
        case None => throw new ConcurrentCommitException(
          s"$operation at $location cannot prove disjointness against " +
            s"concurrent commit v$v (log entry cleaned up)")
      }
    }

  /** Partition-scoped overwrite (Delta dynamic `replaceWhere` analog):
    * replaces exactly the partitions in `partitionValues` with `df`'s
    * rows; every other partition keeps its existing leaf directories —
    * the snapshot is rewritten only where it changed. A partition listed
    * with no surviving rows in `df` is correctly emptied (its old leaves
    * drop out of the snapshot). Raises if `df` contains rows OUTSIDE the
    * replaced partitions (they would be silently duplicated otherwise).
    *
    * Conflict handling (Delta's partition-level conflict rule): the
    * replacement was computed against `baseVersion` (default: the current
    * version). If other commits land before this one, it REBASES on top of
    * them when every intervening commit touched only DISJOINT partitions —
    * two writers merging into different partitions both commit — and
    * raises [[ConcurrentCommitException]] when any intervening commit
    * touched a replaced partition or changed the schema/partitioning
    * (this write's data would silently clobber it).
    */
  def overwritePartitions(df: DataFrame, partitionValues: Seq[Map[String, Any]],
                          operation: String = "OVERWRITE PARTITIONS",
                          baseVersion: Long = -1L,
                          cdc: Seq[String] = Nil,
                          txn: Option[(String, Long)] = None): Unit = {
    if (txnApplied(latestEntry, txn)) return
    val base = if (baseVersion >= 0) readEntry(baseVersion) else latestEntry
    val parts = base.partitionColumns
    require(parts.nonEmpty, "overwritePartitions requires a partitioned table")
    val affected: Set[String] = partitionValues.map(vs =>
      parts.map(p => partitionSegment(p, vs.getOrElse(p,
        throw new IllegalArgumentException(s"missing partition value for $p"))))
        .mkString("/")).toSet
    val aligned = df.select(base.schema.fields.map { f =>
      col(f.name).cast(f.dataType).as(f.name)
    }.toIndexedSeq: _*)
    val newLeaves = writeData(aligned, parts, base.properties,
      tableSchema = base.schema)
    val stray = newLeaves.map(leafSuffix).filterNot(affected)
    require(stray.isEmpty,
      s"overwritePartitions: df contains rows outside the replaced " +
        s"partitions: ${stray.take(3).mkString(", ")}")
    val newStats = statsFor(newLeaves, base.schema)
    var attempts = 0
    var done = false
    while (!done) {
      val cur = latestEntry
      if (cur.version > base.version)
        interveningDeltas(base.version, base, cur, operation).foreach {
          case (v, (touched, _, _)) =>
            val overlap = touched intersect affected
            if (overlap.nonEmpty) throw new ConcurrentCommitException(
              s"$operation at $location (base v${base.version}) conflicts " +
                s"with concurrent commit v$v on partition(s) " +
                overlap.take(3).mkString(", "))
        }
      // disjoint: rebase — keep the intervening commits' dirs/properties,
      // swap only the replaced partitions' leaves for ours
      val kept = cur.dirs.filterNot(d => affected(leafSuffix(d)))
      val keptSet = kept.toSet
      try {
        commit(LogEntry(cur.version + 1, System.currentTimeMillis(), operation,
          kept ++ newLeaves, cur.schema, parts,
          withTxnProp(cur.properties, txn),
          entryFiles(cur).filter(f => keptSet(f.leafDir)) ++ newStats,
          metrics = ManagedTable.writeMetrics(newStats) +
            ("numReplacedPartitions" -> affected.size.toString),
          cdc = cdc))
        done = true
      } catch {
        case c: ConcurrentCommitException =>
          attempts += 1
          if (attempts > 10) throw c
      }
    }
  }

  /** File-granular replace (the commit half of a file-pruned MERGE):
    * keeps every current file EXCEPT `removed` verbatim, plus a fresh
    * write of `df` — Delta's rewrite-only-matched-files, expressed
    * through the per-file snapshot. The removed files stay on disk for
    * time travel; they live in still-referenced commit dirs, so [[vacuum]]
    * reclaims them file-by-file once no retained version lists them.
    *
    * Conflict handling (Delta's file-level conflict rules): computed
    * against the `base` snapshot the caller planned from (passed as the
    * already-parsed LogEntry — the planning read IS the conflict base, no
    * re-read that a racing [[cleanupLog]] could invalidate). On
    * intervening commits it REBASES — keeping their surviving files —
    * when BOTH hold for every intervening commit:
    *  - it removed none of the files this merge rewrites (two merges may
    *    not rewrite the same file — one's updates would be lost);
    *  - `addedMayMatch` proves its added files cannot contain this
    *    merge's keys (Delta's ConcurrentAppendException rule: a file this
    *    merge WOULD have read, had it run second, conflicts; blind appends
    *    with provably-disjoint key bounds commute).
    * Otherwise raises [[ConcurrentCommitException]].
    */
  private[tables] def replaceFiles(removed: Set[String], df: DataFrame,
                                   operation: String,
                                   base: LogEntry,
                                   addedMayMatch: Seq[FileStat] => Boolean =
                                     _ => true,
                                   extraMetrics: Map[String, String] =
                                     Map.empty,
                                   cdc: Seq[String] = Nil,
                                   txn: Option[(String, Long)] = None,
                                   alreadyOrdered: Boolean = false): Unit = {
    if (txnApplied(latestEntry, txn)) return
    require(base.files.nonEmpty, "replaceFiles requires a stats-bearing snapshot")
    val aligned = df.select(base.schema.fields.map { f =>
      col(f.name).cast(f.dataType).as(f.name)
    }.toIndexedSeq: _*)
    val newDirs = writeData(aligned, base.partitionColumns, base.properties,
      alreadyOrdered = alreadyOrdered, tableSchema = base.schema)
    val newStats = statsFor(newDirs, base.schema)
    var attempts = 0
    var done = false
    while (!done) {
      val cur = latestEntry
      if (cur.version > base.version)
        interveningDeltas(base.version, base, cur, operation).foreach {
          case (v, (_, removedBy, added)) =>
            val both = removedBy intersect removed
            if (both.nonEmpty) throw new ConcurrentCommitException(
              s"$operation at $location (base v${base.version}) conflicts " +
                s"with concurrent commit v$v: both rewrite ${both.head}")
            if (added.nonEmpty && addedMayMatch(added))
              throw new ConcurrentCommitException(
                s"$operation at $location (base v${base.version}) conflicts " +
                  s"with concurrent commit v$v: it added files that may " +
                  "contain this merge's keys")
        }
      val kept = cur.files.filterNot(f => removed(f.path))
      val dirs = (kept.map(_.leafDir).distinct ++ newDirs).distinct
      try {
        commit(LogEntry(cur.version + 1, System.currentTimeMillis(), operation,
          dirs, cur.schema, cur.partitionColumns,
          withTxnProp(cur.properties, txn),
          kept ++ newStats,
          metrics = ManagedTable.writeMetrics(newStats) +
            ("numRemovedFiles" -> removed.size.toString) ++ extraMetrics,
          cdc = cdc))
        done = true
      } catch {
        case c: ConcurrentCommitException =>
          attempts += 1
          if (attempts > 10) throw c
      }
    }
  }

  /** The current snapshot's per-file stats (empty on a legacy table that
    * has not been written to since stats were introduced).
    */
  private[tables] def fileStats: Seq[FileStat] = latestEntry.files

  /** A DataFrame over exactly `files` of the current snapshot. */
  private[tables] def scanFilesDF(files: Seq[FileStat]): DataFrame = {
    val e = latestEntry
    readFilesDF(files, e.schema, e.version)
  }

  /** A DataFrame over exactly `files`, read with `at`'s schema — the
    * snapshot a pruned merge planned against, so the data it reads, the
    * files it prunes, and the conflict base it commits with all agree
    * even when a concurrent commit lands mid-merge.
    */
  private[tables] def scanFilesDF(files: Seq[FileStat], at: LogEntry): DataFrame =
    readFilesDF(files, at.schema, at.version)

  /** Remove data directories referenced by no retained version — the
    * storage-reclamation half of every overwrite/MERGE/DELETE, which all
    * leave the previous snapshot's files in place for time travel (Delta
    * VACUUM analog, retention by version count rather than hours).
    * Versions `latest-retainVersions+1 .. latest` stay fully readable;
    * older versions' history rows survive but their unshared data files
    * are deleted. Returns (directories deleted, bytes freed).
    *
    * `minAgeMillis` is the retention-time floor (Delta's
    * `retentionDurationCheck`): a directory whose newest file is younger
    * than this is NEVER deleted, even if unreferenced — a concurrent
    * writer stages its data BEFORE committing its log entry, so without
    * the floor a vacuum racing that writer deletes the staged files and
    * the subsequent commit references deleted data. The default (1 h)
    * bounds how long an uncommitted write may take; pass 0 only when no
    * concurrent writers exist (tests).
    */
  /** Time-based retention (Delta's `VACUUM ... RETAIN n HOURS` form):
    * every version that was the table's LATEST at any point within the
    * last `retentionHours` stays fully readable — i.e. versions committed
    * inside the window plus the one current as the window opened — and
    * older versions' unshared data is reclaimed. Resolved to the
    * version-count form via commit timestamps ([[history]]'s rows), so
    * both forms share one reclamation path.
    */
  def vacuum(retentionHours: Double): (Long, Long) =
    vacuum(retentionHours, ManagedTable.defaultVacuumMinAgeMillis)

  /** [[vacuum(retentionHours*]] with an explicit retention-time floor
    * (see the version-count form for the floor's contract). `dryRun`
    * reports what WOULD be reclaimed (count, bytes) without deleting —
    * Delta's `VACUUM … DRY RUN`.
    */
  def vacuum(retentionHours: Double, minAgeMillis: Long): (Long, Long) =
    vacuum(retentionHours, minAgeMillis, dryRun = false)

  def vacuum(retentionHours: Double, minAgeMillis: Long,
             dryRun: Boolean): (Long, Long) = {
    require(retentionHours >= 0, "retentionHours must be >= 0")
    val cutoff =
      System.currentTimeMillis() - (retentionHours * 3600 * 1000).toLong
    val rows = historyRows
    // the newest version committed at-or-before the cutoff was still
    // current as the window opened — it anchors the retained range
    val anchor = rows.filter(_._2 <= cutoff).map(_._1) match {
      case Seq() => 0L
      case at    => at.max
    }
    vacuum(math.max(1L, latestVersion - anchor + 1).toInt, minAgeMillis,
      dryRun)
  }

  def vacuum(retainVersions: Int = 1,
             minAgeMillis: Long = ManagedTable.defaultVacuumMinAgeMillis,
             dryRun: Boolean = false): (Long, Long) = {
    require(retainVersions >= 1, "retainVersions must be >= 1")
    require(minAgeMillis >= 0, "minAgeMillis must be >= 0")
    val latest = latestVersion
    require(latest >= 0, s"No committed version at $location")
    val keepFrom = math.max(0L, latest - retainVersions + 1)
    val ageCutoff = System.currentTimeMillis() - minAgeMillis
    // Retention = version count ∪ RECENCY: any version committed within
    // the grace period keeps its whole snapshot, regardless of
    // retainVersions. The per-file mtime gate below cannot carry this on
    // its own for ADOPTED files (convert/importTable hard-link the
    // source inode, whose mtime predates the table — touching it would
    // mutate the source), so recency is keyed to commit timestamps: a
    // file is reclaimed only once every version that referenced it is
    // older than the cutoff. Backward walk stops at the first old (or
    // cleaned-up) entry — O(versions within the grace window).
    val recentEntries = Iterator.iterate(keepFrom - 1)(_ - 1)
      .takeWhile(_ >= 0)
      .map(v => scala.util.Try(readEntry(v)).toOption)
      .takeWhile(_.exists(_.timestampMs > ageCutoff))
      .flatten.toSeq
    val retainedEntries = (keepFrom to latest).map(readEntry) ++ recentEntries
    val retained: Set[String] = retainedEntries.flatMap(_.dirs).toSet
    // file-granular retention: the union of per-file snapshots lets a
    // still-referenced commit dir shed files replaced by a file-pruned
    // MERGE. A retained entry WITHOUT a file list needs its dirs whole.
    val retainedFilePaths: Set[String] =
      retainedEntries.flatMap(_.files.map(_.path)).toSet
    val wholeDirUuids: Set[String] = retainedEntries
      .filter(en => en.files.isEmpty && en.dirs.nonEmpty)
      .flatMap(_.dirs.map(_.takeWhile(_ != '/'))).toSet
    var dirsDeleted = 0L
    var bytesFreed = 0L
    def sizeOf(p: Path): Long = {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
    // DRY RUN: the walk, retention math, and age floor all run for real;
    // only the deletions are suppressed — the reported (count, bytes)
    // are exactly what a wet run would reclaim right now
    def rmTree(p: Path): Unit = if (!dryRun) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
    // newest mtime anywhere under p (dirs included — a freshly created
    // empty partition dir must also count as young)
    def newestMtime(p: Path): Long = {
      val s = Files.walk(p)
      try s.iterator().asScala
        .map(f => Files.getLastModifiedTime(f).toMillis).foldLeft(0L)(math.max)
      finally s.close()
    }
    def oldEnough(p: Path): Boolean = newestMtime(p) <= ageCutoff
    if (Files.isDirectory(dataDir)) {
      val tops = { val s = Files.list(dataDir)
        try s.iterator().asScala.toSeq finally s.close() }
      tops.filter(Files.isDirectory(_)).foreach { top =>
        val uuid = top.getFileName.toString
        val refs = retained.filter(d => d == uuid || d.startsWith(uuid + "/"))
        if (refs.isEmpty) {
          if (oldEnough(top)) {
            bytesFreed += sizeOf(top); dirsDeleted += 1; rmTree(top)
          }
        } else {
          if (!refs.contains(uuid)) {
            // partially-referenced partitioned commit: drop unreferenced leaves
            val depth = refs.head.count(_ == '/')
            leafDirs(top, depth).foreach { leaf =>
              val rel = uuid + "/" + top.relativize(leaf).toString
              if (!refs.contains(rel) && oldEnough(leaf)) {
                bytesFreed += sizeOf(leaf); dirsDeleted += 1; rmTree(leaf)
              }
            }
          }
          // file-granular pass: parquet files listed by NO retained
          // snapshot (replaced by a file-pruned MERGE) are reclaimed even
          // though their commit dir stays referenced
          if (!wholeDirUuids.contains(uuid)) {
            val s = Files.walk(top)
            val parquets =
              try s.iterator().asScala.toSeq.filter(f =>
                Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
              finally s.close()
            parquets.foreach { f =>
              val rel = uuid + "/" + top.relativize(f).toString
              if (!retainedFilePaths.contains(rel) &&
                  Files.getLastModifiedTime(f).toMillis <= ageCutoff) {
                bytesFreed += Files.size(f); dirsDeleted += 1
                if (!dryRun) Files.delete(f)
              }
            }
          }
        }
      }
    }
    // CDC and deletion-vector sidecars follow the same retention: a
    // sidecar referenced by no retained version's log entry is reclaimed
    // (with the same age floor protecting a concurrent writer that
    // staged its sidecar pre-commit)
    val retainedCdc: Set[String] = retainedEntries.flatMap(_.cdc).toSet
    val retainedDv: Set[String] =
      retainedEntries.flatMap(_.files.flatMap(_.dv)).toSet
    def sweepSidecars(root: Path, retainedRefs: Set[String]): Unit =
      if (Files.isDirectory(root)) {
        val sidecars = { val s = Files.list(root)
          try s.iterator().asScala.toSeq finally s.close() }
        sidecars.filter(Files.isDirectory(_)).foreach { d =>
          if (!retainedRefs.contains(d.getFileName.toString) && oldEnough(d)) {
            bytesFreed += sizeOf(d); dirsDeleted += 1; rmTree(d)
          }
        }
      }
    sweepSidecars(cdcRoot, retainedCdc)
    sweepSidecars(dvRoot, retainedDv)
    (dirsDeleted, bytesFreed)
  }

  /** OPTIMIZE analog: compact files below `targetFileSizeBytes` into
    * files of about that size (Delta's bin-packing OPTIMIZE — right-sized
    * files are untouched, so repeated OPTIMIZE on a growing table only
    * ever rewrites the new small files; an already-compacted table is a
    * no-op that burns no version). With `sortBy`/`zorderBy` the whole
    * snapshot is re-clustered instead — that is the point of those forms.
    * History is preserved, and [[vacuum]] then reclaims the fragments.
    * Partitioned tables hash-cluster rows so each partition compacts to
    * one file per write task that owns it (typically one).
    *
    * `partitions` (Delta's `OPTIMIZE … WHERE` analog) restricts the
    * rewrite to files whose partition values match ANY of the given
    * specs; a spec may name a subset of the partition columns (prefix
    * or partial match, like `WHERE year = 2024`). On a 100 TB table the
    * scoped form is how OPTIMIZE is actually run — compacting the day's
    * hot partition touches its files only, never the table.
    */
  def optimize(targetFileSizeBytes: Long = 128L * 1024 * 1024,
               sortBy: Seq[String] = Nil,
               zorderBy: Seq[String] = Nil,
               partitions: Seq[Map[String, Any]] = Nil,
               curve: String = "zorder"): Unit =
    optimizeFrom(latestEntry, targetFileSizeBytes, sortBy, zorderBy,
      partitions, curve)

  /** [[optimize]] against an explicit base snapshot (separated so the
    * concurrent-commit behavior is testable): compaction rewrites rows
    * without changing them, so a concurrent APPEND commutes — the rebase
    * keeps the appended files alongside the compacted rewrite (Delta's
    * OPTIMIZE-vs-append rule). A concurrent commit that REMOVED one of
    * the compacted files (MERGE/DELETE/UPDATE) still raises: its rewrite
    * would be lost.
    */
  private[tables] def optimizeFrom(e: LogEntry,
               targetFileSizeBytes: Long,
               sortBy: Seq[String],
               zorderBy: Seq[String],
               partitions: Seq[Map[String, Any]] = Nil,
               curve: String = "zorder"): Unit = {
    require(targetFileSizeBytes > 0)
    require(sortBy.isEmpty || zorderBy.isEmpty,
      "sortBy and zorderBy are mutually exclusive")
    require(curve == "zorder" || curve == "hilbert",
      s"clustering curve must be 'zorder' or 'hilbert', got '$curve'")
    require(partitions.isEmpty || e.partitionColumns.nonEmpty,
      "partition-scoped OPTIMIZE requires a partitioned table")
    partitions.foreach { spec =>
      val unknown = spec.keySet -- e.partitionColumns.toSet
      require(unknown.isEmpty,
        s"OPTIMIZE WHERE references non-partition column(s): " +
          s"${unknown.mkString(", ")} — only partition columns prune files " +
          "without reading them")
      require(spec.nonEmpty, "empty partition spec")
    }
    // each spec becomes its k=v segments; a file is in scope when some
    // spec's segments all appear in its leaf-dir suffix (partial specs
    // match every sub-partition, like Delta's partition predicates)
    val specSegs: Seq[Set[String]] = partitions.map(spec =>
      spec.map { case (k, v) => ManagedTable.partitionSegment(k, v) }.toSet)
    val inScope: FileStat => Boolean =
      if (specSegs.isEmpty) _ => true
      else { f =>
        val segs = ManagedTable.leafSuffix(f.leafDir).split("/").toSet
        specSegs.exists(_.subsetOf(segs))
      }
    require(partitions.isEmpty || e.files.nonEmpty,
      "partition-scoped OPTIMIZE needs per-file stats (legacy snapshot " +
        "without a file list — run a full OPTIMIZE first)")
    // Pure compaction is INCREMENTAL (Delta's bin-packing OPTIMIZE):
    // only files below the size target are rewritten; right-sized files
    // stay verbatim in the snapshot. On a 100 TB table that has been
    // compacted before, an OPTIMIZE after a day of small appends
    // rewrites the day's files, not the table. sortBy/zorderBy rewrites
    // stay global — re-clustering the whole snapshot is their point.
    if (sortBy.isEmpty && zorderBy.isEmpty && e.files.nonEmpty) {
      // dv-bearing files join the compaction set REGARDLESS of size:
      // rewriting them through the masked read materializes their
      // deletion vectors, so OPTIMIZE is always a working
      // materialization path (exportDelta points refused DV snapshots
      // here), even when every file is already right-sized.
      val small = e.files.filter(f =>
        inScope(f) && (f.bytes < targetFileSizeBytes || f.dv.isDefined))
      if (small.size < 2 && !small.exists(_.dv.isDefined))
        return // nothing worth compacting, no commit
      val n = math.max(1,
        math.ceil(small.map(_.bytes).sum.toDouble / targetFileSizeBytes).toInt)
      val df = readFilesDF(small, e.schema, e.version)
      val compacted =
        if (e.partitionColumns.isEmpty) df.repartition(n)
        else df.repartition(n, e.partitionColumns.map(col): _*)
      replaceFiles(small.map(_.path).toSet, compacted,
        operation = "OPTIMIZE", base = e, addedMayMatch = _ => false)
      return
    }
    val scopeFiles = e.files.filter(inScope)
    if (partitions.nonEmpty && scopeFiles.isEmpty) return // nothing matches
    val baseBytes =
      if (scopeFiles.nonEmpty) scopeFiles.map(_.bytes).sum
      else detail.sizeInBytes
    val numFiles = math.max(1,
      math.ceil(baseBytes.toDouble / targetFileSizeBytes).toInt)
    val df =
      if (partitions.isEmpty) snapshotDF(e)
      else readFilesDF(scopeFiles, e.schema, e.version)
    val ordered =
      if (zorderBy.nonEmpty) {
        // Z-ORDER rewrite (Delta OPTIMIZE ZORDER analog): range-shuffle +
        // sort by the interleaved-bucket z-value so EVERY clustered
        // column gets tight per-file min/max bounds in the snapshot's
        // file stats, where a lexicographic sort only bounds the leading
        // column. The quantile sketch is one bounded-size pass; the
        // boundaries ride the expression as a broadcast-like constant.
        // On a PARTITIONED table the range shuffle leads with the
        // partition columns, so each partition's files z-cluster
        // internally (Delta's per-partition ZORDER) while partition
        // pruning keeps working unchanged.
        require(zorderBy.forall(c => !e.partitionColumns.contains(c)),
          "zorderBy columns must not be partition columns (those prune " +
            "via the partition value already)")
        val zc = ManagedTable.clusterColumn(df, zorderBy, curve)
        val shuffleKeys = e.partitionColumns.map(col) :+ col("__graft_z")
        df.withColumn("__graft_z", zc)
          .repartitionByRange(numFiles, shuffleKeys: _*)
          .sortWithinPartitions(shuffleKeys: _*)
          .drop("__graft_z")
      } else if (sortBy.nonEmpty && e.partitionColumns.isEmpty) {
        // RANGE-partition by the sort key, not round-robin: with a random
        // repartition every rewritten file spans the key's full range and
        // the per-file min/max stats prune nothing — the sort must govern
        // which FILE a row lands in, not just the order inside one.
        df.repartitionByRange(numFiles, sortBy.map(col): _*)
          .sortWithinPartitions(sortBy.map(col): _*)
      } else {
        val compacted =
          if (e.partitionColumns.isEmpty) df.repartition(numFiles)
          else df.repartition(numFiles, e.partitionColumns.map(col): _*)
        // clustering the rewrite tightens parquet row-group min/max bounds
        // on the sort columns, so later filtered scans skip whole row
        // groups — the same reason Delta OPTIMIZE ZORDER exists
        if (sortBy.isEmpty) compacted
        else compacted.sortWithinPartitions(sortBy.map(col): _*)
      }
    if (e.files.nonEmpty)
      // compaction changes no rows, so concurrent appends commute
      // (addedMayMatch = never): the rebase keeps their files alongside
      // the compacted rewrite. Concurrent removals of a compacted file
      // (MERGE/DELETE) still raise inside replaceFiles. Scoped runs
      // replace only the in-scope files; out-of-scope files stay verbatim.
      replaceFiles(scopeFiles.map(_.path).toSet, ordered,
        operation = "OPTIMIZE", base = e, addedMayMatch = _ => false,
        alreadyOrdered = true)
    else {
      val dirs = writeData(ordered, e.partitionColumns, e.properties,
        alreadyOrdered = true, tableSchema = e.schema)
      val newStats = statsFor(dirs, e.schema)
      commit(LogEntry(e.version + 1, System.currentTimeMillis(), "OPTIMIZE",
        dirs, e.schema, e.partitionColumns, e.properties, newStats,
        metrics = ManagedTable.writeMetrics(newStats)))
    }
  }

  /** Row-level change feed between two versions (Delta Change Data Feed
    * analog): for every commit in `(fromVersion, toVersion]`, changed
    * rows surface as `_change_type` `'insert'` / `'delete'` /
    * `'update_preimage'` / `'update_postimage'`, tagged with
    * `_commit_version` and `_commit_timestamp`. OPTIMIZE commits change
    * no rows and emit nothing.
    *
    * On tables with the `graft.enableChangeDataFeed` property (Delta's
    * `delta.enableChangeDataFeed` analog), DELETE/UPDATE **and MERGE**
    * commits persist their net change rows as a parquet sidecar
    * (`_graft_cdc/<uuid>`, recorded in the commit's log entry) at write
    * time — the matched pre/post images were already in hand there, so
    * in net mode the feed for those commits is a pure sidecar READ: no
    * re-derivation, cost O(changed rows) not O(rewritten files), and for
    * MERGE the labels are clause-accurate (`update_*` for update-clause
    * rows, where the derivation below can only approximate them as
    * delete+insert pairs).
    * Commits without a sidecar (appends, overwrites, RESTORE,
    * pre-property commits, and `net = false` raw mode) derive the delta
    * from the per-commit file snapshots — EXCEPT deletion-vector DML
    * commits, whose deletes are invisible to the path diff; those read
    * their (unconditional) sidecar in every mode, and a SIDECAR-LESS
    * vector change (RESTORE across a DV commit) derives by diffing the
    * masked rows of just the re-vectored files: rows of files the commit ADDED
    * vs REMOVED, with `net = true` cancelling value-identical
    * delete/insert pairs — the carryover rows a file-granular rewrite
    * copies unchanged — via `exceptAll` joins bounded by the commit's
    * rewritten files.
    *
    * Net semantics (sidecar and derived paths agree exactly — the
    * carryover multiset cancels, so `(carry ⊎ post) \ (carry ⊎ pre) =
    * post \ pre`): a DELETE contributes exactly its deleted rows, an
    * UPDATE its pre-image deletes + post-image inserts. Known deviation
    * from Delta CDF: an UPDATE whose set expressions leave a matched row
    * value-identical emits NOTHING for that row in net mode, where Delta
    * emits an `update_preimage`/`update_postimage` pair regardless of
    * value change. Applying the feed to the `fromVersion` snapshot (add
    * inserts, remove deletes, per commit in order) reproduces the
    * `toVersion` snapshot either way.
    *
    * Requires the commits' sidecar/data files to be within the vacuum
    * retention window — reclaimed versions fail loud, like time travel.
    */
  def changes(fromVersion: Long, toVersion: Long = -1L,
              net: Boolean = true): DataFrame =
    changesVia(fromVersion, toVersion, net, useSidecar = true)

  /** [[changes]] with the sidecar fast path switchable, so tests can pin
    * sidecar-read feed ≡ snapshot-derived feed on the same commits.
    */
  private[tables] def changesVia(fromVersion: Long, toVersion: Long,
                                 net: Boolean, useSidecar: Boolean): DataFrame = {
    val to = if (toVersion < 0) latestVersion else toVersion
    // fromVersion = -1 streams the table's FULL history: version 0's
    // CREATE surfaces as pure inserts (its "previous snapshot" is empty)
    require(fromVersion >= -1 && fromVersion <= to && to <= latestVersion,
      s"changes range [$fromVersion, $to] out of [-1, $latestVersion]")
    val toSchema = readEntry(to).schema
    def cdfCols(df: DataFrame, typ: String, v: Long, tsMs: Long): DataFrame =
      project(df, toSchema)
        .withColumn("_change_type", lit(typ))
        .withColumn("_commit_version", lit(v))
        .withColumn("_commit_timestamp", lit(new java.sql.Timestamp(tsMs)))
    val frames = ((fromVersion + 1) to to).flatMap { v =>
      val e = readEntry(v)
      lazy val p =
        if (v == 0) e.copy(dirs = Nil, files = Nil) // before v0: empty table
        else readEntry(v - 1)
      // at-commit sidecar: the net change rows, already labeled — read
      // them back with the commit's schema (explicit, so an empty
      // change set needs no footer inference) and stamp the commit id
      def sidecarFrames: Seq[DataFrame] = {
        val dirs = e.cdc.map(cdcRoot.resolve)
        dirs.find(!Files.isDirectory(_)).foreach { d =>
          throw new IllegalStateException(
            s"Version $v of $location references vacuumed change data " +
              s"($d); changes() is limited to the vacuum retention window")
        }
        val sidecarSchema = StructType(
          e.schema.fields :+ StructField("_change_type", StringType))
        val sdf = spark.read.schema(sidecarSchema)
          .parquet(dirs.map(_.toString): _*)
        val cols = toSchema.fields.map { f =>
          if (sidecarSchema.fieldNames.contains(f.name))
            col(f.name).cast(f.dataType).as(f.name)
          else lit(null).cast(f.dataType).as(f.name)
        } :+ col("_change_type")
        Seq(sdf.select(cols.toIndexedSeq: _*)
          .withColumn("_commit_version", lit(v))
          .withColumn("_commit_timestamp",
            lit(new java.sql.Timestamp(e.timestampMs))))
      }
      // a deletion-vector commit changes rows WITHOUT changing file
      // paths (DELETE) or with post-image adds only (UPDATE) — when a
      // sidecar exists (CDF-enabled tables) it is authoritative, in raw
      // mode too (for a DV commit raw = net, there are no carryover rows
      // to include); without one, the derivation below diffs the masked
      // rows of the vector-swapped files
      lazy val dvOnly = v > 0 && {
        val prevDv = p.files.map(f => f.path -> f.dv).toMap
        e.files.exists(f => prevDv.get(f.path).exists(_ != f.dv))
      }
      if (e.operation == "OPTIMIZE") Nil // rewrite-only: no data change
      else if ((net && useSidecar || dvOnly) && e.cdc.nonEmpty) sidecarFrames
      else {
        if (e.files.isEmpty && e.dirs.nonEmpty || p.files.isEmpty && p.dirs.nonEmpty)
          throw new IllegalStateException(
            s"changes at $location requires stats-bearing snapshots; " +
              s"version ${if (e.files.isEmpty) v else v - 1} predates file stats")
        val pf = p.files.map(f => f.path -> f).toMap
        val ef = e.files.map(f => f.path -> f).toMap
        val added = (ef.keySet diff pf.keySet).toSeq.sorted.map(ef)
        val removed = (pf.keySet diff ef.keySet).toSeq.sorted.map(pf)
        // a commit can also change rows by swapping a file's deletion
        // vector with NO sidecar (RESTORE across a DV commit): derive
        // that delta by diffing the masked rows of just those files —
        // rows visible only after = inserts (a dropped vector
        // re-exposes them), visible only before = deletes
        val dvChanged = (ef.keySet intersect pf.keySet).toSeq.sorted
          .filter(k => ef(k).dv != pf(k).dv)
        val (insDv, delDv) =
          if (dvChanged.isEmpty) (None, None)
          else {
            val pre = project(
              readFilesDF(dvChanged.map(pf), p.schema, v - 1), toSchema)
            val post = project(
              readFilesDF(dvChanged.map(ef), e.schema, v), toSchema)
            (Some(post.exceptAll(pre)), Some(pre.exceptAll(post)))
          }
        def fuse(a: Option[DataFrame], b: Option[DataFrame]) = (a, b) match {
          case (Some(x), Some(y)) => Some(x.unionByName(y))
          case (x, y) => x.orElse(y)
        }
        val ins = fuse(
          if (added.isEmpty) None
          else Some(project(readFilesDF(added, e.schema, v), toSchema)),
          insDv)
        val del = fuse(
          if (removed.isEmpty) None
          else Some(project(readFilesDF(removed, p.schema, v - 1), toSchema)),
          delDv)
        val (insNet, delNet) =
          if (!net) (ins, del)
          else (ins, del) match {
            case (Some(i), Some(d)) => (Some(i.exceptAll(d)), Some(d.exceptAll(i)))
            case other => other
          }
        // UPDATE commits label their delta as pre/post images (Delta
        // CDF's types) — the operation is known from the log
        val (insTyp, delTyp) =
          if (e.operation == "UPDATE") ("update_postimage", "update_preimage")
          else ("insert", "delete")
        insNet.map(cdfCols(_, insTyp, v, e.timestampMs)).toSeq ++
          delNet.map(cdfCols(_, delTyp, v, e.timestampMs)).toSeq
      }
    }
    if (frames.isEmpty)
      cdfCols(spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], toSchema), "insert", 0L, 0L).limit(0)
    else {
      // balanced union: a long commit range (catch-up stream, audit over
      // hundreds of versions) would otherwise build an O(commits)-deep
      // left-leaning plan that Catalyst re-walks quadratically
      def union(fs: Seq[DataFrame]): DataFrame =
        if (fs.size == 1) fs.head
        else {
          val (l, r) = fs.splitAt(fs.size / 2)
          union(l).unionByName(union(r))
        }
      union(frames)
    }
  }

  /** DELETE (Delta `DeltaTable.delete` analog — the reference's users get
    * this from delta-spark): removes rows where `conditionSql` is TRUE
    * (NULL keeps the row, as in SQL DELETE). File-granular: only files
    * whose min/max bounds may hold a matching row are rewritten; every
    * other file is kept verbatim in the new snapshot, and a commit race
    * rebases when the intervening commits are provably disjoint (same
    * rules as the file-pruned MERGE). Returns the number of rows deleted;
    * a delete that matches nothing commits nothing.
    */
  def delete(conditionSql: String): Long = {
    val cond = expr(conditionSql)
    val parsed = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
      .parseExpression(conditionSql)
    val base = latestEntry
    if (dvEnabled(base) && base.files.nonEmpty)
      return dvDml("DELETE", parsed,
        matchedOf = df => df.filter(coalesce(cond, lit(false))),
        changesOf = m => m.withColumn("_change_type", lit("delete")),
        replacementOf = None, base = base)
    dmlRewrite("DELETE", Some(parsed),
      matchedOf = df => df.filter(coalesce(cond, lit(false))),
      rewriteOf = df => df.filter(!coalesce(cond, lit(false))),
      // a DELETE's net change feed IS its matched rows
      changesOf = df => df.filter(coalesce(cond, lit(false)))
        .withColumn("_change_type", lit("delete")))
  }

  private[tables] def dvEnabled(e: ManagedTable.LogEntry): Boolean =
    e.properties.get(ManagedTable.dvPropKey).contains("true")

  /** Merge-on-read DML core (Delta deletion vectors): instead of
    * rewriting every bounds-touched file, record the matched rows'
    * (file, position) coordinates in a `_graft_dv/<uuid>` sidecar and
    * point the touched files' snapshot entries at it — O(matched rows)
    * written. For UPDATE, `replacementOf` additionally appends the
    * matched rows' post-images as fresh files (vector out the old
    * positions, append the new rows — Delta's DV update shape). A
    * touched file's new vector carries its prior vector's rows forward,
    * so only the LATEST ref per file is ever read. The CDC sidecar is
    * written only when the table captures change data (the same
    * `graft.enableChangeDataFeed` opt-in as the rewrite path — the
    * UPDATE capture's pre/post `exceptAll` derivation is four shuffles a
    * non-CDF table must not pay); [[changes]] over a sidecar-less DV
    * commit falls back to diffing the masked rows of the vector-swapped
    * files, the same derivation RESTORE-across-DV already needs.
    *
    * Conflicts: a rebase keeps intervening commits when they neither
    * rewrote NOR re-vectored a touched file and their added files cannot
    * match the predicate — two DV commits on the same file must
    * serialize (the second's vector would silently drop the first's
    * rows), same-file DML rewrites likewise.
    */
  private def dvDml(op: String,
                    parsed: org.apache.spark.sql.catalyst.expressions.Expression,
                    matchedOf: DataFrame => DataFrame,
                    changesOf: DataFrame => DataFrame,
                    replacementOf: Option[DataFrame => DataFrame],
                    base: LogEntry): Long = {
    import ManagedTable.{FP, POS}
    // bounds first (free), then bloom proofs (footer reads) — a point
    // DELETE/UPDATE on a bloom-indexed key rewrites vectors for only
    // the files that may actually hold the key
    val touched = BloomSkip.prune(spark.sessionState.newHadoopConf(),
      dataDir, FileStats.prune(base.files, base.schema, parsed),
      base.schema, parsed, base.properties)
    if (touched.isEmpty) return 0L
    val touchedPaths = touched.map(_.path).toSet
    // candidate rows with physical coordinates, PRIOR vectors applied
    // (already-deleted rows must not re-match)
    val matched = matchedOf(readFilesPosDF(touched, base.schema, base.version))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = matched.count()
      if (n == 0) return 0L
      // new vector = prior vectors' rows for the touched files ∪ matched
      val priorRefs = touched.flatMap(_.dv).distinct
      val prior =
        if (priorRefs.isEmpty)
          spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
            ManagedTable.dvSchema)
        else spark.read.schema(ManagedTable.dvSchema)
          .parquet(priorRefs.map(r => dvRoot.resolve(r).toString): _*)
          .filter(col("path").isInCollection(touchedPaths))
      val dvId = UUID.randomUUID().toString
      // sharded sidecar write: one task per ~rowsPerShard mask rows,
      // partitioned by (data-file path, pos bucket) — see
      // [[ManagedTable.dvShardKeys]]: a bulk DELETE must not serialize
      // O(deleted rows) through one task, even when the whole mask
      // lands in ONE large data file. Prior mass is known from the
      // touched files' dvRows (legacy entries without the field just
      // undercount the estimate, which only makes shards larger,
      // never wrong).
      val mask =
        prior.unionByName(matched.select(col(FP).as("path"), col(POS).as("pos")))
      val nShards = ManagedTable.dvShardCount(
        spark, n + touched.flatMap(_.dvRows).sum)
      (if (nShards == 1) mask.coalesce(1)
       else mask.repartition(nShards, ManagedTable.dvShardKeys(spark): _*))
        .write.parquet(dvRoot.resolve(dvId).toString)
      // per-file masked counts off the just-written sidecar (one read of
      // a file sized O(deleted rows)) — the metadata-only numRows input
      val dvRowsByPath: Map[String, Long] = spark.read
        .schema(ManagedTable.dvSchema).parquet(dvRoot.resolve(dvId).toString)
        .groupBy("path").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val cdc =
        if (cdfEnabled(base)) writeCdcSidecar(changesOf(matched), base.schema)
        else Nil
      // post-image appends (UPDATE): sized by rows, not the session's
      // shuffle parallelism — a small update must not write 32 fragments
      val newStats = replacementOf.fold(Seq.empty[FileStat]) { rep =>
        val posts = project(rep(matched), base.schema)
          .coalesce(math.max(1L, n / 1000000L).toInt)
        val dirs = writeData(posts, base.partitionColumns,
          base.properties, tableSchema = base.schema)
        statsFor(dirs, base.schema)
      }
      var attempts = 0
      while (true) {
        val cur = latestEntry
        if (cur.version > base.version) {
          interveningDeltas(base.version, base, cur, op).foreach {
            case (v, (_, removedBy, added)) =>
              val clash = removedBy intersect touchedPaths
              if (clash.nonEmpty) throw new ConcurrentCommitException(
                s"$op at $location (base v${base.version}) conflicts with " +
                  s"concurrent commit v$v: it rewrote ${clash.head}")
              if (added.nonEmpty &&
                  FileStats.prune(added, base.schema, parsed).nonEmpty)
                throw new ConcurrentCommitException(
                  s"$op at $location (base v${base.version}) conflicts with " +
                    s"concurrent commit v$v: it added files that may match")
          }
          val curDv = cur.files.map(f => f.path -> f.dv).toMap
          touched.foreach { f =>
            if (curDv.get(f.path).exists(_ != f.dv))
              throw new ConcurrentCommitException(
                s"$op at $location (base v${base.version}) conflicts with " +
                  s"a concurrent deletion-vector update on ${f.path}")
          }
        }
        val newFiles = cur.files.map(f =>
          if (touchedPaths(f.path))
            f.copy(dv = Some(dvId), dvRows = Some(
              dvRowsByPath.getOrElse(f.path, 0L)))
          else f) ++ newStats
        val dirs = (cur.dirs ++ newStats.map(_.leafDir)).distinct
        try {
          commit(LogEntry(cur.version + 1, System.currentTimeMillis(),
            op, dirs, cur.schema, cur.partitionColumns,
            cur.properties, newFiles,
            metrics = ManagedTable.writeMetrics(newStats) ++ Map(
              (if (op == "DELETE") "numDeletedRows" else "numUpdatedRows")
                -> n.toString,
              "numDeletionVectorsUpdated" -> touched.size.toString),
            cdc = cdc))
          return n
        } catch {
          case c: ConcurrentCommitException =>
            attempts += 1
            if (attempts > 10) throw c
        }
      }
      n // unreachable
    } finally { matched.unpersist(); () }
  }

  /** UPDATE (Delta `DeltaTable.update` analog): sets each column in `set`
    * to its SQL expression (evaluated over the pre-update row) on rows
    * where `conditionSql` is TRUE (absent = all rows; NULL skips the row).
    * File-granular like [[delete]]. Returns the number of rows updated.
    */
  def update(set: Map[String, String],
             conditionSql: Option[String] = None): Long = {
    require(set.nonEmpty, "update requires at least one column to set")
    val schema0 = latestEntry.schema
    set.keys.foreach { k =>
      require(schema0.fieldNames.contains(k),
        s"update column $k is not in the table schema " +
          schema0.fieldNames.mkString("[", ", ", "]"))
    }
    val cond = conditionSql.map(expr).getOrElse(lit(true))
    val parsed = conditionSql.map(
      org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression)
    val base = latestEntry
    if (dvEnabled(base) && base.files.nonEmpty) {
      // merge-on-read UPDATE: vector out the matched positions, append
      // their post-images as fresh files — O(matched), no file rewrite
      def applySet(df: DataFrame): DataFrame =
        df.select(base.schema.fields.map { f =>
          set.get(f.name) match {
            case Some(e) => expr(e).cast(f.dataType).as(f.name)
            case None => col(f.name)
          }
        }.toIndexedSeq: _*)
      return dvDml("UPDATE",
        parsed.getOrElse(
          org.apache.spark.sql.catalyst.expressions.Literal.TrueLiteral),
        matchedOf = df => df.filter(coalesce(cond, lit(false))),
        changesOf = m => {
          // per-row no-op prefilter BEFORE the exceptAll shuffles: a row
          // whose set expressions reproduce its own values contributes
          // identical elements to both sides, so dropping it from both
          // preserves the multiset difference exactly — and only
          // genuinely-changed rows pay the shuffle (on a mostly-no-op
          // UPDATE over a big table this is the difference between
          // shuffling the matched set and shuffling the changed set)
          val changed = set.map { case (c, e) =>
            !(expr(e).cast(base.schema(c).dataType) <=> col(c))
          }.reduce(_ || _)
          val pre = project(m, base.schema).filter(changed)
          val post = applySet(pre)
          post.exceptAll(pre).withColumn("_change_type", lit("update_postimage"))
            .unionByName(pre.exceptAll(post)
              .withColumn("_change_type", lit("update_preimage")))
        },
        replacementOf = Some(m => applySet(project(m, base.schema))),
        base = base)
    }
    dmlRewrite("UPDATE", parsed,
      matchedOf = df => df.filter(coalesce(cond, lit(false))),
      rewriteOf = df => df.select(df.schema.fields.map { f =>
        set.get(f.name) match {
          case Some(e) => when(coalesce(cond, lit(false)),
              expr(e).cast(f.dataType)).otherwise(col(f.name)).as(f.name)
          case None => col(f.name)
        }
      }.toIndexedSeq: _*),
      // net pre/post images over the MATCHED rows only: value-identical
      // pairs (no-op set expressions) cancel here exactly as the derived
      // path's carryover cancellation would — see the changes() scaladoc
      changesOf = df => {
        // same per-row no-op prefilter as the DV path above: identical
        // pre/post pairs cancel in exceptAll anyway, so dropping them
        // first is a pure shuffle-volume reduction
        val changed = set.map { case (c, e) =>
          !(expr(e).cast(df.schema(c).dataType) <=> col(c))
        }.reduce(_ || _)
        val pre = df.filter(coalesce(cond, lit(false))).filter(changed)
        val post = pre.select(pre.schema.fields.map { f =>
          set.get(f.name) match {
            case Some(e) => expr(e).cast(f.dataType).as(f.name)
            case None => col(f.name)
          }
        }.toIndexedSeq: _*)
        post.exceptAll(pre).withColumn("_change_type", lit("update_postimage"))
          .unionByName(
            pre.exceptAll(post).withColumn("_change_type", lit("update_preimage")))
      })
  }

  /** Whether `e`'s snapshot has CDC sidecar capture enabled (the
    * `graft.enableChangeDataFeed` table property).
    */
  private[tables] def cdfEnabled(e: ManagedTable.LogEntry): Boolean =
    e.properties.get(ManagedTable.cdfPropKey).contains("true")

  /** Write labeled net change rows (`schema` columns + `_change_type`)
    * as a CDC sidecar; returns the sidecar reference for the commit's
    * log entry. Shared by the DML and MERGE capture paths.
    */
  private[tables] def writeCdcSidecar(changes: DataFrame,
                                      schema: StructType): Seq[String] = {
    val aligned = changes.select((schema.fields.map(f =>
      col(f.name).cast(f.dataType).as(f.name)) :+
      col("_change_type").cast(StringType).as("_change_type")).toIndexedSeq: _*)
    val id = UUID.randomUUID().toString
    aligned.write.parquet(cdcRoot.resolve(id).toString)
    Seq(id)
  }

  /** Shared DELETE/UPDATE core: prune candidate files by the condition's
    * bounds, rewrite only them, keep the rest verbatim. `matchedOf` counts
    * the affected rows (the no-op guard and the return value), `rewriteOf`
    * produces the candidates' replacement rows, and `changesOf` their
    * labeled net change rows — persisted as a `_graft_cdc/<uuid>` sidecar
    * so [[changes]] reads the feed instead of re-deriving it. All three
    * run over the SAME persisted candidates frame, so the sidecar costs
    * one extra bounded pass over the touched files, never the table.
    *
    * Sidecar capture is opt-in via the `graft.enableChangeDataFeed`
    * table property (Delta's `delta.enableChangeDataFeed`): without it,
    * DML pays nothing extra and [[changes]] falls back to snapshot
    * derivation — still correct, just the expensive way.
    */
  private def dmlRewrite(op: String,
                         parsed: Option[org.apache.spark.sql.catalyst.expressions.Expression],
                         matchedOf: DataFrame => DataFrame,
                         rewriteOf: DataFrame => DataFrame,
                         changesOf: DataFrame => DataFrame): Long = {
    val base = latestEntry
    def writeCdc(candidates: DataFrame): Seq[String] =
      if (!cdfEnabled(base)) Nil
      else writeCdcSidecar(changesOf(candidates), base.schema)
    if (base.files.nonEmpty) {
      val touched = parsed.fold(base.files)(p =>
        BloomSkip.prune(spark.sessionState.newHadoopConf(), dataDir,
          FileStats.prune(base.files, base.schema, p), base.schema, p,
          base.properties))
      if (touched.isEmpty) return 0L // bounds/blooms prove nothing matches
      val candidates = scanFilesDF(touched, base)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val matched = matchedOf(candidates).count()
        if (matched == 0) return 0L // no commit, no version burned
        // Delta's ConcurrentAppendException rule: a concurrently-added
        // file conflicts only if this DML would have read it — i.e. its
        // bounds survive the same pruning predicate.
        replaceFiles(touched.map(_.path).toSet, rewriteOf(candidates),
          operation = op, base = base,
          addedMayMatch = added => parsed.fold(true)(p =>
            FileStats.prune(added, base.schema, p).nonEmpty),
          extraMetrics = Map(
            (if (op == "DELETE") "numDeletedRows" else "numUpdatedRows")
              -> matched.toString),
          cdc = writeCdc(candidates))
        matched
      } finally { candidates.unpersist(); () }
    } else {
      // legacy (pre-stats) snapshot: full read-modify-write
      val df = snapshotDF(base)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val matched = matchedOf(df).count()
        if (matched == 0) return 0L
        overwriteFrom(base.version, rewriteOf(df), op, cdc = writeCdc(df))
        matched
      } finally { df.unpersist(); () }
    }
  }

  /** ALTER TABLE ADD COLUMNS analog: widen the schema by `fields`
    * (forced nullable — existing rows read back NULL for them, through
    * the same null-fill path as mergeSchema appends). Re-using an
    * existing name with a different type raises; a no-op widening
    * commits nothing. Concurrent commits rebase — schema widening
    * commutes with data commits (the conflict rules of pruned writers
    * in flight still raise on THEIR side when they see the schema
    * change, which is the conservative direction).
    */
  def addColumns(fields: Seq[StructField]): Unit = {
    val nullable = fields.map(_.copy(nullable = true))
    var attempts = 0
    while (true) {
      val e = latestEntry
      val newSchema = ManagedTable.unionSchema(e.schema, StructType(nullable))
      if (newSchema == e.schema) return
      ManagedTable.guardResurrect(e,
        newSchema.fieldNames.filterNot(e.schema.fieldNames.contains))
      try {
        // drop per-commit payloads (see restore()): inherited cdc would
        // double-emit the previous commit's change rows.
        commit(e.copy(version = e.version + 1,
          timestampMs = System.currentTimeMillis(),
          operation = "ADD COLUMNS", schema = newSchema,
          metrics = Map.empty, cdc = Nil))
        return
      } catch {
        case c: ConcurrentCommitException =>
          attempts += 1
          if (attempts > 10) throw c
      }
    }
  }

  def setProperties(props: Map[String, String]): Unit = {
    val e = latestEntry
    commit(e.copy(version = e.version + 1,
      timestampMs = System.currentTimeMillis(),
      operation = "SET TBLPROPERTIES", properties = e.properties ++ props,
      metrics = Map.empty, cdc = Nil))
  }

  /** Drop table properties by key (absent keys are a no-op, as in
    * Delta's `UNSET TBLPROPERTIES IF EXISTS`).
    */
  def unsetProperties(keys: Seq[String]): Unit = {
    val e = latestEntry
    if (!keys.exists(e.properties.contains)) return
    commit(e.copy(version = e.version + 1,
      timestampMs = System.currentTimeMillis(),
      operation = "UNSET TBLPROPERTIES", properties = e.properties -- keys,
      metrics = Map.empty, cdc = Nil))
  }

  /** Logical ALTER TABLE DROP COLUMN: a schema-only commit — data files
    * keep the column's bytes, every read projects it away. The dropped
    * NAME is tombstoned (`graft.droppedColumns`) and re-adding it
    * refuses: without per-column physical ids (Delta requires column
    * mapping for DROP COLUMN for exactly this reason), a re-added
    * same-name column would silently RESURRECT the old values from
    * pre-drop files. Partition columns and columns referenced by a CHECK
    * constraint refuse (drop the constraint first).
    */
  def dropColumn(colName: String): Unit = {
    val e = latestEntry
    require(e.schema.fieldNames.contains(colName),
      s"no such column: $colName")
    require(!e.partitionColumns.contains(colName),
      s"cannot drop partition column `$colName`")
    require(e.schema.fields.length > 1,
      s"cannot drop the table's only column")
    val newSchema = StructType(e.schema.fields.filterNot(_.name == colName))
    val probe = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], newSchema)
    // the column's OWN NOT NULL bookkeeping retires with it; any other
    // constraint referencing the column must be dropped first
    checkConstraints.filterNot(_._1 == "notnull_" + colName)
      .foreach { case (n, ex) =>
        val resolves =
          try { probe.select(expr(ex)); true }
          catch { case _: org.apache.spark.sql.AnalysisException => false }
        if (!resolves)
          throw new graft.GraftValueError(
            s"cannot drop `$colName`: CHECK constraint `$n` ($ex) references " +
              "it — drop the constraint first")
      }
    val dropped = (e.properties.get(ManagedTable.droppedColsKey)
      .map(_.split(",").toSeq).getOrElse(Nil) :+ colName).distinct
    commit(e.copy(version = e.version + 1,
      timestampMs = System.currentTimeMillis(),
      operation = "DROP COLUMN", schema = newSchema,
      properties = e.properties - ManagedTable.notNullKey(colName) +
        (ManagedTable.droppedColsKey -> dropped.mkString(",")),
      metrics = Map.empty, cdc = Nil))
  }

  /** FSCK (Delta's `FSCK REPAIR TABLE` analog): report snapshot file
    * entries whose data file is MISSING on disk (out-of-band deletion,
    * partial restore of a backup). With `repair = true` the missing
    * entries are dropped from the snapshot in one commit — their rows
    * are lost, which is the point: every read fails until the snapshot
    * matches reality. A missing DELETION-VECTOR sidecar is reported but
    * never repaired: dropping a vector would silently RESURRECT its
    * deleted rows.
    */
  def fsck(repair: Boolean = false): Seq[String] = {
    val e = latestEntry
    require(e.files.nonEmpty || e.dirs.isEmpty,
      "fsck requires a stats-bearing snapshot (run OPTIMIZE once on " +
        "legacy tables)")
    val missingData = e.files.filter(f =>
      !Files.isRegularFile(dataDir.resolve(f.path)))
    val missingDv = e.files.flatMap(_.dv).distinct
      .filter(r => !Files.isDirectory(dvRoot.resolve(r)))
      .map(r => s"_graft_dv/$r")
    if (repair && missingDv.nonEmpty)
      throw new graft.GraftValueError(
        s"fsck cannot repair missing deletion vectors (${missingDv.take(3)
          .mkString(", ")}): dropping a vector would resurrect its " +
          "deleted rows — restore the sidecar or OPTIMIZE from a " +
          "restorable version")
    if (repair && missingData.nonEmpty) {
      val missingSet = missingData.map(_.path).toSet
      val kept = e.files.filterNot(f => missingSet(f.path))
      commit(e.copy(version = e.version + 1,
        timestampMs = System.currentTimeMillis(),
        operation = "FSCK", files = kept,
        dirs = kept.map(_.leafDir).distinct,
        metrics = Map("numRemovedFiles" -> missingData.size.toString),
        cdc = Nil))
    }
    missingData.map(_.path) ++ missingDv
  }

  /** The table's CHECK constraints, name → SQL expression (persisted as
    * `delta.constraints.<name>` properties — the convention the
    * reference's `constraint_append` discovers, `mack/__init__.py:658`).
    */
  def checkConstraints: Map[String, String] =
    latestEntry.properties.collect {
      case (k, v) if k.startsWith(ManagedTable.constraintPrefix) =>
        k.stripPrefix(ManagedTable.constraintPrefix) -> v
    }

  /** ADD CONSTRAINT … CHECK (Delta's `ALTER TABLE ADD CONSTRAINT`):
    * existing rows are validated FIRST (a constraint that the current
    * snapshot already violates must not be recorded — it would brand
    * valid history as corrupt), then the constraint is committed as a
    * table property. Every subsequent write — append, overwrite, MERGE,
    * UPDATE, streaming sink — enforces it per row inside its own scan
    * and fails loud on the first violating row. NULL results violate.
    */
  def addCheckConstraint(name: String, expression: String): Unit = {
    require(name.matches("[\\w]+"), s"constraint name must be word-like: $name")
    require(expression.trim.nonEmpty, "empty constraint expression")
    require(!name.startsWith("notnull_"),
      s"the notnull_* namespace is reserved for SET NOT NULL " +
        s"(use setNotNull(`${name.stripPrefix("notnull_")}`))")
    val key = ManagedTable.constraintPrefix + name
    require(!latestEntry.properties.contains(key),
      s"constraint `$name` already exists (drop it first)")
    val bad = toDF.filter(!(expr(expression) <=> true)).limit(1).collect()
    if (bad.nonEmpty)
      throw new graft.GraftValueError(
        s"cannot add CHECK constraint `$name` ($expression): existing row " +
          s"violates it: ${bad.head}")
    setProperties(Map(key -> expression))
  }

  /** ALTER COLUMN … SET NOT NULL (Delta analog): validates existing rows
    * first, then one commit flips the field's schema nullability (which
    * the reference's `constraint_append` discovers as a constraint,
    * `mack/__init__.py:664-667`) AND records a synthesized
    * `delta.constraints.notnull_<col>` check — so write-time enforcement
    * rides the same per-row gate as user CHECK constraints, with no
    * second representation to keep the write path aware of.
    */
  def setNotNull(colName: String): Unit = {
    val e = latestEntry
    val f = e.schema.fields.find(_.name == colName).getOrElse(
      throw new graft.GraftValueError(s"no such column: $colName"))
    if (!f.nullable) return
    val bad = toDF.filter(col(colName).isNull).limit(1).collect()
    if (bad.nonEmpty)
      throw new graft.GraftValueError(
        s"cannot SET NOT NULL on `$colName`: existing row has NULL: ${bad.head}")
    val newSchema = StructType(e.schema.fields.map(x =>
      if (x.name == colName) x.copy(nullable = false) else x))
    commit(e.copy(version = e.version + 1,
      timestampMs = System.currentTimeMillis(),
      operation = "SET NOT NULL", schema = newSchema,
      properties = e.properties +
        (ManagedTable.notNullKey(colName) -> s"`$colName` IS NOT NULL"),
      metrics = Map.empty, cdc = Nil))
  }

  /** ALTER COLUMN … DROP NOT NULL: nullable again, enforcement lifted. */
  def dropNotNull(colName: String): Unit = {
    val e = latestEntry
    val f = e.schema.fields.find(_.name == colName).getOrElse(
      throw new graft.GraftValueError(s"no such column: $colName"))
    if (f.nullable && !e.properties.contains(ManagedTable.notNullKey(colName)))
      return
    val newSchema = StructType(e.schema.fields.map(x =>
      if (x.name == colName) x.copy(nullable = true) else x))
    commit(e.copy(version = e.version + 1,
      timestampMs = System.currentTimeMillis(),
      operation = "DROP NOT NULL", schema = newSchema,
      properties = e.properties - ManagedTable.notNullKey(colName),
      metrics = Map.empty, cdc = Nil))
  }

  /** DROP CONSTRAINT; absent names raise unless `ifExists`. The
    * synthesized `notnull_<col>` constraints refuse here — dropping one
    * while the schema stayed non-nullable would leave a column whose
    * declared schema promises NOT NULL with no write-time enforcement
    * behind it; [[dropNotNull]] retires both representations together.
    */
  def dropCheckConstraint(name: String, ifExists: Boolean = false): Unit = {
    val key = ManagedTable.constraintPrefix + name
    if (!latestEntry.properties.contains(key)) {
      if (ifExists) return
      throw new graft.GraftValueError(s"no such constraint: $name")
    }
    if (name.startsWith("notnull_"))
      throw new graft.GraftValueError(
        s"`$name` is a SET NOT NULL constraint — " +
          s"use dropNotNull(`${name.stripPrefix("notnull_")}`) so the " +
          "schema nullability retires with it")
    unsetProperties(Seq(key))
  }

  /** Directory move + fresh log entry (reference rename_delta_table,
    * mack/__init__.py:696-737).
    */
  def rename(newLocation: String): ManagedTable = {
    val target = Paths.get(newLocation)
    require(!Files.exists(target), s"Target exists: $newLocation")
    Files.createDirectories(target.getParent)
    Files.move(Paths.get(location), target)
    new ManagedTable(spark, newLocation)
  }

  /** Zero-copy CLONE (Delta `CLONE` analog): a new independent table
    * whose v0 is this table's current snapshot. Data files and deletion
    * vectors HARD-LINK into the clone — O(metadata) regardless of table
    * size, and, unlike Delta's shallow clone, the clone does NOT break
    * when the source is vacuumed: a hard link keeps the bytes alive
    * until both tables drop them. (On filesystems without links it
    * falls back to copies — still a valid clone, just O(data).)
    *
    * Properties copy EXCEPT `graft.txn.*` idempotent-append markers: a
    * streaming writer's watermark belongs to the source's history;
    * keeping it would make the same stream silently skip its first
    * batches against the clone. History does not clone (the clone
    * starts at v0, like the reference's copy_table —
    * mack/__init__.py:287-325 — and Delta CLONE).
    */
  def cloneTo(targetPath: String): ManagedTable = {
    val e = latestEntry
    require(e.files.nonEmpty,
      s"cloneTo requires a stats-bearing snapshot at $location")
    require(!ManagedTable.exists(targetPath),
      s"Table already exists: $targetPath")
    val dst = new ManagedTable(spark, targetPath)
    def linkInto(srcRoot: Path, dstRoot: Path, rel: String): Unit = {
      val s0 = srcRoot.resolve(rel); val d0 = dstRoot.resolve(rel)
      Option(d0.getParent).foreach(Files.createDirectories(_))
      if (!Files.exists(d0)) {
        try { Files.createLink(d0, s0); () }
        catch {
          case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
            Files.copy(s0, d0); ()
        }
      }
    }
    e.files.foreach(f => linkInto(dataDir, dst.dataDir, f.path))
    // deletion vectors travel with the files they mask: link every
    // parquet inside each referenced vector dir
    e.files.flatMap(_.dv).distinct.foreach { ref =>
      val s = Files.list(dvRoot.resolve(ref))
      try s.iterator().asScala.filter(Files.isRegularFile(_)).foreach(p =>
        linkInto(dvRoot, dst.dvRoot, ref + "/" + p.getFileName.toString))
      finally s.close()
    }
    val props = e.properties.filterNot(_._1.startsWith("graft.txn."))
    dst.commit(LogEntry(0L, System.currentTimeMillis(), "CLONE",
      e.dirs, e.schema, e.partitionColumns, props, e.files,
      metrics = Map("numClonedFiles" -> e.files.size.toString,
        "sourceTable" -> location, "sourceVersion" -> e.version.toString)))
    dst
  }

  /** Export this table as a standalone Delta Lake table — the reverse
    * of [[graft.sources.DeltaImport]] (switch back, or hand the table to
    * any Delta reader). Emits the public PROTOCOL: protocol + metaData +
    * one `add` per live file, hive-layout partition paths, per-file
    * `stats` JSON (numRecords + min/max for numeric and string columns,
    * straight from the snapshot's footer stats — Delta engines data-skip
    * the exported table immediately).
    *
    * This overload exports the CURRENT snapshot as one commit (the
    * reference's copy_table contract — mack/__init__.py:287-325); see
    * [[exportDelta(targetPath:String,fromVersion:Long)*]] for a
    * history-preserving export a Delta engine can time-travel and tail.
    *
    * Data files HARD-LINK into the target when the filesystem allows
    * (the export is O(metadata), no bytes move — at 100 TB this is the
    * difference between seconds and hours) and silently fall back to
    * copies across devices.
    *
    * Live deletion vectors export AS Delta deletion vectors (the
    * `deletionVectors` reader+writer feature, protocol 3/7): the
    * `_graft_dv` sidecar rows re-encode into `deletion_vector_*.bin`
    * payloads ([[graft.sources.DeltaDv]] framing) and each masked add
    * carries a `u`-storage descriptor with `tightBounds: false` stats —
    * the merge-on-read state crosses WITHOUT a materializing rewrite.
    * The re-encode streams sorted `(path, pos)` rows through the driver
    * one file's vector at a time — O(one file's deletions) memory, the
    * same driver-bounded shape as Delta's own DV writer.
    *
    * @return the number of data files exported
    */
  def exportDelta(targetPath: String): Long =
    exportDelta(targetPath, fromVersion = latestVersion)

  /** HISTORY-PRESERVING export: Delta commit 0 is this table's snapshot
    * AS OF `fromVersion`, and every later graft commit becomes its own
    * Delta log entry — adds with that commit's per-file stats, removes
    * with the SAME deletion-vector descriptor their matching add carried
    * (Delta keys logical files by (path, dvId)), `dataChange: false` on
    * OPTIMIZE rewrites (so Delta streams skip them, as ours do),
    * `metaData` re-emitted exactly when the schema/configuration
    * changed, `graft.txn.*` idempotent-writer markers as Delta `txn`
    * actions (a resumed streaming writer keeps exactly-once against the
    * export), and a `commitInfo` per commit for DESCRIBE HISTORY. A
    * receiving Delta engine can therefore time-travel to any exported
    * version and TAIL the table commit-by-commit — the two things a
    * single-commit snapshot cannot give a consumer keeping a mirror in
    * sync.
    *
    * Each file hard-links once no matter how many commits reference it;
    * a range reaching past the vacuum retention window fails loud (the
    * removed files' bytes are gone), like time travel.
    *
    * @return the number of data files exported (adds across all commits)
    */
  def exportDelta(targetPath: String, fromVersion: Long): Long = {
    val latest = latestVersion
    require(fromVersion >= 0 && fromVersion <= latest,
      s"fromVersion must be in [0, $latest], got $fromVersion")
    val entries = (fromVersion to latest).map(readEntry)
    entries.foreach(e => require(e.files.nonEmpty || e.dirs.isEmpty,
      s"exportDelta requires stats-bearing snapshots at $location " +
        s"(version ${e.version} tracks directories, not files)"))
    val root = Paths.get(targetPath)
    require(!Files.exists(root) || {
      val s = Files.list(root); try !s.iterator().hasNext finally s.close()
    }, s"exportDelta target exists and is not empty: $targetPath")
    val logDir = root.resolve("_delta_log")
    Files.createDirectories(logDir)
    val mapper = ManagedTable.mapper
    val anyDv = entries.exists(_.files.exists(_.dv.isDefined))
    val tableId = UUID.randomUUID().toString

    // Delta add/remove path values are URL-encoded, table-root-relative;
    // uuid-prefixed names keep files from different source commits
    // collision-free in one hive-layout directory, and the scheme is a
    // pure function of the graft path so adds and removes of one file
    // agree across commits
    def encSeg(s: String): String =
      java.net.URLEncoder.encode(s, "UTF-8").replace("+", "%20")
    def relOf(f: FileStat): String = {
      val uuidSeg = f.path.takeWhile(_ != '/')
      val baseName = f.path.substring(f.path.lastIndexOf('/') + 1)
      val leaf = ManagedTable.leafSuffix(f.leafDir)
      (if (leaf.isEmpty) "" else leaf + "/") + s"$uuidSeg-$baseName"
    }
    def encPath(f: FileStat): String =
      relOf(f).split('/').map(encSeg).mkString("/")
    // one decoder for `k=v` segments, shared by json actions and the
    // checkpoint writer (value null = __HIVE_DEFAULT_PARTITION__).
    // FileStats.unescapePath is the exact inverse of Spark's
    // escapePathName; URLDecoder is NOT (it would turn a literal '+' —
    // unescaped by Spark — into a space)
    def partValuesOf(f: FileStat): Seq[(String, String)] = {
      val leaf = ManagedTable.leafSuffix(f.leafDir)
      if (leaf.isEmpty) Nil
      else leaf.split('/').filter(_.nonEmpty).toSeq.map { seg =>
        val i = seg.indexOf('=')
        require(i > 0, s"non-hive partition segment in $leaf")
        val raw = seg.substring(i + 1)
        seg.substring(0, i) ->
          (if (raw == "__HIVE_DEFAULT_PARTITION__") null
           else FileStats.unescapePath(raw))
      }
    }
    def fillPartValues(
        holder: com.fasterxml.jackson.databind.node.ObjectNode,
        f: FileStat): Unit = {
      val pv = holder.putObject("partitionValues")
      partValuesOf(f).foreach { case (k, v) =>
        if (v == null) { pv.putNull(k); () } else { pv.put(k, v); () }
      }
    }
    // per-commit-schema stats serializer (numRecords + min/max)
    def statsFn(schema: StructType, partCols: Seq[String])
        : FileStat => String = {
      val partSet = partCols.toSet
      val numericCols = schema.fields.collect {
        case f if f.dataType.isInstanceOf[NumericType] && !partSet(f.name) =>
          f.name
      }.toSet
      val stringCols = schema.fields.collect {
        case f if f.dataType == StringType && !partSet(f.name) => f.name
      }.toSet
      (f: FileStat) => {
        val n = mapper.createObjectNode()
        n.put("numRecords", f.rows)
        val mins = n.putObject("minValues"); val maxs = n.putObject("maxValues")
        def fill(src: Map[String, String],
                 dst: com.fasterxml.jackson.databind.node.ObjectNode): Unit =
          src.foreach { case (k, v) =>
            if (numericCols(k)) {
              try { dst.put(k, new java.math.BigDecimal(v)); () }
              catch { case _: NumberFormatException => }
            } else if (stringCols(k)) { dst.put(k, v); () }
          }
        fill(f.min, mins); fill(f.max, maxs)
        mapper.writeValueAsString(n)
      }
    }
    // each physical file links once, however many commits reference it
    val linked = scala.collection.mutable.HashSet.empty[String]
    def linkFile(f: FileStat): Unit = if (linked.add(f.path)) {
      val src = dataDir.resolve(f.path)
      if (!Files.isRegularFile(src)) throw new IllegalStateException(
        s"export range [$fromVersion, $latest] of $location references " +
          s"vacuumed data (${f.path}); history export is limited to the " +
          "vacuum retention window")
      val dst = root.resolve(relOf(f))
      Option(dst.getParent).foreach(Files.createDirectories(_))
      try { Files.createLink(dst, src); () }
      catch {
        case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
          Files.copy(src, dst); ()
      }
    }
    // (graft file path, sidecar ref) -> exported DV coordinates, so a
    // later remove re-references EXACTLY the descriptor its matching add
    // carried (Delta reconciles logical files by (path, dv uniqueId))
    val dvDesc = scala.collection.mutable.HashMap
      .empty[(String, String), (String, graft.sources.DeltaDv.Framed)]
    // re-encode one commit's added vectors into ONE payload file,
    // streaming sorted (path, pos) rows one file's vector at a time
    def encodeDvPayload(pairs: Seq[(String, String)]): Unit =
      if (pairs.nonEmpty) {
        val byRef = pairs.groupBy(_._2)
          .map { case (ref, m) => ref -> m.map(_._1).toSet }
        val frames = byRef.toSeq.map { case (ref, paths) =>
          spark.read.schema(ManagedTable.dvSchema)
            .parquet(dvRoot.resolve(ref).toString)
            .filter(col("path").isInCollection(paths))
        }
        val rows = frames.reduce(_.unionByName(_))
          .distinct().orderBy("path", "pos")
        val (enc, fileName) = graft.sources.DeltaDv.freshFileId()
        val w = new graft.sources.DeltaDv.FileWriter(root.resolve(fileName))
        val refOf = pairs.toMap
        try {
          var curPath: String = null
          val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
          def flush(): Unit = if (curPath != null && buf.nonEmpty) {
            dvDesc((curPath, refOf(curPath))) = (enc, w.append(buf.toArray))
            buf.clear()
          }
          val it = rows.toLocalIterator()
          while (it.hasNext) {
            val r = it.next()
            val p = r.getString(0)
            if (p != curPath) { flush(); curPath = p }
            buf += r.getLong(1)
          }
          flush()
        } finally w.close()
      }
    def putDv(holder: com.fasterxml.jackson.databind.node.ObjectNode,
              payload: String, fr: graft.sources.DeltaDv.Framed): Unit = {
      val d = holder.putObject("deletionVector")
      d.put("storageType", "u")
      d.put("pathOrInlineDv", payload)
      d.put("offset", fr.offset)
      d.put("sizeInBytes", fr.sizeInBytes)
      d.put("cardinality", fr.cardinality)
      ()
    }

    var emittedSchemaJson: String = null
    var emittedConfig: Map[String, String] = null
    var prev: LogEntry = null
    var exported = 0L
    entries.zipWithIndex.foreach { case (e, k) =>
      val actions = Seq.newBuilder[String]
      val isBase = k == 0
      if (isBase) actions +=
        (if (anyDv)
          """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
            """"readerFeatures":["deletionVectors"],""" +
            """"writerFeatures":["deletionVectors"]}}"""
        else """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""")
      val cfg = e.properties.filterNot(_._1.startsWith("graft.")) ++
        (if (anyDv) Map("delta.enableDeletionVectors" -> "true")
         else Map.empty[String, String])
      if (isBase || e.schema.json != emittedSchemaJson ||
          cfg != emittedConfig) {
        val n = mapper.createObjectNode(); val m = n.putObject("metaData")
        m.put("id", tableId)
        val fmt = m.putObject("format")
        fmt.put("provider", "parquet"); fmt.putObject("options")
        m.put("schemaString", e.schema.json)
        val pc = m.putArray("partitionColumns")
        e.partitionColumns.foreach(pc.add)
        val c = m.putObject("configuration")
        cfg.foreach { case (ck, cv) => c.put(ck, cv); () }
        m.put("createdTime", entries.head.timestampMs)
        actions += mapper.writeValueAsString(n)
        emittedSchemaJson = e.schema.json
        emittedConfig = cfg
      }
      // idempotent-writer markers cross as Delta txn actions (only when
      // this commit moved them)
      val txnPrefix = "graft.txn."
      val prevProps: Map[String, String] =
        if (prev == null) Map.empty else prev.properties
      e.properties.foreach { case (pk, pv) =>
        if (pk.startsWith(txnPrefix) && !prevProps.get(pk).contains(pv)) {
          val n = mapper.createObjectNode(); val t = n.putObject("txn")
          t.put("appId", pk.stripPrefix(txnPrefix))
          t.put("version", pv.toLong)
          t.put("lastUpdated", e.timestampMs)
          actions += mapper.writeValueAsString(n)
        }
      }
      locally { // commitInfo rides every commit (DESCRIBE HISTORY surface)
        val n = mapper.createObjectNode(); val ci = n.putObject("commitInfo")
        ci.put("timestamp", e.timestampMs)
        ci.put("operation", if (isBase) "EXPORT" else e.operation)
        ci.put("engineInfo", "graft-export")
        actions += mapper.writeValueAsString(n)
      }
      val (added, removed) =
        if (isBase) (e.files, Seq.empty[FileStat])
        else {
          def key(f: FileStat) = (f.path, f.dv)
          val prevKeys = prev.files.map(key).toSet
          val curKeys = e.files.map(key).toSet
          (e.files.filterNot(f => prevKeys(key(f))),
            prev.files.filterNot(f => curKeys(key(f))))
        }
      // OPTIMIZE rewrites rows-unchanged: dataChange=false lets Delta
      // streams skip the commit, exactly as graft's own source does.
      // The BASE commit is a full snapshot regardless of which graft
      // operation happened to commit it last — a base anchored on an
      // OPTIMIZE must still stream its rows, so only TAIL commits
      // consult the operation.
      val dataChange = isBase || e.operation != "OPTIMIZE"
      encodeDvPayload(added.flatMap(f => f.dv.map(f.path -> _)))
      val stats = statsFn(e.schema, e.partitionColumns)
      removed.foreach { f =>
        val n = mapper.createObjectNode(); val r = n.putObject("remove")
        r.put("path", encPath(f))
        r.put("deletionTimestamp", e.timestampMs)
        r.put("dataChange", dataChange)
        r.put("extendedFileMetadata", true)
        fillPartValues(r, f)
        r.put("size", f.bytes)
        // the remove must carry the SAME descriptor its add did — a
        // file whose vector held no rows exported as a clean add, so
        // its remove stays clean too (dvDesc has no entry)
        f.dv.foreach(ref => dvDesc.get((f.path, ref)).foreach {
          case (payload, fr) => putDv(r, payload, fr)
        })
        actions += mapper.writeValueAsString(n)
      }
      added.foreach { f =>
        linkFile(f)
        val n = mapper.createObjectNode(); val a = n.putObject("add")
        a.put("path", encPath(f))
        fillPartValues(a, f)
        a.put("size", f.bytes)
        a.put("modificationTime",
          Files.getLastModifiedTime(dataDir.resolve(f.path)).toMillis)
        a.put("dataChange", dataChange)
        // a file can reference a vector that holds no rows for it
        // (bounds put it in the DML candidate set but nothing matched)
        // — that exports as a clean add
        f.dv.flatMap(ref => dvDesc.get((f.path, ref))) match {
          case Some((payload, fr)) =>
            putDv(a, payload, fr)
            // numRecords stays PHYSICAL; tightBounds=false marks
            // min/max as possibly covering deleted rows (PROTOCOL.md,
            // Writer Requirements for Deletion Vectors)
            val sn = mapper.readTree(stats(f))
              .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
            sn.put("tightBounds", false)
            a.put("stats", mapper.writeValueAsString(sn))
          case None =>
            a.put("stats", stats(f))
        }
        actions += mapper.writeValueAsString(n)
        exported += 1
      }
      Files.writeString(logDir.resolve(f"$k%020d.json"),
        actions.result().mkString("\n"))
      prev = e
    }
    // CLASSIC CHECKPOINT at the head version (multi-commit exports
    // only): without it a consumer snapshots by replaying EVERY json
    // commit — O(history) at read time, the thing that makes a 10k-commit
    // export unusable. The checkpoint parquet holds the final live state
    // (protocol + metaData + one add per live logical file with its DV
    // descriptor and stats, dataChange=false per PROTOCOL.md, + the
    // latest txn per appId); `_last_checkpoint` advertises it. Time
    // travel BELOW the checkpoint still replays the retained json tail
    // (checkpoints are snapshots, not diffs).
    if (entries.size > 1) {
      val last = entries.last
      val headV = (entries.size - 1).toLong
      val stats = statsFn(last.schema, last.partitionColumns)
      val cfg = last.properties.filterNot(_._1.startsWith("graft.")) ++
        (if (anyDv) Map("delta.enableDeletionVectors" -> "true")
         else Map.empty[String, String])
      val txns = last.properties.toSeq.collect {
        case (pk, pv) if pk.startsWith("graft.txn.") =>
          (pk.stripPrefix("graft.txn."), pv.toLong)
      }.sortBy(_._1)
      import org.apache.spark.sql.Row
      val dvType = StructType(Seq(
        StructField("storageType", StringType),
        StructField("pathOrInlineDv", StringType),
        StructField("offset", IntegerType),
        StructField("sizeInBytes", IntegerType),
        StructField("cardinality", LongType)))
      val cpSchema = StructType(Seq(
        StructField("txn", StructType(Seq(
          StructField("appId", StringType),
          StructField("version", LongType),
          StructField("lastUpdated", LongType)))),
        StructField("add", StructType(Seq(
          StructField("path", StringType),
          StructField("partitionValues",
            org.apache.spark.sql.types.MapType(StringType, StringType)),
          StructField("size", LongType),
          StructField("modificationTime", LongType),
          StructField("dataChange", org.apache.spark.sql.types.BooleanType),
          StructField("stats", StringType),
          StructField("deletionVector", dvType))),
        ),
        StructField("metaData", StructType(Seq(
          StructField("id", StringType),
          StructField("format", StructType(Seq(
            StructField("provider", StringType),
            StructField("options",
              org.apache.spark.sql.types.MapType(StringType, StringType))))),
          StructField("schemaString", StringType),
          StructField("partitionColumns",
            org.apache.spark.sql.types.ArrayType(StringType)),
          StructField("configuration",
            org.apache.spark.sql.types.MapType(StringType, StringType)),
          StructField("createdTime", LongType)))),
        StructField("protocol", StructType(Seq(
          StructField("minReaderVersion", IntegerType),
          StructField("minWriterVersion", IntegerType),
          StructField("readerFeatures",
            org.apache.spark.sql.types.ArrayType(StringType)),
          StructField("writerFeatures",
            org.apache.spark.sql.types.ArrayType(StringType)))))))
      val protoRow =
        if (anyDv) Row(3, 7, Seq("deletionVectors"), Seq("deletionVectors"))
        else Row(1, 2, null, null)
      val metaRow = Row(tableId, Row("parquet", Map.empty[String, String]),
        last.schema.json, last.partitionColumns, cfg,
        entries.head.timestampMs)
      val rows = Seq(
        Row(null, null, null, protoRow),
        Row(null, null, metaRow, null)) ++
        txns.map { case (app, v) =>
          Row(Row(app, v, last.timestampMs), null, null, null) } ++
        last.files.map { f =>
          val dvRow = f.dv.flatMap(ref => dvDesc.get((f.path, ref))).map {
            case (payload, fr) =>
              Row("u", payload, fr.offset, fr.sizeInBytes, fr.cardinality)
          }.orNull
          val statsStr = f.dv.flatMap(ref => dvDesc.get((f.path, ref))) match {
            case Some(_) =>
              val sn = mapper.readTree(stats(f))
                .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
              sn.put("tightBounds", false)
              mapper.writeValueAsString(sn)
            case None => stats(f)
          }
          Row(null, Row(encPath(f), partValuesOf(f).toMap, f.bytes,
            Files.getLastModifiedTime(dataDir.resolve(f.path)).toMillis,
            false, statsStr, dvRow), null, null)
        }
      // the writer emits a directory; the checkpoint must be ONE file at
      // the exact protocol name — write then move the single part file
      val tmpDirPath = root.resolve(s".cp-tmp-${UUID.randomUUID()}")
      spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1), cpSchema)
        .coalesce(1).write.parquet(tmpDirPath.toString)
      val part = {
        val s = Files.list(tmpDirPath)
        try s.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.head
        finally s.close()
      }
      Files.move(part, logDir.resolve(f"$headV%020d.checkpoint.parquet"))
      val ds = Files.list(tmpDirPath)
      try ds.iterator().asScala.toSeq.foreach(Files.deleteIfExists(_))
      finally ds.close()
      Files.deleteIfExists(tmpDirPath)
      Files.writeString(logDir.resolve("_last_checkpoint"),
        s"""{"version":$headV,"size":${rows.size}}""")
    }
    exported
  }
}

final case class TableDetail(location: String, partitionColumns: Seq[String],
                             properties: Map[String, String],
                             numFiles: Long, sizeInBytes: Long) {
  def averageFileSizeInBytes: Long =
    if (numFiles == 0) 0L else sizeInBytes / numFiles
}

object ManagedTable {
  private val VersionFile = "v(\\d+)\\.json".r

  /** Property-key prefix for CHECK constraints — the `delta.constraints.`
    * convention the reference discovers (`mack/__init__.py:658-661`).
    */
  private[tables] val constraintPrefix = "delta.constraints."

  /** The synthesized check key [[ManagedTable.setNotNull]] records. */
  private[tables] def notNullKey(colName: String): String =
    constraintPrefix + "notnull_" + colName

  /** Tombstoned column names (comma list) — see [[ManagedTable.dropColumn]]. */
  private[tables] val droppedColsKey = "graft.droppedColumns"

  /** Refuse re-adding a tombstoned column name: pre-drop data files still
    * carry the old bytes under that name, and a same-name column would
    * silently resurrect them into the "new" column.
    */
  private[tables] def guardResurrect(e: LogEntry,
                                     newNames: Iterable[String]): Unit = {
    // case-INSENSITIVE: every read/write path resolves columns
    // case-insensitively (spark.sql.caseSensitive=false default), so a
    // case-variant of a dropped name would resurrect just the same
    def fold(s: String) = s.toLowerCase(java.util.Locale.ROOT)
    val dropped = e.properties.get(droppedColsKey)
      .map(_.split(",").map(fold).toSet).getOrElse(Set.empty[String])
    val clash = newNames.filter(n => dropped(fold(n))).toSeq
    require(clash.isEmpty,
      s"column(s) ${clash.mkString(", ")} were previously DROPPED — " +
        "pre-drop files still carry their bytes, and re-adding the name " +
        "would silently resurrect old values; use a fresh column name")
  }

  /** Standard write metrics (Delta operationMetrics analog) from the
    * footer stats of a commit's freshly written files — free, the stats
    * were collected anyway.
    */
  private[tables] def writeMetrics(stats: Seq[FileStat]): Map[String, String] =
    Map(
      "numOutputRows" -> stats.map(_.rows).sum.toString,
      "numOutputFiles" -> stats.size.toString,
      "numOutputBytes" -> stats.map(_.bytes).sum.toString)
  private val mapper = new ObjectMapper()

  /** Bits per Z-order dimension: 4096 range buckets per column — finer
    * than any realistic file count, so file boundaries always fall between
    * buckets, never inside one.
    */
  private val zorderBits = 12

  /** The z-value column for `cols` of `df`: each column cast to double
    * (date/timestamp via epoch), range-bucketed by its own approx-quantile
    * boundaries, bucket bits interleaved (see [[graft.plans.ZValue]]).
    * One `approxQuantile` sketch pass total — O(columns · 1/err²) driver
    * memory, never a sort or collect of the data.
    */
  private[tables] def zorderColumn(df: DataFrame, cols: Seq[String]): org.apache.spark.sql.Column =
    clusterColumn(df, cols, "zorder")

  /** The clustering value for `cols`: `curve` picks bit interleaving
    * ([[graft.plans.ZValue]], Delta's ZORDER shape) or the Hilbert index
    * ([[graft.plans.HilbertValue]], Skilling 2004 — strictly better
    * locality: adjacent curve positions differ by one bucket step in
    * one dimension, so range probes touch fewer files at equal file
    * counts). Same one-pass quantile bucketing either way.
    */
  private[tables] def clusterColumn(df: DataFrame, cols: Seq[String],
                                    curve: String): org.apache.spark.sql.Column = {
    require(cols.nonEmpty && cols.size * zorderBits <= 63,
      s"zorderBy supports 1..5 columns, got ${cols.size}")
    val schema = df.schema
    val asDouble: Seq[org.apache.spark.sql.Column] = cols.map { c =>
      schema(c).dataType match {
        case _: NumericType | BooleanType => col(c).cast(DoubleType)
        case DateType | TimestampType =>
          col(c).cast(TimestampType).cast(DoubleType)
        case StringType =>
          // Delta's string Z-order shape: rank by the first 8 UTF-8
          // bytes. The hex prefix RIGHT-pads to 16 nibbles so the
          // numeric order of the value equals lexicographic byte order
          // for short strings too ("b" > "aaaa…"); 12 bucket bits need
          // far less than the 52 mantissa bits the double keeps.
          conv(rpad(hex(substring(encode(col(c), "UTF-8"), 1, 8)),
            16, "0"), 16, 10).cast(DoubleType)
        case other => throw new IllegalArgumentException(
          s"zorderBy column $c has non-range-bucketable type ${other.sql} " +
            "(supported: numeric, boolean, date, timestamp, string)")
      }
    }
    val perCol = (1 << zorderBits) - 1
    val probs = (1 to perCol).map(_.toDouble / (1 << zorderBits)).toArray
    val tmpNames = cols.indices.map(i => s"__zq$i")
    val tmp = df.select(cols.indices.map(i => asDouble(i).as(tmpNames(i))): _*)
    val bounds = tmp.stat.approxQuantile(tmpNames.toArray, probs, 0.001)
    val flat = bounds.flatMap { b =>
      // an all-null column yields an empty sketch: +inf boundaries send
      // every row to bucket 0 (the column contributes no ordering)
      if (b.isEmpty) Array.fill(perCol)(Double.PositiveInfinity) else b
    }.toIndexedSeq
    if (curve == "hilbert")
      graft.plans.expressions.hilbert_value(
        array(asDouble: _*), flat, cols.size, zorderBits)
    else
      graft.plans.expressions.z_value(
        array(asDouble: _*), flat, cols.size, zorderBits)
  }

  /** Default vacuum retention-time floor: 1 hour (see [[ManagedTable.vacuum]]). */
  val defaultVacuumMinAgeMillis: Long = 60L * 60 * 1000

  /** A history checkpoint is rolled forward every this many commits. */
  val checkpointInterval: Long = 20L

  /** Table-property key recording a writer's last idempotent-append
    * version (see [[ManagedTable.append]]'s `txn`).
    */
  private[tables] def txnPropKey(appId: String): String = s"graft.txn.$appId"

  /** Table property listing columns every write task sorts by before
    * writing (sorted writes): per-file stats stay tight on appends, so
    * data skipping works on fresh commits without an OPTIMIZE rewrite.
    * Comma-separated logical column names; columns absent from a write's
    * frame are skipped.
    */
  val writeSortPropKey: String = "graft.write.sortBy"

  /** Table property enabling at-commit CDC sidecar capture (Delta's
    * `delta.enableChangeDataFeed`). Set to `"true"` at create time or via
    * [[ManagedTable.setProperties]].
    */
  val cdfPropKey: String = "graft.enableChangeDataFeed"

  /** Table property enabling merge-on-read DELETE via deletion vectors
    * (Delta's `delta.enableDeletionVectors`): a delete records the
    * deleted (file, position) pairs in a `_graft_dv/` sidecar instead of
    * rewriting the touched files — O(deleted rows) written, not
    * O(touched bytes). Reads apply the vectors with a broadcast
    * anti-join; OPTIMIZE and any rewriting DML materialize them away.
    */
  val dvPropKey: String = "graft.enableDeletionVectors"

  /** Physical-position helper columns (snapshot-relative file path + row
    * index) and the DV sidecar schema keyed on them.
    */
  private[tables] val FP = "__graft_fpath"
  private[tables] val POS = "__graft_fpos"
  /** Spark's parquet field-id metadata key (`ParquetUtils
    * .FIELD_ID_METADATA_KEY`) — the single name for the contract shared
    * by the Iceberg import (attaches ids), [[hasFieldIds]], the scan
    * path's id-resolution switch, and writeData's id re-stamping.
    */
  private[graft] val FieldIdMetadataKey = "parquet.field.id"

  private def typeHasFieldIds(dt: DataType): Boolean = dt match {
    case s: StructType => s.fields.exists(f =>
      f.metadata.contains(FieldIdMetadataKey) || typeHasFieldIds(f.dataType))
    case a: ArrayType => typeHasFieldIds(a.elementType)
    case m: MapType =>
      typeHasFieldIds(m.keyType) || typeHasFieldIds(m.valueType)
    case _ => false
  }

  /** Does the schema carry parquet field ids anywhere (any depth)? */
  private[graft] def hasFieldIds(t: StructType): Boolean = typeHasFieldIds(t)

  private[graft] val dvSchema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("pos", LongType, nullable = false)))

  /** Max on-disk DV sidecar footprint that still broadcasts the read
    * mask (override with `spark.graft.dv.broadcastThreshold`). Parquet
    * of (path, pos) expands a few× in memory, so 64 MB on disk stays
    * comfortably inside executor broadcast budgets; past it the mask
    * anti-join shuffles instead.
    */
  private[graft] val dvBroadcastThresholdDefault: Long = 64L * 1024 * 1024

  /** Rows per DV-sidecar shard file (override with
    * `spark.graft.dv.rowsPerShard`). Sidecar writes used to funnel
    * O(deleted rows) through ONE task (`coalesce(1)`) — fine for point
    * deletes, a serial wall on a bulk DELETE masking 1% of a large
    * table. [[dvShardCount]] derives a bounded shard count from the
    * mask's row count (the `Arpa.writeSharded` sizing idiom: derived
    * from the data, never a fixed small constant that fragments); the
    * write then hash-repartitions by data-file path so each shard file
    * holds whole per-file runs and the per-task mass is bounded by the
    * largest single data file's deleted rows. The read side
    * directory-globs the sidecar (`parquet(dir)`), so the layout is
    * invisible to scans, vacuum (whole-dir removal), and
    * conflict-rebase. At or below one shard the write keeps the
    * single-file `coalesce(1)` form — point deletes pay nothing new.
    */
  private[graft] val dvRowsPerShardDefault: Long = 4L * 1000 * 1000

  /** Bounded shard count for an O(deleted rows) sidecar write: ceil
    * (rows / rowsPerShard) clamped to [1, 512]. 512 shards × 4M rows
    * covers ~2G masked rows per commit before shards grow past the
    * target; beyond that shards grow (bounded growth beats unbounded
    * file counts in the manifest).
    */
  private[graft] def dvRowsPerShard(spark: SparkSession): Long = {
    val per = spark.conf.getOption("spark.graft.dv.rowsPerShard")
      .map(_.toLong).getOrElse(dvRowsPerShardDefault)
    require(per > 0, s"spark.graft.dv.rowsPerShard must be > 0, got $per")
    per
  }

  private[graft] def dvShardCount(spark: SparkSession, rows: Long): Int = {
    val per = dvRowsPerShard(spark)
    math.max(1L, math.min(512L, (rows + per - 1L) / per)).toInt
  }

  /** Sharded-sidecar partitioning key: data-file path SALTED with a
    * pos-derived bucket (`pos div rowsPerShard`), so a bulk DELETE
    * whose mask concentrates in ONE large data file still spans
    * shards — path alone re-created the single-task funnel in the
    * skewed case (each (path, bucket) group holds ≤ rowsPerShard mask
    * rows, so per-task mass is bounded regardless of how the deletion
    * distributes over files). Readers directory-glob the sidecar, so
    * the layout stays invisible to scans/vacuum/conflict-rebase.
    */
  private[graft] def dvShardKeys(spark: SparkSession)
      : Seq[org.apache.spark.sql.Column] = {
    val per = dvRowsPerShard(spark)
    Seq(col("path"), (col("pos") / lit(per)).cast("long"))
  }

  /** Memoized on-disk size of a DV sidecar dir (immutable once
    * committed). Bounded: the cache resets past 100k entries — refs are
    * globally unique uuid dirs, so collisions across tables are moot.
    */
  private val dvSizeCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private[tables] def dvFootprint(dir: Path): Long = {
    val key = dir.toAbsolutePath.toString
    val hit = dvSizeCache.get(key)
    if (hit != null) return hit.longValue()
    val s = Files.list(dir)
    val bytes =
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    if (dvSizeCache.size() > 100000) dvSizeCache.clear()
    dvSizeCache.put(key, java.lang.Long.valueOf(bytes))
    bytes
  }

  /** A `p=v` path segment, escaped the way Spark's file writer escapes
    * dynamic partition directories (so suffix comparison against written
    * leaves is exact). NULL partition values use Hive's default bucket.
    */
  private[graft] def partitionSegment(colName: String, value: Any): String = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
    val v = value match {
      case null => "__HIVE_DEFAULT_PARTITION__"
      case other => escapePathName(other.toString)
    }
    s"${escapePathName(colName)}=$v"
  }

  /** The partition-path suffix of a leaf dir entry ("" when unpartitioned). */
  private[tables] def leafSuffix(dir: String): String = {
    val i = dir.indexOf('/')
    if (i < 0) "" else dir.substring(i + 1)
  }

  /** `files`: per-file row counts + min/max bounds for data skipping (see
    * [[FileStats]]). When non-empty it is the AUTHORITATIVE snapshot — a
    * file-granular MERGE keeps untouched files verbatim while their
    * siblings are replaced, which `dirs` alone cannot express. `dirs`
    * remains the leaf-directory view (vacuum reference-counting,
    * partition-scoped ops, entries written before stats existed).
    */
  private[tables] final case class LogEntry(
      version: Long, timestampMs: Long, operation: String,
      dirs: Seq[String], schema: StructType,
      partitionColumns: Seq[String], properties: Map[String, String],
      files: Seq[FileStat] = Nil,
      metrics: Map[String, String] = Map.empty,
      cdc: Seq[String] = Nil) {

    def toJson: String = {
      val root = mapper.createObjectNode()
      root.put("version", version)
      root.put("timestampMs", timestampMs)
      root.put("operation", operation)
      val ds = root.putArray("dirs"); dirs.foreach(ds.add)
      root.put("schema", schema.json)
      val ps = root.putArray("partitionColumns"); partitionColumns.foreach(ps.add)
      val pr = root.putObject("properties")
      properties.foreach { case (k, v) => pr.put(k, v) }
      val fs = root.putArray("files")
      files.foreach { f =>
        val o = fs.addObject()
        o.put("path", f.path); o.put("rows", f.rows); o.put("bytes", f.bytes)
        val mn = o.putObject("min"); f.min.foreach { case (k, v) => mn.put(k, v) }
        val mx = o.putObject("max"); f.max.foreach { case (k, v) => mx.put(k, v) }
        f.dv.foreach(o.put("dv", _))
        f.dvRows.foreach { r => o.put("dvRows", r); () }
      }
      val ms = root.putObject("metrics")
      metrics.foreach { case (k, v) => ms.put(k, v) }
      if (cdc.nonEmpty) { val cs = root.putArray("cdc"); cdc.foreach(cs.add) }
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root)
    }
  }

  private[tables] object LogEntry {
    def fromJson(s: String): LogEntry = {
      val n = mapper.readTree(s)
      def arr(field: String): Seq[String] =
        n.get(field).elements().asScala.map(_.asText()).toSeq
      def strMap(node: com.fasterxml.jackson.databind.JsonNode): Map[String, String] =
        node.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
      val files =
        if (!n.has("files")) Nil
        else n.get("files").elements().asScala.map { f =>
          FileStat(f.get("path").asText(), f.get("rows").asLong(),
            f.get("bytes").asLong(), strMap(f.get("min")), strMap(f.get("max")),
            if (f.has("dv")) Some(f.get("dv").asText()) else None,
            if (f.has("dvRows")) Some(f.get("dvRows").asLong()) else None)
        }.toSeq
      LogEntry(
        n.get("version").asLong(),
        n.get("timestampMs").asLong(),
        n.get("operation").asText(),
        arr("dirs"),
        DataType.fromJson(n.get("schema").asText()).asInstanceOf[StructType],
        arr("partitionColumns"),
        strMap(n.get("properties")),
        files,
        if (n.has("metrics")) strMap(n.get("metrics")) else Map.empty,
        if (n.has("cdc")) arr("cdc") else Nil)
    }
  }

  /** Union of base + appended schema. New names append; re-using an
    * existing name with a DIFFERENT type raises (silently keeping the base
    * type would corrupt a long→string append on read — Delta fails schema
    * merge the same way, cf. the reference's mergeSchema appends at
    * mack/__init__.py:378).
    */
  private[tables] def unionSchema(base: StructType, extra: StructType): StructType = {
    // match case-INSENSITIVELY, as append's alignment resolves and as
    // Spark's default analyzer would: a case-flipped incoming column is
    // the SAME column (keeps the table's casing), never a duplicate pair
    // that would make every later read ambiguous
    val byName = base.fields.map(f => f.name.toLowerCase(java.util.Locale.ROOT) -> f).toMap
    extra.fields.foreach { f =>
      byName.get(f.name.toLowerCase(java.util.Locale.ROOT)).foreach { b =>
        if (b.dataType != f.dataType)
          throw new graft.GraftTypeError(
            s"Failed to merge fields '${f.name}': incompatible types " +
              s"${b.dataType.sql} and ${f.dataType.sql}")
      }
    }
    StructType(base.fields ++ extra.fields.filterNot(f =>
      byName.contains(f.name.toLowerCase(java.util.Locale.ROOT))))
  }

  def exists(location: String): Boolean =
    Files.isDirectory(Paths.get(location, "_graft_log"))

  def forPath(spark: SparkSession, location: String): ManagedTable = {
    require(exists(location), s"Not a managed table: $location")
    new ManagedTable(spark, location)
  }

  /** Require every file path to carry a `c=…` HIVE SEGMENT for each
    * partition column — segment-wise (`startsWith(c + "=")` on each
    * directory level), not a substring scan, so `fiscalyear=2020` does
    * not satisfy `partitionBy = Seq("year")`. Shared refusal for
    * [[convert]] and [[graft.sources.DeltaImport]].
    */
  private[graft] def requireHiveLayout(files: Seq[String],
                                       partitionBy: Seq[String]): Unit =
    if (partitionBy.nonEmpty)
      files.find { f =>
        val dirs = f.split('/').filter(_.nonEmpty).dropRight(1)
        !partitionBy.forall(c => dirs.exists(_.startsWith(c + "=")))
      }.foreach { f =>
        throw new IllegalArgumentException(
          s"File $f lacks hive-layout segments for $partitionBy")
      }

  /** Non-throwing [[requireHiveLayout]]: do ALL files carry `c=…`
    * segments for every partition column? Callers with another source
    * of partition values (a Delta log's `add.partitionValues`) branch
    * on this instead of refusing.
    */
  private[graft] def isHiveLayout(files: Seq[String],
                                  partitionBy: Seq[String]): Boolean =
    partitionBy.isEmpty || files.forall { f =>
      val dirs = f.split('/').filter(_.nonEmpty).dropRight(1)
      partitionBy.forall(c => dirs.exists(_.startsWith(c + "=")))
    }

  /** Plan adoption targets for source-relative `files`: one fresh uuid
    * dir, hive `k=v` segments preserved as directories, any non-hive
    * prefix segments flattened into the file name. Flattening can
    * collide (`a/b-c.parquet` and `a-b/c.parquet` both yield
    * `a-b-c.parquet`), so duplicates get a deterministic `-dupN` suffix
    * — input is sorted first so the numbering is stable. Shared by
    * [[convert]] and [[graft.sources.DeltaImport.importTable]].
    */
  private[graft] def planAdoption(files: Seq[String],
                                  partitionBy: Seq[String])
      : Seq[(String, String)] = {
    requireHiveLayout(files, partitionBy)
    val uuid = UUID.randomUUID().toString
    val seen = scala.collection.mutable.Map.empty[String, Int]
    files.sorted.map { f =>
      val segs = f.split('/').filter(_.nonEmpty)
      val (hive, plain) = segs.init.partition(_.contains("="))
      val base = (plain :+ segs.last).mkString("-")
      val n = seen.getOrElse((hive :+ base).mkString("/"), 0)
      seen((hive :+ base).mkString("/")) = n + 1
      val name =
        if (n == 0) base
        else base.stripSuffix(".parquet") + s"-dup$n.parquet"
      (f, (uuid +: hive :+ name).mkString("/"))
    }
  }

  /** CREATE a table by ADOPTING existing parquet files — hard links into
    * the table's data dir (copy fallback across devices), one footer
    * pass for stats, one CONVERT commit. O(metadata) regardless of data
    * size: this is how a 100 TB external parquet/Delta dataset becomes a
    * managed table without rewriting a byte (Delta's CONVERT TO DELTA).
    *
    * `files` maps each source file to its data-dir-relative target path
    * (`<uuid>/[k=v/…/]name.parquet` — hive segments carry the partition
    * values, exactly like written data). The sources must be immutable
    * for the table's lifetime — true for Delta/graft data files; a
    * source-side vacuum only unlinks, the shared inodes live on.
    */
  /** Optional deletion-vector payload for [[adoptFiles]]: `rows` in
    * [[dvSchema]] (path = data-dir-relative ADOPTED path, pos = row
    * index) plus the set of adopted paths the vector masks — the v0
    * commit's [[FileStat]]s point those files at the written sidecar.
    * `nRows` is the caller's mask row count (importers know it from
    * their source metadata: delete-manifest record counts, DV
    * descriptor cardinalities), used only to size the sidecar write's
    * shard count ([[dvShardCount]]) — an UPPER bound is fine, an extra
    * count job over the delete mass is not.
    */
  private[graft] final case class AdoptedDv(rows: DataFrame,
                                            maskedPaths: Set[String],
                                            nRows: Long)

  private[graft] def adoptFiles(spark: SparkSession, location: String,
                                files: Seq[(Path, String)],
                                schema: StructType,
                                partitionBy: Seq[String],
                                properties: Map[String, String],
                                operation: String = "CONVERT",
                                dv: Option[AdoptedDv] = None): ManagedTable = {
    require(!exists(location), s"Table already exists: $location")
    require(files.nonEmpty, "adoptFiles requires at least one file")
    val t = new ManagedTable(spark, location)
    try files.foreach { case (src, rel) =>
      val dst = t.dataDir.resolve(rel)
      Option(dst.getParent).foreach(Files.createDirectories(_))
      try { Files.createLink(dst, src); () }
      catch {
        // a target collision is a planning bug, not a cross-device
        // condition — surface it instead of retrying as a copy
        case e: java.nio.file.FileAlreadyExistsException => throw e
        case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
          Files.copy(src, dst); ()
      }
    } catch {
      case e: Throwable =>
        // no commit exists yet, so the half-linked uuid dirs are
        // invisible — unlink them (links only; source inodes live on)
        files.map(_._2.takeWhile(_ != '/')).distinct.foreach { uuid =>
          val d = t.dataDir.resolve(uuid)
          if (Files.isDirectory(d)) {
            val s = Files.walk(d)
            try s.iterator().asScala.toSeq.reverse.foreach(p =>
              try Files.delete(p) catch { case _: java.io.IOException => () })
            finally s.close()
          }
        }
        throw e
    }
    val dirs = files.map { case (_, rel) =>
      rel.substring(0, rel.lastIndexOf('/'))
    }.distinct
    val stats0 = t.statsFor(dirs, schema)
    // deletion vectors adopt alongside the data: write the mask rows as
    // a sidecar before the commit and point the masked files at it —
    // same layout a native merge-on-read DELETE would leave
    val stats = dv.fold(stats0) { d =>
      val ref = UUID.randomUUID().toString
      val mask = d.rows.select(col("path").cast(StringType).as("path"),
        col("pos").cast(LongType).as("pos"))
      // sharded sidecar write sized from the caller's mask row count —
      // see [[dvShardCount]]; one-shard masks keep the single-file
      // form. Keys salted with the pos bucket ([[dvShardKeys]]) so a
      // mask concentrated in one data file still spans shards.
      val nShards = dvShardCount(spark, d.nRows)
      (if (nShards == 1) mask.coalesce(1)
       else mask.repartition(nShards, dvShardKeys(spark): _*))
        .write.parquet(Paths.get(location, "_graft_dv", ref).toString)
      val unmatched = d.maskedPaths.diff(stats0.map(_.path).toSet)
      require(unmatched.isEmpty,
        s"adopted deletion vectors reference unknown files: $unmatched")
      val byPath = spark.read.schema(dvSchema)
        .parquet(Paths.get(location, "_graft_dv", ref).toString)
        .groupBy("path").agg(count(lit(1)).as("n"), max("pos").as("maxPos"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
      // an adopted mask must be consistent with the footers it masks: a
      // corrupt delete row with pos >= the file's row count would
      // inflate dvRows and silently undercount metadata numRows (the
      // final import integrity check subtracts the same bad count from
      // both sides, so only a per-file bound catches it here)
      val rowsByPath = stats0.map(f => f.path -> f.rows).toMap
      byPath.foreach { case (p, (cnt, maxPos)) =>
        val fileRows = rowsByPath.getOrElse(p, 0L)
        require(cnt <= fileRows && maxPos < fileRows,
          s"adopted deletion vector is inconsistent with $p: $cnt delete " +
            s"rows (max pos $maxPos) against $fileRows data rows")
      }
      stats0.map(f =>
        if (d.maskedPaths(f.path))
          f.copy(dv = Some(ref),
            dvRows = Some(byPath.get(f.path).map(_._1).getOrElse(0L)))
        else f)
    }
    t.commit(LogEntry(0L, System.currentTimeMillis(), operation,
      dirs, schema, partitionBy, properties, stats,
      metrics = writeMetrics(stats) +
        ("numConvertedFiles" -> files.size.toString)))
    t
  }

  /** CONVERT an existing plain-parquet directory (optionally
    * hive-partitioned) into a managed table — the public face of
    * [[adoptFiles]] for non-Delta data (Delta tables go through
    * [[graft.sources.DeltaImport.importTable]]). Zero-copy: files
    * hard-link, one footer pass, one commit. `schema` defaults to
    * Spark's `mergeSchema` inference over the directory (an extra
    * footer pass; pass it explicitly to pin types AND skip that pass —
    * it must then include the partition columns); `partitionBy` names
    * must match the directory's `k=v` layout. Files under hidden or
    * metadata directories (`.…`, `_temporary`, `_delta_log`, …) are
    * skipped, matching what `spark.read.parquet` would scan.
    */
  def convert(spark: SparkSession, sourceDir: String, location: String,
              partitionBy: Seq[String] = Nil,
              properties: Map[String, String] = Map.empty,
              schema: Option[StructType] = None): ManagedTable = {
    val asFile = Paths.get(sourceDir)
    // a bare parquet FILE converts as a one-file table
    val root = if (Files.isRegularFile(asFile)) asFile.getParent else asFile
    require(Files.isDirectory(root), s"Not a directory: $sourceDir")
    val files =
      if (Files.isRegularFile(asFile)) Seq(asFile.getFileName.toString)
      else {
        val s = Files.walk(root)
        try s.iterator().asScala
          .filter(p => Files.isRegularFile(p) &&
            p.getFileName.toString.endsWith(".parquet"))
          .map(root.relativize(_).toString)
          // Spark's reader ignores `.`/`_`-prefixed path segments at
          // EVERY level (leftover _temporary dirs, _delta_log
          // checkpoints); adopting them would corrupt the table
          .filter(!_.split('/').exists(seg =>
            seg.startsWith(".") || seg.startsWith("_")))
          .toSeq.sorted
        finally s.close()
      }
    require(files.nonEmpty, s"No parquet files under $sourceDir")
    val tableSchema = schema.getOrElse {
      spark.read.option("mergeSchema", "true")
        .option("basePath", root.toString)
        .parquet(files.map(root.resolve(_).toString): _*).schema
    }
    val links = planAdoption(files, partitionBy)
      .map { case (f, rel) => (root.resolve(f), rel) }
    adoptFiles(spark, location, links, tableSchema, partitionBy, properties)
  }

  /** Create a new table at `location` from `df`. */
  def create(df: DataFrame, location: String,
             partitionBy: Seq[String] = Nil,
             properties: Map[String, String] = Map.empty): ManagedTable = {
    require(!exists(location), s"Table already exists: $location")
    val t = new ManagedTable(df.sparkSession, location)
    val dirs = t.writeData(df, partitionBy, properties,
      tableSchema = df.schema)
    val stats = t.statsFor(dirs, df.schema)
    t.commit(LogEntry(0L, System.currentTimeMillis(), "CREATE",
      dirs, df.schema, partitionBy, properties, stats,
      metrics = ManagedTable.writeMetrics(stats)))
    t
  }
}
