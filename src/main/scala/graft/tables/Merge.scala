package graft.tables

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And => CatAnd, EqualNullSafe => CatEqualNullSafe, EqualTo => CatEqualTo, Expression => CatExpr}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.storage.StorageLevel

/** Join-classified MERGE: the engine's replacement for Delta Lake's
  * `DeltaTable.merge(...).whenMatchedUpdate/Delete(...).whenNotMatchedInsert(...)
  * .execute()` chain that every mutating reference operator drives
  * (type_2_scd_generic_upsert mack/__init__.py:125-139, kill_duplicates :190-192,
  * drop_duplicates_pkey :253-255, append_without_duplicates :410-412).
  *
  * Semantics (matching Delta):
  *  - clauses are evaluated in declaration order; the first clause whose
  *    condition is satisfied (three-valued logic: NULL = not satisfied)
  *    applies; rows matching no clause pass through unchanged (matched) or
  *    are ignored (not matched);
  *  - a target row matched by more than one source row is an error when any
  *    whenMatched clause exists (Delta's multiple-source-row-match error);
  *  - condition / set-expression strings resolve against the aliases given
  *    with `as(...)` — including sources containing deliberately
  *    non-matching rows, e.g. the SCD2 NULL-mergeKey staging pattern
  *    (mack/__init__.py:107-114).
  *
  * Execution shape (scale rationale): every output row comes from ONE
  * full outer join of target and source on the merge condition (a left
  * outer join when there is no insert clause). Target rows carry a row id
  * and source rows a source row id, and the two tags classify each joined
  * row as matched, target-only or source-only; one clause-index column
  * then records the first applicable clause of its class. One window over
  * the joined rows, partitioned by the target row id (a source-only row
  * by its own id, so those never pile into one partition), counts each
  * target row's matches: more than one raises the multiple-match error
  * when a whenMatched clause exists, and an insert-only merge keeps the
  * first, so a matched target row passes through once. One filter drops
  * deleted and unclaimed rows, and one projection writes every column
  * through the clause that applies. The target is scanned once; the CDC
  * sidecar ([[Builder.changesFrame]]) is derived from the same classified
  * frame. A commit range-partitions the rows by the merge key before
  * writing, so rewritten files keep disjoint key ranges. This is Delta's
  * MergeIntoCommand rewrite: one outer join over the touched files,
  * which [[Builder.execute]] narrows first by partition values or by the
  * merge-key bounds of each file (one driver-side collect of the
  * source's keys).
  */
object Merge {

  /** Outcome of the file-granular pruning analysis ([[Builder.filePrunePlan]]). */
  private[tables] sealed trait FilePrune
  private[tables] object FilePrune {
    /** Empty source: the merge is a no-op, nothing to commit. */
    case object NoOp extends FilePrune
    /** Pruning can't help; caller falls back to a full overwrite. */
    case object Fallback extends FilePrune
    /** Only `touched` files need rewriting; `keyFilters` are the bounds
      * filters that selected them (also the conflict predicate for
      * concurrently-added files).
      */
    final case class Pruned(touched: Seq[FileStat],
                            keyFilters: Seq[Seq[FileStat] => Seq[FileStat]])
      extends FilePrune
  }

  /** The source's keys for one equi-binding of the merge condition, as
    * collected by [[collectKeys]]: the input of the pure pruning decision
    * ([[prunePlan]]).
    */
  private[tables] sealed trait SourceKeys
  private[tables] object SourceKeys {
    /** Every distinct key (at most [[maxPrunedMergeKeys]]). Under `=` the
      * NULL keys are already dropped; under `<=>` a NULL key is kept.
      */
    final case class Values(keys: Seq[Any]) extends SourceKeys
    /** More keys than [[maxPrunedMergeKeys]]: their [lo, hi] range (NULL
      * when no key is non-null) and whether a NULL key exists (`<=>` only).
      */
    final case class Range(lo: Any, hi: Any, hasNull: Boolean) extends SourceKeys
  }

  /** Above this many touched partitions a pruned merge falls back to a
    * full overwrite: the per-partition commit bookkeeping and the isin
    * predicate stop paying for themselves when most of the table is
    * touched anyway.
    */
  val maxPrunedPartitions: Int = 1000

  /** Above this many distinct source merge-key values, file pruning falls
    * back from per-value overlap to the source's [min, max] range.
    */
  val maxPrunedMergeKeys: Int = 10000

  /** Can bounds on column `name` (case-insensitive) of `base` skip files? */
  private def skippableIn(base: ManagedTable.LogEntry, name: String): Boolean =
    base.schema.fields.exists(f =>
      f.name.equalsIgnoreCase(name) && FileStats.skippable(f.dataType))

  /** One key collect: the distinct values of `k` over `frame`, or their
    * range past [[maxPrunedMergeKeys]]; None when `frame` is empty.
    *
    * Under `=` a NULL key matches nothing, so NULL keys are filtered
    * INSIDE the collect. That also lets Catalyst drop every branch whose
    * key is a NULL literal — SCD2's staged_part_1, whose join against the
    * target then never runs here. A non-empty frame without a non-NULL
    * key yields `Values(Nil)`: its merge can only insert.
    *
    * Past the cap the distinct() sample may MISS a NULL (and min/max
    * ignore NULLs), so under `<=>` the range aggregation also counts NULL
    * keys — one job answers both questions; otherwise a file holding only
    * NULL-key rows would be pruned and its matched updates silently
    * skipped.
    *
    * A frame the optimizer reduces to local rows (a driver-side Seq, and
    * projections or filters over one) is read on the driver: no Spark job.
    */
  private def collectKeys(frame: DataFrame, k: Column,
                          nullSafe: Boolean): Option[SourceKeys] = {
    val rows = if (nullSafe) frame else frame.filter(k.isNotNull)
    val keyed = rows.select(k)
    val vals =
      if (keyed.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
        keyed.collect().map(_.get(0)).distinct
      else keyed.distinct().limit(maxPrunedMergeKeys + 1).collect().map(_.get(0))
    if (vals.isEmpty) {
      if (nullSafe || frame.isEmpty) None else Some(SourceKeys.Values(Nil))
    } else if (vals.length > maxPrunedMergeKeys && !(nullSafe && vals.contains(null))) {
      val r = rows.agg(org.apache.spark.sql.functions.min(k),
        org.apache.spark.sql.functions.max(k),
        count(when(k.isNull, lit(1)))).head()
      Some(SourceKeys.Range(r.get(0), r.get(1), r.getLong(2) > 0))
    } else Some(SourceKeys.Values(vals.toSeq))
  }

  /** The pure pruning decision over `base`'s files from the keys collected
    * for each (target column, null-safe) binding; a binding without keys
    * does not prune.
    */
  private def prunePlan(base: ManagedTable.LogEntry, bindings: Seq[(String, Boolean)],
                        keys: Seq[SourceKeys]): FilePrune = {
    val schema = base.schema
    val keyFilters: Seq[Seq[FileStat] => Seq[FileStat]] =
      bindings.zip(keys).flatMap {
        case ((name, nullSafe), SourceKeys.Values(vs))
            if !(nullSafe && vs.contains(null)) =>
          Some(FileStats.overlappingFilter(schema, name, vs))
        case ((name, _), SourceKeys.Range(lo, hi, false)) if lo != null =>
          Some((fs: Seq[FileStat]) =>
            FileStats.overlappingRange(fs, schema, name, lo, hi))
        // <=> with a NULL source key matches NULL target rows, whose
        // files' min/max bounds cannot locate them: no pruning
        case _ => None
      }
    val touched = keyFilters.foldLeft(base.files)((fs, f) => f(fs))
    if (touched.size < base.files.size) FilePrune.Pruned(touched, keyFilters)
    else FilePrune.Fallback
  }

  sealed trait Clause { def condition: Option[String] }
  final case class Update(condition: Option[String], set: Map[String, String]) extends Clause
  final case class UpdateAll(condition: Option[String]) extends Clause
  final case class Delete(condition: Option[String]) extends Clause
  final case class Insert(condition: Option[String], values: Map[String, String]) extends Clause
  final case class InsertAll(condition: Option[String]) extends Clause

  final case class Builder(
      target: DataFrame, targetAlias: String,
      source: DataFrame, sourceAlias: String,
      mergeCondition: Column,
      matched: Seq[Clause] = Nil, notMatched: Seq[Clause] = Nil,
      notMatchedBySource: Seq[Clause] = Nil,
      evolveSchema: Boolean = false,
      txn: Option[(String, Long)] = None) {

    def whenMatchedUpdate(condition: String, set: Map[String, String]): Builder =
      copy(matched = matched :+ Update(Option(condition), set))
    def whenMatchedUpdate(set: Map[String, String]): Builder =
      copy(matched = matched :+ Update(None, set))
    def whenMatchedUpdateAll(): Builder =
      copy(matched = matched :+ UpdateAll(None))
    def whenMatchedDelete(): Builder =
      copy(matched = matched :+ Delete(None))
    def whenMatchedDelete(condition: String): Builder =
      copy(matched = matched :+ Delete(Option(condition)))
    def whenNotMatchedInsert(values: Map[String, String]): Builder =
      copy(notMatched = notMatched :+ Insert(None, values))
    def whenNotMatchedInsert(condition: String, values: Map[String, String]): Builder =
      copy(notMatched = notMatched :+ Insert(Option(condition), values))
    def whenNotMatchedInsertAll(): Builder =
      copy(notMatched = notMatched :+ InsertAll(None))

    // WHEN NOT MATCHED BY SOURCE (Delta 2.3): clauses over TARGET rows
    // with no source match — the standard way a merge syncs deletions or
    // ages out rows the source no longer carries. Conditions and set
    // expressions may reference target columns only (there is no source
    // row to read).
    def whenNotMatchedBySourceUpdate(set: Map[String, String]): Builder =
      copy(notMatchedBySource = notMatchedBySource :+ Update(None, set))
    def whenNotMatchedBySourceUpdate(condition: String,
                                     set: Map[String, String]): Builder =
      copy(notMatchedBySource = notMatchedBySource :+ Update(Option(condition), set))
    def whenNotMatchedBySourceDelete(): Builder =
      copy(notMatchedBySource = notMatchedBySource :+ Delete(None))
    def whenNotMatchedBySourceDelete(condition: String): Builder =
      copy(notMatchedBySource = notMatchedBySource :+ Delete(Option(condition)))

    /** Opt in to MERGE schema evolution (Delta's
      * `DeltaMergeBuilder.withSchemaEvolution` /
      * `delta.schema.autoMerge`): update/insert clauses may then
      * introduce columns the target lacks — explicit `set`/`values` keys,
      * or any extra source column under `updateAll`/`insertAll` — and the
      * target schema becomes the union (new columns forced nullable,
      * pre-existing rows read back NULL). Without this, an unknown clause
      * column raises, as Delta's analyzer does.
      */
    def withSchemaEvolution(): Builder = copy(evolveSchema = true)

    /** Idempotent-replay protection (the MERGE counterpart of
      * [[ManagedTable.append]]'s `txn`): the (appId, version) marker
      * rides the SAME commit as the merge's data, and a merge whose
      * marker is already recorded at or above `version` is an O(1)
      * property-read no-op — a streaming MERGE sink replaying a
      * micro-batch after a crash between sink commit and checkpoint
      * commit re-lands exactly once.
      */
    def withTxn(appId: String, version: Long): Builder =
      copy(txn = Some((appId, version)))

    /** The columns this merge would ADD to the target under
      * [[withSchemaEvolution]]: extra source fields (when an
      * updateAll/insertAll clause copies the whole source row) plus
      * explicit clause keys not in the target, typed by resolving their
      * expression against the joined aliases (plan-only, no execution).
      */
    private def evolvedFields(): Seq[org.apache.spark.sql.types.StructField] = {
      val have = target.columns.toSet
      val fromAll =
        if (matched.exists(_.isInstanceOf[UpdateAll]) ||
            notMatched.exists(_.isInstanceOf[InsertAll]))
          source.schema.fields.toSeq.filterNot(f => have(f.name))
        else Nil
      val keyed = (matched.collect { case Update(_, set) => set } ++
        notMatchedBySource.collect { case Update(_, set) => set } ++
        notMatched.collect { case Insert(_, values) => values })
        .flatten.filterNot { case (k, _) => have(k) }
      lazy val j = target.alias(targetAlias)
        .join(source.alias(sourceAlias), mergeCondition, "inner")
      val keyedFields = keyed.map { case (k, e) =>
        j.select(expr(e).as(k)).schema.head.copy(nullable = true)
      }
      (fromAll ++ keyedFields)
        .foldLeft(Vector.empty[org.apache.spark.sql.types.StructField]) {
          (acc, f) => if (acc.exists(_.name == f.name)) acc else acc :+ f
        }
    }

    /** CDC sidecar for this merge when the table captures change data
      * (see [[changesFrame]]); Nil otherwise. Called on the PRUNED
      * builder so the capture pass reads only the touched files.
      */
    private def cdcFor(table: ManagedTable,
                       base: ManagedTable.LogEntry): Seq[String] =
      if (!table.cdfEnabled(base)) Nil
      else table.writeCdcSidecar(changesFrame(), base.schema)

    /** Pure core: the post-merge table contents as a DataFrame. */
    def result(): DataFrame =
      if (!evolveSchema) run()
      else {
        val widened = evolvedFields().foldLeft(target)((df, f) =>
          df.withColumn(f.name, lit(null).cast(f.dataType)))
        copy(target = widened, evolveSchema = false).run()
      }

    /** Shell: apply the merge to `table`. When the table is partitioned
      * and the merge condition binds every partition column to the source
      * side (`base.p = src.p`), only the partitions present in the source
      * are recomputed and committed ([[ManagedTable.overwritePartitions]]);
      * untouched partitions keep their existing files — the difference
      * between a 1-row SCD2 upsert rewriting one partition and rewriting
      * 100 TB (Delta's find-touched-files pruning, at partition
      * granularity). Otherwise the merge-key bounds of each file prune at
      * file granularity ([[executeFilePruned]]). Falls back to a full
      * snapshot overwrite whenever pruning can't be proven safe (unbound
      * partition columns, update/insert clauses that could move rows
      * across partitions, more than [[Merge.maxPrunedPartitions]] touched
      * partitions, no usable file stats).
      *
      * The snapshot the merge is computed against is captured once at
      * entry and every commit path below passes it down, so a concurrent
      * commit landing mid-merge is REBASED over when provably disjoint
      * (other partitions / other files) and raises
      * [[ConcurrentCommitException]] otherwise — never a silent
      * last-writer-wins at the snapshot level.
      *
      * A nondeterministic source (`rand()`, `uuid()`, a nondeterministic
      * UDF) is materialized once for the duration of the merge: the key
      * collect and the write each evaluate the source, and two
      * evaluations could prune by one key set and merge another (Delta's
      * `merge.materializeSource=auto`). A source the caller has cached is
      * used as is.
      */
    def execute(table: ManagedTable): Unit = {
      if (txn.exists { case (app, v) =>
            table.txnVersion(app).exists(_ >= v) }) return
      if (evolveSchema) {
        val extra = evolvedFields()
        if (extra.nonEmpty) {
          // widen FIRST as its own ADD COLUMNS commit, then merge
          // normally against the widened snapshot: the storage layer's
          // null-fill read makes untouched old files correct without a
          // rewrite, and every pruned commit path below keeps working
          // because the schema it aligns to now includes the new columns
          table.addColumns(extra)
          copy(target = table.toDF, evolveSchema = false).execute(table)
          return
        }
      }
      withSourceOnce(_.executeAt(table, table.latestEntry))
    }

    /** Runs `body` on this merge with a nondeterministic source persisted
      * for its duration (see [[execute]]); a deterministic or
      * caller-cached source is used as is.
      */
    private[tables] def withSourceOnce(body: Builder => Unit): Unit =
      if (source.queryExecution.analyzed.deterministic ||
          source.storageLevel != StorageLevel.NONE) body(this)
      else {
        val once = source.persist(StorageLevel.MEMORY_AND_DISK)
        try body(copy(source = once))
        finally { once.unpersist(); () }
      }

    /** [[execute]] against the snapshot `base`, which is both the plan's
      * read and the commit base: a commit landing mid-merge can never make
      * the pruning analysis (newer snapshot) disagree with the conflict
      * check (older base), which would raise a spurious
      * ConcurrentCommitException.
      */
    private[tables] def executeAt(table: ManagedTable,
                                  base: ManagedTable.LogEntry): Unit = {
      val baseVersion = base.version
      if (notMatchedBySource.nonEmpty) {
        // pruning is keyed off the MATCHED side; a bySource clause can
        // touch an unmatched row in ANY file or partition, so keeping
        // files/partitions verbatim is unsound — the merge is a full
        // rewrite by semantics (Delta pays the same shape)
        overwriteAt(table, base)
        return
      }
      val parts = base.partitionColumns
      val bindings = parts.flatMap(p => partitionBinding(p).map(p -> _)).toMap
      if (parts.nonEmpty && bindings.size == parts.length &&
          clausesPreservePartitions(parts, bindings)) {
        // partition-path suffix matching relies on toString equalling
        // Spark's written directory names — true for strings, integrals,
        // booleans and dates, NOT timestamps/decimals/floats; fall back
        // rather than risk a (safely-rejected but failing) suffix mismatch.
        // Decided from the table SCHEMA's partition column types, not from
        // collected values: a NULL in the first row would otherwise pass
        // the check and a later non-null timestamp hard-fail a valid merge.
        import org.apache.spark.sql.types._
        val suffixSafe = parts.forall(p => base.schema(p).dataType match {
          case StringType | IntegerType | LongType | ShortType | ByteType |
               BooleanType | DateType => true
          case _ => false
        })
        if (!suffixSafe) {
          // timestamp/decimal partition columns can't partition-prune,
          // but the merge keys' file bounds may still prune
          if (!executeFilePruned(table, base)) overwriteAt(table, base)
          return
        }
        val valueCols = parts.map(p => GraftColumnBridge.column(bindings(p)).as(p))
        val rows = source.alias(sourceAlias).select(valueCols: _*).distinct()
          .limit(maxPrunedPartitions + 1).collect()
        if (rows.isEmpty) return // empty source: merge is a no-op
        if (rows.length > maxPrunedPartitions) {
          // too many partitions to enumerate; fall to file granularity
          if (!executeFilePruned(table, base)) overwriteAt(table, base)
          return
        }
        val values = rows.map(r =>
          parts.zipWithIndex.map { case (p, i) => p -> r.get(i) }.toMap).toSeq
        // null-SAFE matching: isin never matches NULL, which would silently
        // drop a null-partition's unmatched target rows from the rewrite
        val pred =
          if (parts.length == 1) {
            val (nulls, nonNulls) = values.map(_(parts.head)).partition(_ == null)
            val in =
              if (nonNulls.isEmpty) lit(false)
              else col(parts.head).isin(nonNulls: _*)
            if (nulls.nonEmpty) in || col(parts.head).isNull else in
          } else
            values.map(m => parts.map(p => col(p) <=> lit(m(p))).reduce(_ && _))
              .reduce(_ || _)
        val pruned = copy(target = target.filter(pred))
        table.overwritePartitions(pruned.rewrite(base), values, operation = "MERGE",
          baseVersion = baseVersion, cdc = pruned.cdcFor(table, base),
          txn = txn)
      } else if (!executeFilePruned(table, base)) overwriteAt(table, base)
    }

    /** The full-snapshot rewrite every unprunable merge commits. */
    private[tables] def overwriteAt(table: ManagedTable,
                                    base: ManagedTable.LogEntry): Unit =
      table.overwriteFrom(base.version, rewrite(base), "MERGE",
        cdc = cdcFor(table, base), txn = txn)

    /** File-granular MERGE (Delta's find-touched-files): files whose
      * min/max bounds on an equi-bound merge-key column are disjoint from
      * every source key cannot hold a matched row, so they are kept
      * verbatim and only the touched files' rows are re-run through the
      * merge. Works on partitioned tables too (partition values
      * contribute bounds, and the rewrite is written back partitioned) —
      * the path a merge takes when its condition does NOT bind the
      * partition columns, where the alternative would be a full-table
      * overwrite. Unlike partition pruning this needs NO clause analysis:
      * untouched rows pass through `run()` unchanged wherever they live,
      * so keeping their files is the same result by construction —
      * updates/inserts always land in new files.
      * Returns false (caller falls back to a full overwrite) when the
      * table has no stats, no conjunct equi-binds a skippable column, or
      * pruning removes nothing.
      *
      * Assumes `target` is the snapshot `base` (as every `execute` path
      * does — the pruned target is re-read from `base`).
      */
    private def executeFilePruned(table: ManagedTable,
                                  base: ManagedTable.LogEntry): Boolean =
      filePrunePlan(base) match {
        case FilePrune.NoOp => true
        case FilePrune.Fallback => false
        case FilePrune.Pruned(touched, keyFilters) =>
          copy(target = table.scanFilesDF(touched, base))
            .commitPruned(table, base, touched, keyFilters)
          true
      }

    /** Commit this merge — its target already narrowed to `touched` —
      * as a rewrite of just those files against `base`.
      */
    private[tables] def commitPruned(table: ManagedTable, base: ManagedTable.LogEntry,
                                     touched: Seq[FileStat],
                                     keyFilters: Seq[Seq[FileStat] => Seq[FileStat]]): Unit =
      // Delta's ConcurrentAppendException rule, made precise: a
      // concurrently-added file conflicts only if this merge WOULD have
      // read it — i.e. it survives the same key-bounds filters that
      // selected the touched files. A blind append with provably-disjoint
      // key bounds commutes (both commits land).
      table.replaceFiles(touched.map(_.path).toSet, rewrite(base), operation = "MERGE",
        base = base,
        addedMayMatch = added =>
          keyFilters.foldLeft(added)((fs, f) => f(fs)).nonEmpty,
        cdc = cdcFor(table, base), txn = txn)

    /** The file-granular pruning decision, separated from the commit so the
      * conflict predicate it implies is unit-testable: NoOp (empty source —
      * the merge changes nothing), Fallback (can't prune: no stats, no
      * usable equi-binding, or pruning removed nothing), or Pruned with the
      * surviving files AND the per-binding bounds filters that selected
      * them (reused as `addedMayMatch` against concurrent appends).
      * One source pass ([[sourceKeys]]) feeds the pure [[prunePlan]].
      */
    private[tables] def filePrunePlan(base: ManagedTable.LogEntry): FilePrune = {
      val bindings = pruneBindings(base)
      if (bindings.isEmpty) FilePrune.Fallback
      else sourceKeys(bindings).fold[FilePrune](FilePrune.NoOp)(keys =>
        prunePlan(base, bindings.map { case (n, _, nullSafe) => (n, nullSafe) }, keys))
    }

    /** The equi-bindings file pruning uses: the first two whose target
      * column is skippable (each costs one key collect); none when the
      * snapshot has fewer than two files (nothing to skip).
      */
    private def pruneBindings(base: ManagedTable.LogEntry): Seq[(String, CatExpr, Boolean)] =
      if (base.files.size < 2) Nil
      else equiBindings.filter { case (name, _, _) => skippableIn(base, name) }.take(2)

    /** The source pass of the pruning decision: the keys of each binding
      * ([[collectKeys]]); None when the source is empty (the merge is a
      * no-op). A binding whose source holds only NULL keys under `=`
      * matches nothing, so it prunes every file and later bindings are
      * not collected.
      */
    private def sourceKeys(bindings: Seq[(String, CatExpr, Boolean)]): Option[Seq[SourceKeys]] = {
      val src = source.alias(sourceAlias)
      def loop(rest: List[(String, CatExpr, Boolean)],
               acc: Vector[SourceKeys]): Option[Seq[SourceKeys]] = rest match {
        case Nil => Some(acc)
        case (_, srcExpr, nullSafe) :: more =>
          collectKeys(src, GraftColumnBridge.column(srcExpr), nullSafe) match {
            case None => None
            case Some(k @ SourceKeys.Values(Seq())) => Some(acc :+ k)
            case Some(k) => loop(more, acc :+ k)
          }
      }
      loop(bindings.toList, Vector.empty)
    }

    /** Every conjunct of the merge condition equi-binding a target column
      * to a source-only expression: (columnName, sourceExpr, viaNullSafe).
      */
    private def equiBindings: Seq[(String, CatExpr, Boolean)] = {
      def targetAttrName(e: CatExpr): Option[String] = e match {
        case a: UnresolvedAttribute
          if a.nameParts.length == 2 &&
            a.nameParts.head.equalsIgnoreCase(targetAlias) =>
          Some(a.nameParts(1))
        case _ => None
      }
      conjuncts(GraftColumnBridge.parsedExpression(mergeCondition)).flatMap {
        case CatEqualTo(l, r) if targetAttrName(l).isDefined && sourceOnly(r) =>
          Some((targetAttrName(l).get, r, false))
        case CatEqualTo(l, r) if targetAttrName(r).isDefined && sourceOnly(l) =>
          Some((targetAttrName(r).get, l, false))
        case CatEqualNullSafe(l, r) if targetAttrName(l).isDefined && sourceOnly(r) =>
          Some((targetAttrName(l).get, r, true))
        case CatEqualNullSafe(l, r) if targetAttrName(r).isDefined && sourceOnly(l) =>
          Some((targetAttrName(r).get, l, true))
        case _ => None
      }
    }

    // -- partition-pruning analysis --------------------------------------

    private def conjuncts(e: CatExpr): Seq[CatExpr] = e match {
      case CatAnd(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    private def isTargetAttr(e: CatExpr, p: String): Boolean = e match {
      case a: UnresolvedAttribute =>
        a.nameParts.length == 2 &&
          a.nameParts.head.equalsIgnoreCase(targetAlias) &&
          a.nameParts(1).equalsIgnoreCase(p)
      case _ => false
    }
    private def isSourceAttr(e: CatExpr, name: String): Boolean = e match {
      case a: UnresolvedAttribute =>
        a.nameParts.length == 2 &&
          a.nameParts.head.equalsIgnoreCase(sourceAlias) &&
          a.nameParts(1).equalsIgnoreCase(name)
      case _ => false
    }
    private def sourceOnly(e: CatExpr): Boolean =
      e.collect { case a: UnresolvedAttribute => a }.forall(a =>
        a.nameParts.length >= 2 && a.nameParts.head.equalsIgnoreCase(sourceAlias))

    /** The source-side expression an equi-conjunct of the merge condition
      * binds target partition column `p` to, if any. Null-safe equality
      * (`<=>`, the natural form for nullable partition keys) binds too.
      */
    private def partitionBinding(p: String): Option[CatExpr] =
      conjuncts(GraftColumnBridge.parsedExpression(mergeCondition)).collectFirst {
        case CatEqualTo(l, r) if isTargetAttr(l, p) && sourceOnly(r) => r
        case CatEqualTo(l, r) if isTargetAttr(r, p) && sourceOnly(l) => l
        case CatEqualNullSafe(l, r) if isTargetAttr(l, p) && sourceOnly(r) => r
        case CatEqualNullSafe(l, r) if isTargetAttr(r, p) && sourceOnly(l) => l
      }

    /** Pruning is only safe when no clause can write a row whose partition
      * value differs from the bound source expression: updates must not
      * touch partition columns; UpdateAll/InsertAll copy `src.p`, which is
      * provably in-scope only when the binding IS `src.p`; explicit insert
      * values must equal the binding. (overwritePartitions additionally
      * hard-fails on any out-of-scope row, so a gap here surfaces as an
      * error, never as silent corruption.)
      */
    private def clausesPreservePartitions(parts: Seq[String],
                                          bindings: Map[String, CatExpr]): Boolean = {
      def bindingIsSourceCopy(p: String) = isSourceAttr(bindings(p), p)
      val matchedOk = matched.forall {
        case Update(_, set) =>
          parts.forall(p => !set.keySet.exists(_.equalsIgnoreCase(p)))
        case UpdateAll(_) => parts.forall(bindingIsSourceCopy)
        case Delete(_) => true
        case _ => false
      }
      val insertOk = notMatched.forall {
        case InsertAll(_) => parts.forall(bindingIsSourceCopy)
        case Insert(_, values) => parts.forall { p =>
          values.collectFirst {
            case (k, v) if k.equalsIgnoreCase(p) => v
          }.exists(v => GraftColumnBridge.parsedExpression(expr(v)) == bindings(p))
        }
        case _ => false
      }
      matchedOk && insertOk
    }

    // -- implementation --------------------------------------------------

    /** Target row id. `monotonically_increasing_id` is deterministic for a
      * fixed scan partitioning (partitionId << 33 | offset), which holds
      * within one action over an immutable parquet snapshot; Delta itself
      * identifies touched rows by (file, rowIndex) — the same idea.
      */
    private val RID = "__graft_merge_rid"
    /** Source row id: NULL on target-only rows of the outer join. */
    private val SID = "__graft_merge_sid"
    private val Cls = "__graft_clause"
    private val MatchN = "__graft_match_n"

    // One clause index across the three classes: whenMatched clauses are
    // 0 until M, whenNotMatchedBySource M until M+B, whenNotMatched after.
    private def bySourceBase: Int = matched.length
    private def insertBase: Int = matched.length + notMatchedBySource.length

    // index of the first applicable clause (NULL = none applies)
    private def clauseIdx(clauses: Seq[Clause], offset: Int): Column =
      clauses.zipWithIndex.foldRight(lit(null).cast("int")) {
        case ((c, i), acc) =>
          c.condition match {
            case Some(cond) => when(expr(cond), lit(offset + i)).otherwise(acc)
            case None       => lit(offset + i) // unconditional: always matches from here
          }
      }

    private def indices(clauses: Seq[Clause], offset: Int)
                       (pick: Clause => Boolean): Seq[Int] =
      clauses.zipWithIndex.collect { case (c, i) if pick(c) => offset + i }

    private def isDelete(c: Clause) = c.isInstanceOf[Delete]
    private def isUpdate(c: Clause) =
      c.isInstanceOf[Update] || c.isInstanceOf[UpdateAll]

    private def deleteIdxs: Seq[Int] =
      indices(matched, 0)(isDelete) ++
        indices(notMatchedBySource, bySourceBase)(isDelete)

    // NULL-safe membership: a row without a clause is in no set
    private def clauseIn(idxs: Seq[Int]): Column =
      if (idxs.isEmpty) lit(false)
      else coalesce(col(Cls).isin(idxs: _*), lit(false))

    /** The one classification both the result and the CDC sidecar read:
      * the outer join of target (tagged `RID`) and source (tagged `SID`)
      * plus the index `Cls` of each row's first applicable clause, and the
      * row filter every output starts from. The filter drops source-only
      * rows no insert clause claims and checks each target row's matches,
      * counted by one window: with whenMatched clauses a target row matched
      * by more than one source row fails an in-plan assertion (leftmost in
      * the filter, so it sees every row, and in a filter predicate so
      * column pruning cannot drop it); an insert-only merge instead keeps
      * one pair per matched target row, which then passes through once
      * (Delta passes such rows through once and skips the multi-match
      * error when no whenMatched clause exists).
      *
      * The window runs over the joined rows, one partition per target row
      * (a source-only row alone, so those never pile into one partition).
      */
    private def classified(): (DataFrame, Column) = {
      val targetCols = target.columns.toSeq
      // Delta's analyzer rejects clause columns the target lacks unless
      // schema evolution is on (they would otherwise be silently dropped
      // by the name-keyed projection)
      val unknown = (matched.collect { case Update(_, set) => set.keys } ++
        notMatchedBySource.collect { case Update(_, set) => set.keys } ++
        notMatched.collect { case Insert(_, values) => values.keys })
        .flatten.filterNot(targetCols.contains).toSeq.distinct
      if (unknown.nonEmpty)
        throw new graft.GraftTypeError(
          s"MERGE clause refers to columns not in the target table: " +
            s"${unknown.mkString(", ")} (use withSchemaEvolution() to add them)")
      notMatched.find(c => !c.isInstanceOf[Insert] && !c.isInstanceOf[InsertAll])
        .foreach(c => throw new IllegalArgumentException(
          s"whenNotMatched only supports insert clauses, got $c"))
      val t = target.select(col("*"), monotonically_increasing_id().as(RID))
        .alias(targetAlias)
      val s = source.select(col("*"), monotonically_increasing_id().as(SID))
        .alias(sourceAlias)
      val isMatched = col(RID).isNotNull && col(SID).isNotNull
      val cls = when(isMatched, clauseIdx(matched, 0))
        .when(col(RID).isNull, clauseIdx(notMatched, insertBase))
        .otherwise(clauseIdx(notMatchedBySource, bySourceBase))
      val joined = t.join(s, mergeCondition,
        if (notMatched.isEmpty) "left_outer" else "full_outer")
      // RIDs are >= 0, so a source-only row's key -1 - SID never collides
      val perTarget = Window.partitionBy(coalesce(col(RID), lit(-1L) - col(SID)))
      // count the matches, or rank them for the insert-only pass-through
      val matchN =
        if (matched.nonEmpty) count(lit(1)).over(perTarget)
        else row_number().over(perTarget.orderBy(col(SID)))
      val c = joined.select(col("*"), cls.as(Cls), matchN.as(MatchN))
      val matchOk =
        if (matched.nonEmpty)
          assert_true(!isMatched || col(MatchN) <= 1,
            lit("MERGE: a target row was matched by multiple source rows; " +
              "the merge condition must identify at most one source row " +
              "per target row")).isNull
        else !isMatched || col(MatchN) === 1
      (c, matchOk && (col(RID).isNotNull || col(Cls).isNotNull))
    }

    // the target row as read, aligned to the target schema
    private def preImage: Seq[Column] = target.schema.fields.toSeq.map(f =>
      col(s"$targetAlias.${f.name}").cast(f.dataType).as(f.name))

    /** The written row: each column through the clause `Cls` names (its
      * set/values expression, the source column under updateAll/insertAll,
      * NULL for an insert that omits it), else the target value — which
      * is also how a row no clause applies to passes through.
      */
    private def postImage: Seq[Column] = target.schema.fields.toSeq.map { f =>
      val c = f.name
      val branches: Seq[(Int, Column)] =
        matched.zipWithIndex.flatMap {
          case (Update(_, set), i) => set.get(c).map(e => i -> expr(e))
          case (UpdateAll(_), i) => Some(i -> col(s"$sourceAlias.$c"))
          case _ => None // Delete: dropped by the filter in run()
        } ++ notMatchedBySource.zipWithIndex.flatMap {
          case (Update(_, set), i) => set.get(c).map(e => (bySourceBase + i) -> expr(e))
          case _ => None
        } ++ notMatched.zipWithIndex.collect {
          case (Insert(_, values), i) =>
            (insertBase + i) -> values.get(c).map(expr).getOrElse(lit(null))
          case (InsertAll(_), i) => (insertBase + i) -> col(s"$sourceAlias.$c")
        }
      val pre = col(s"$targetAlias.$c").cast(f.dataType)
      val post = branches match {
        case Seq() => pre
        case (i0, e0) +: rest =>
          rest.foldLeft(when(col(Cls) === i0, e0.cast(f.dataType))) {
            case (acc, (i, e)) => acc.when(col(Cls) === i, e.cast(f.dataType))
          }.otherwise(pre)
      }
      post.as(c)
    }

    private def run(): DataFrame = {
      val (c, ok) = classified()
      c.filter(ok && !clauseIn(deleteIdxs)).select(postImage: _*)
    }

    /** [[run]]'s rows as a commit writes them: range-partitioned by the
      * table's partition columns and the first equi-bound merge-key
      * column, so each written file holds one contiguous key range. The
      * outer join leaves its rows hash-partitioned by the key; written as
      * they are, every file would span the whole rewritten key range and
      * skip nothing for later merges and point reads. A table with a
      * `graft.write.sortBy` property is range-partitioned by the write
      * itself, and a merge without an equi-binding keeps the join's layout.
      */
    private def rewrite(base: ManagedTable.LogEntry): DataFrame = {
      val key = equiBindings.iterator
        .flatMap { case (n, _, _) => target.columns.find(_.equalsIgnoreCase(n)) }
        .nextOption()
      val sortedWrite =
        base.properties.get(ManagedTable.writeSortPropKey).exists(_.trim.nonEmpty)
      val out = run()
      key.filterNot(_ => sortedWrite).fold(out)(k =>
        out.repartitionByRange((base.partitionColumns :+ k).distinct.map(col): _*))
    }

    /** The labeled net change rows this merge produces (Delta CDF's MERGE
      * semantics — richer than the snapshot-diff derivation, which can
      * only approximate update rows as delete+insert pairs):
      * Delete-clause rows (matched or bySource) surface their pre-image as
      * `'delete'`, Update/UpdateAll rows their net pre/post pair as
      * `'update_preimage'`/`'update_postimage'` (value-identical rewrites
      * cancel, the same rule as the DML capture; netted per class),
      * insert clauses as `'insert'`. Pass-through rows (no clause applies)
      * emit nothing — they cancel in the derivation too, so sidecar ≡
      * derived feed as multisets modulo the update labels. Read from the
      * same classified frame as the result; an extra bounded pass over
      * the (pruned) target, run only when the table captures CDC.
      */
    private def changesFrame(): DataFrame = {
      val (c, ok) = classified()
      def labeled(df: DataFrame, label: String) =
        df.withColumn("_change_type", lit(label))
      def net(idxs: Seq[Int]): Seq[DataFrame] =
        if (idxs.isEmpty) Nil
        else {
          val u = c.filter(ok && clauseIn(idxs))
          val pre = u.select(preImage: _*)
          val post = u.select(postImage: _*)
          Seq(labeled(post.exceptAll(pre), "update_postimage"),
            labeled(pre.exceptAll(post), "update_preimage"))
        }
      val deleted =
        if (deleteIdxs.isEmpty) Nil
        else Seq(labeled(c.filter(ok && clauseIn(deleteIdxs)).select(preImage: _*),
          "delete"))
      val inserted = labeled(c.filter(ok && clauseIn(indices(notMatched, insertBase)(_ => true)))
        .select(postImage: _*), "insert")
      (deleted ++ net(indices(matched, 0)(isUpdate)) ++
        net(indices(notMatchedBySource, bySourceBase)(isUpdate)) :+ inserted)
        .reduce(_ unionByName _)
    }
  }

  /** [[Builder.execute]] for a merge whose SOURCE also reads the target —
    * SCD2's staged updates join the base to find the versions to close.
    * `stage` builds the merge over a given target frame, and `keys` is a
    * one-column frame whose values are the source's values of the merge's
    * `=` binding of target column `keyColumn` (NULLs and duplicates
    * ignored; empty exactly when the source is).
    *
    * One snapshot, one key pass: `keys` alone drives the file-pruning
    * decision, and the merge is then staged ONCE — over just the touched
    * files when pruning applies (so its source's own read of the target
    * touches only them too), else over the full snapshot. The staging
    * read, the merge's target read and the commit base are the same log
    * entry. The caller guarantees that the source's use of the target
    * depends only on target rows whose key is among `keys` (the rows the
    * touched files hold). The staged merge may carry no transaction
    * marker, schema evolution or notMatchedBySource clause: those need
    * [[Builder.execute]]'s own checks and full-rewrite rule. Partitioned
    * tables, tables without usable stats and nondeterministic keys take
    * the general path over the same snapshot.
    */
  private[graft] def executeStaged(table: ManagedTable, keyColumn: String,
                                   keys: DataFrame)(stage: DataFrame => Builder): Unit = {
    val base = table.latestEntry
    def checked(b: Builder): Builder = {
      require(b.txn.isEmpty && !b.evolveSchema && b.notMatchedBySource.isEmpty,
        "executeStaged takes no transaction marker, schema evolution or " +
          "notMatchedBySource clause; use Builder.execute")
      b
    }
    def full = checked(stage(table.snapshotDF(base)))
    if (!keys.queryExecution.analyzed.deterministic)
      full.withSourceOnce(_.executeAt(table, base))
    else if (base.partitionColumns.nonEmpty || base.files.size < 2 ||
             !skippableIn(base, keyColumn))
      full.executeAt(table, base)
    else collectKeys(keys, keys.col(keys.columns.head), nullSafe = false) match {
      case None => () // no source rows: the merge is a no-op
      case Some(k) => prunePlan(base, Seq(keyColumn -> false), Seq(k)) match {
        case FilePrune.Pruned(touched, keyFilters) =>
          checked(stage(table.scanFilesDF(touched, base)))
            .commitPruned(table, base, touched, keyFilters)
        case _ => full.overwriteAt(table, base)
      }
    }
  }

  /** Entry point: `Merge.into(targetDf, "base").using(srcDf, "staged_updates",
    * expr("base.pk = mergeKey"))...`
    */
  def into(target: DataFrame, targetAlias: String = "base"): Into =
    Into(target, targetAlias)

  final case class Into(target: DataFrame, targetAlias: String) {
    def using(source: DataFrame, sourceAlias: String, condition: Column): Builder =
      Builder(target, targetAlias, source, sourceAlias, condition)
    def using(source: DataFrame, sourceAlias: String, condition: String): Builder =
      Builder(target, targetAlias, source, sourceAlias, expr(condition))
  }
}
