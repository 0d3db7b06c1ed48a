package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{GraftTypeError, errors}
import graft.tables.{ManagedTable, Merge}

/** SCD Type-2 upsert (reference: `type_2_scd_upsert` mack/__init__.py:11-40
  * and `type_2_scd_generic_upsert` :43-141).
  *
  * Semantics preserved exactly:
  *  - the change predicate is a null-UNSAFE `<>` OR-chain (:99-106): a change
  *    to/from NULL in a single attribute does not trigger a new version
  *    (three-valued logic), but does when any other attribute changed;
  *  - exact-duplicate updates are no-ops (matched rows fail the update
  *    condition; their pkey-keyed staging row matches and never inserts);
  *  - one MERGE handles both "close current version" and "insert new
  *    version" via the NULL-mergeKey staging union (:107-114);
  *  - works over any orderable effective-time type (timestamp, date, int).
  *
  * Scale shape: an upsert through [[genericUpsert]] reads one snapshot and
  * collects the batch's primary keys once (on the driver when the batch is
  * a local frame). On a stats-bearing table those keys select the files
  * whose pk bounds overlap the batch, and the merge is staged once over
  * just those files: both the staging join `updates ⋈ base ON pk` and the
  * merge's single outer join read only them, from the same log entry the
  * commit is based on. Without stats, or when every file overlaps, both
  * read the full snapshot.
  */
object Scd2 {

  /** Pure core: post-upsert table contents. */
  def apply(base: DataFrame, updates: DataFrame, primaryKey: String,
            attrColNames: Seq[String],
            isCurrentColName: String = "is_current",
            effectiveTimeColName: String = "effective_time",
            endTimeColName: String = "end_time"): DataFrame =
    builder(base, updates, primaryKey, attrColNames,
      isCurrentColName, effectiveTimeColName, endTimeColName).result()

  /** The staged-updates MERGE both shells share. */
  private def builder(base: DataFrame, updates: DataFrame, primaryKey: String,
                      attrColNames: Seq[String],
                      isCurrentColName: String,
                      effectiveTimeColName: String,
                      endTimeColName: String): Merge.Builder = {
    validate(base.columns.toSeq, updates, primaryKey, attrColNames,
      isCurrentColName, effectiveTimeColName, endTimeColName)
    staged(base, updates, primaryKey, attrColNames,
      isCurrentColName, effectiveTimeColName, endTimeColName)
  }

  private def validate(baseCols: Seq[String], updates: DataFrame, primaryKey: String,
                       attrColNames: Seq[String],
                       isCurrentColName: String,
                       effectiveTimeColName: String,
                       endTimeColName: String): Unit = {
    // validate the base table (reference :78-87)
    val requiredBase = (primaryKey +: attrColNames) ++
      Seq(isCurrentColName, effectiveTimeColName, endTimeColName)
    if (baseCols.sorted != requiredBase.sorted)
      throw new GraftTypeError(
        s"The base table has these columns ${errors.pyRepr(baseCols)}, " +
        s"but these columns are required ${errors.pyRepr(requiredBase)}")
    // validate the updates DataFrame (reference :89-96)
    val updCols = updates.columns.toSeq
    val requiredUpd = (primaryKey +: attrColNames) :+ effectiveTimeColName
    if (updCols.sorted != requiredUpd.sorted)
      throw new GraftTypeError(
        s"The updates DataFrame has these columns ${errors.pyRepr(updCols)}, " +
        s"but these columns are required ${errors.pyRepr(requiredUpd)}")
  }

  private def staged(base: DataFrame, updates: DataFrame, primaryKey: String,
                     attrColNames: Seq[String],
                     isCurrentColName: String,
                     effectiveTimeColName: String,
                     endTimeColName: String): Merge.Builder = {
    val updatesAttrs = attrColNames
      .map(a => s"updates.$a <> base.$a").mkString(" OR ")
    val stagedUpdatesAttrs = attrColNames
      .map(a => s"staged_updates.$a <> base.$a").mkString(" OR ")

    // staged_part_1: rows whose current version must be closed (:107-112)
    val stagedPart1 = updates.alias("updates")
      .join(base.alias("base"), primaryKey)
      .where(s"base.$isCurrentColName = true AND ($updatesAttrs)")
      .selectExpr("NULL as mergeKey", "updates.*")
    // staged_part_2: all updates, keyed by pk (:113)
    val stagedPart2 = updates.selectExpr(s"$primaryKey as mergeKey", "*")
    val stagedUpdates = stagedPart1.union(stagedPart2)

    val insertValues =
      attrColNames.map(a => a -> s"staged_updates.$a").toMap ++ Map(
        primaryKey -> s"staged_updates.$primaryKey",
        isCurrentColName -> "true",
        effectiveTimeColName -> s"staged_updates.$effectiveTimeColName",
        endTimeColName -> "null")

    // merge key QUALIFIED with the source alias (same resolution — the
    // column exists only on the source) so Merge.execute's pruning
    // analysis can recognize the equi-binding
    Merge.into(base, "base")
      .using(stagedUpdates, "staged_updates",
        s"base.$primaryKey = staged_updates.mergeKey")
      .whenMatchedUpdate(
        condition = s"base.$isCurrentColName = true AND ($stagedUpdatesAttrs)",
        set = Map(
          isCurrentColName -> "false",
          endTimeColName -> s"staged_updates.$effectiveTimeColName"))
      .whenNotMatchedInsert(insertValues)
  }

  /** Generic shell (reference :43-141). Routed through
    * `Merge.executeStaged`, so a stats-bearing table rewrites only the
    * files whose primary-key bounds overlap the update batch (and a
    * pk-partition-bound table only its touched partitions), and the
    * staging join reads only those files too — a 1-row SCD2 upsert stops
    * reading and rewriting the whole table.
    */
  def genericUpsert(table: ManagedTable, updates: DataFrame, primaryKey: String,
                    attrColNames: Seq[String], isCurrentColName: String,
                    effectiveTimeColName: String, endTimeColName: String): Unit = {
    validate(table.schema.fieldNames.toSeq, updates, primaryKey, attrColNames,
      isCurrentColName, effectiveTimeColName, endTimeColName)
    // the merge binds base.pk = staged_updates.mergeKey, whose non-NULL
    // values are exactly the updates' primary keys
    Merge.executeStaged(table, primaryKey, updates.select(col(primaryKey)))(base =>
      staged(base, updates, primaryKey, attrColNames,
        isCurrentColName, effectiveTimeColName, endTimeColName))
  }

  /** Conventional-column wrapper (reference :11-40). */
  def upsert(table: ManagedTable, updates: DataFrame, primaryKey: String,
             attrColNames: Seq[String]): Unit =
    genericUpsert(table, updates, primaryKey, attrColNames,
      "is_current", "effective_time", "end_time")
}
