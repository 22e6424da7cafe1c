package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Change-data-capture operators: apply a changelog onto a snapshot
  * (merge/upsert — the batch form of what lakehouse MERGE INTO does) and
  * merge a new CDC batch into an existing SCD2 history incrementally.
  *
  * The reference pipeline re-derives state from raw hourly logs
  * (SessionizationBuiltIn.scala:41–52 re-reads, never merges); at 100 TB
  * a daily full re-derive is the single most expensive job in the lake,
  * so the incremental forms here are the scale path: cost tracks the
  * CHANGE volume plus one dimension-sized shuffle, never the fact table.
  */
object Cdc {

  /** Latest change per key by (tsCol, tieCol) — rank=1 over a window,
    * ONE shuffle on the key. The tie column must be unique per key so
    * equal-timestamp changes resolve deterministically (the SCD2 rule,
    * Dimensions.scala).
    */
  def latestPerKey(changes: DataFrame, keyCols: Seq[String], tsCol: String,
      tieCol: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol).desc, col(tieCol).desc)
    changes.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .drop("__rk")
  }

  /** Apply a changelog to a snapshot: per key, the LATEST change wins —
    * an upsert (`opCol` != "D") replaces the key's row, a delete
    * (`opCol` == "D") removes it, and keys without changes pass through
    * unchanged. Both frames must share the key columns; the value
    * columns of the OUTPUT are `valueCols` (present in both).
    *
    * Scale shape: the changelog condenses to one row per changed key via
    * [[latestPerKey]] (one shuffle of the CHANGES, not the snapshot),
    * then a single full-outer join on the key merges it with the
    * snapshot. At 100 TB the snapshot side dominates; with both sides
    * bucketed/partitioned by the key the join is co-located and the
    * whole apply is one pass over the snapshot plus the (much smaller)
    * change set — never a rebuild from raw history.
    */
  def applyChangelog(snapshot: DataFrame, changes: DataFrame,
      keyCols: Seq[String], valueCols: Seq[String], opCol: String,
      tsCol: String, tieCol: String): DataFrame = {
    val latest = latestPerKey(changes, keyCols, tsCol, tieCol)
      .select((keyCols.map(col) :+ col(opCol).as("__op")) ++
        valueCols.map(c => col(c).as(s"__new_$c")): _*)
    snapshot
      .select((keyCols ++ valueCols).map(col): _*)
      .join(latest, keyCols, "full_outer")
      // delete wins over whatever the snapshot held; absent op = no change
      .filter(col("__op").isNull || col("__op") =!= "D")
      .select(keyCols.map(col) ++ valueCols.map(c =>
        when(col("__op").isNotNull, col(s"__new_$c"))
          .otherwise(col(c)).as(c)): _*)
  }

  /** Event-sourced latest-state upsert: per key, the row with the
    * maximum (ts, tie) across snapshot ∪ changes — both frames must
    * carry the same columns (key + ts + tie + values). Unlike
    * [[applyChangelog]] this form is ASSOCIATIVE and COMMUTATIVE in the
    * change batches: applying them in any split or order converges to
    * the same state, because max-by-(ts,tie) is a semilattice. That is
    * the property a streaming foreachBatch upsert sink needs — no
    * cross-batch ordering guarantee from the file source (deletes are
    * deliberately absent here: a tombstone-free delete does not
    * commute; use [[applyChangelog]] with ordered batches for those).
    *
    * Scale shape: one union (no shuffle) + one key-window shuffle over
    * snapshot ∪ changes. At 100 TB, bucket the materialized snapshot by
    * the key so the window's exchange only moves the change side.
    */
  def upsertLatest(snapshot: DataFrame, changes: DataFrame,
      keyCols: Seq[String], tsCol: String, tieCol: String): DataFrame =
    latestPerKey(
      snapshot.unionByName(changes.select(snapshot.columns.toSeq.map(col): _*)),
      keyCols, tsCol, tieCol)

  /** Merge a new CDC batch into an existing SCD2 history WITHOUT
    * rebuilding from the full log: closed intervals are immutable (their
    * valid_to was fixed by a change already in the prefix), so only each
    * key's OPEN interval can change. The open rows are replayed as
    * synthetic log rows (ts = valid_from) together with the batch
    * through the same [[Dimensions.scd2]] condense; a batch row whose
    * value equals the key's open value extends the run (no new
    * interval), a changed value closes the open interval at the change's
    * ts, and batch-only keys build a fresh history. Result ≡
    * `scd2(prefix ∪ batch)` — the invariant the `scd2_merge` oracle
    * gates end-to-end (full rebuild in SQL vs incremental here).
    *
    * Contract: every batch row must be strictly later than its key's
    * open `valid_from` (true whenever batches are cut by time, as the
    * boundary split here is); the synthetic rows carry Long.MinValue as
    * the tie so they sort first even against an equal-ts batch row.
    *
    * Scale shape: ONE shuffle over (open rows ∪ batch) — live-key count
    * plus change volume, never the history's row count; the closed
    * intervals are a pass-through union. Unaffected keys' open rows ride
    * through the condense and reproduce themselves exactly, which costs
    * one dimension-sized shuffle but zero extra joins; restrict with a
    * semi-join on batch keys first if the live-key set dwarfs the batch.
    */
  def scd2Merge(history: DataFrame, batch: DataFrame, keyCol: String,
      attrCol: String, tsCol: String, tieCol: String): DataFrame = {
    val closed = history.filter(col("valid_to").isNotNull)
      .select(col(keyCol), col(attrCol), col("valid_from"), col("valid_to"))
    val openAsLog = history.filter(col("valid_to").isNull)
      .select(col(keyCol), col(attrCol),
        col("valid_from").as(tsCol), lit(Long.MinValue).as(tieCol))
    val rebuilt = Dimensions.scd2(
      openAsLog.unionByName(
        batch.select(col(keyCol), col(attrCol), col(tsCol), col(tieCol))),
      keyCol, attrCol, tsCol, tieCol)
    closed.unionByName(rebuilt)
  }
}
