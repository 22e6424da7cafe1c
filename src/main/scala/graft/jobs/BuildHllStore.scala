package graft.jobs

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

import graft.ops.Hll

/** Persisted HyperLogLog register store — the durable form of
  * [[graft.ops.Hll]] and the MAX-fold member of the stored-summary
  * family ([[BuildSketchStore]] CMS counters, [[BuildProfileStore]]
  * histograms — both ADDITIVE). An hourly 100 TB distinct-counting
  * pipeline folds each batch once into ≤ 2^p register rows, persists
  * the fold, and merges all of history at read; no historical batch is
  * ever re-scanned. The batch lifecycle is [[SummaryStore]]'s:
  *
  *   registers/batch=<id>/   (reg, rho) — one fold per batch
  *   meta/batch=<id>/        (p, hash_device) — one row
  *
  * '''Max-fold idempotence changes the protocol surface.''' The
  * additive stores need supersession sidecars (a re-fold of a grown
  * stream must RETIRE the stale fold or its cells double-count) and a
  * manifest-commit consolidation (sources + consolidated readable
  * together would double every cell). Per-register max is idempotent —
  * max(a, a) = a — so here:
  *
  *   - batches need NOT be disjoint: overlapping slices, a batch folded
  *     twice under two ids, and crash-retried writes are all harmless;
  *   - [[compactStreamed]] needs NO supersession machinery: a later
  *     re-fold of a grown streamed directory under a new label simply
  *     coexists with the stale fold;
  *   - [[consolidate]] needs NO manifest
  *     ([[SummaryStore.consolidateMerged]]): in the window where sources
  *     and the consolidated fold are both readable the merge is
  *     IDENTICAL.
  *
  * The flip side: max is not invertible, so there is '''no retraction
  * verb''' (the CMS store's linear `retract` has no analogue). The
  * takedown story is batch-granular: [[dropBatches]] removes the folds
  * that contained the deleted items, and the caller re-appends those
  * slices' SURVIVING items — cost bounded by the touched batches,
  * never the full history. Size takedown domains into batches
  * accordingly (per-source, per-tenant, per-day).
  *
  * '''Geometry.''' Register merge is only sound at one p and one hash
  * device. `Hll.mergeRegisters` range-checks cells, so a LARGER-p table
  * refuses there — but a SMALLER-p table's cells are all in range and
  * undetectable in the data; only its meta row, compared EXACTLY by the
  * merge gate, can refuse it.
  */
object BuildHllStore {

  /** Hash-family fingerprint: [[graft.ops.Hll]]'s two-salt md5 device.
    * A future device change must bump this so old stores refuse to
    * merge with new folds instead of silently mixing families.
    */
  val HashDevice = "md5-hll-v1"

  private val Store = SummaryStore.Kind(name = "BuildHllStore",
    noun = "HLL store", tableDir = "registers", table = "register table",
    device = HashDevice, columns = Seq("p" -> IntegerType),
    deviceCol = "hash_device", render = c => s"p=${c.getInt(0)}",
    drift = "geometry",
    driftHarm = "register max would silently corrupt every estimate",
    lossHarm = "every estimate would silently UNDER-count (max-folds " +
      "tolerate duplication, never loss)")

  private def fold(itemCol: String)(items: DataFrame, conv: Row): DataFrame =
    Hll.registers(items, itemCol, conv.getInt(0))

  private def maxed(registers: DataFrame, conv: Row): DataFrame =
    Hll.mergeRegisters(Seq(registers.select(col("reg"), col("rho"))),
      conv.getInt(0))

  /** Build the store over a base item batch ([[SummaryStore.run]]). */
  def run(spark: SparkSession, itemsPath: String, outPath: String,
      itemCol: String = "item", p: Int = Hll.DefaultP): Unit =
    SummaryStore.run(spark, Store, outPath, itemsPath,
      Store.convention(p))(fold(itemCol))

  /** Fold one batch of items into its own register table, under the
    * store's p ([[SummaryStore.append]]). Overlapping content is
    * harmless (max-fold — unlike the CMS store's strict disjointness
    * requirement), but the collision guard still applies: a re-used ID
    * with different content would lose the earlier batch's registers.
    */
  def append(spark: SparkSession, itemsPath: String, outPath: String,
      batchId: String = "", itemCol: String = "item"): Unit =
    SummaryStore.append(spark, Store, outPath, "append", batchId,
      itemsPath)(fold(itemCol))

  /** Fold a streaming cell-ingest directory
    * ([[graft.streaming.StreamingJob.runHllIngest]]'s per-occurrence
    * (reg, rho) restatement) into the store as ONE max-folded batch,
    * with NO supersession ([[SummaryStore.compactStreamed]]): a re-fold
    * of a grown stream coexists with the stale fold, the max unchanged.
    */
  def compactStreamed(spark: SparkSession, streamedPath: String,
      outPath: String, label: String = ""): Unit =
    SummaryStore.compactStreamed(spark, Store, outPath, streamedPath,
        label) { (streamed, conv) =>
      val cells = streamed.select(col("reg"), col("rho"))
      // eager range guard BEFORE the batch lands: a larger-p ingest is
      // detectable here and must refuse while the store is untouched (a
      // smaller-p ingest is not — which is why runHllIngest takes p FROM
      // the store rather than trusting its caller)
      val mM = Hll.m(conv.getInt(0)).toLong
      val bad = cells.filter(col("reg") < 0 || col("reg") >= mM ||
        col("rho") < 1L || col("rho") > 61L).count()
      require(bad == 0L,
        s"BuildHllStore.compactStreamed: $bad streamed cells fall outside " +
          s"reg ∈ [0, $mM) × rho ∈ [1, 61] — the ingest ran with a larger p " +
          "than the store's; re-ingest with the store's pinned p")
      cells.groupBy(col("reg")).agg(max(col("rho")).as("rho"))
    }

  /** The store's pinned p, from the base meta row. Public so the
    * streaming ingest takes its geometry FROM the store (the
    * narrower-hole rule: a smaller-p ingest is undetectable in data).
    */
  def storeP(spark: SparkSession, outPath: String,
      op: String = "storeP"): Int =
    SummaryStore.convention(spark, Store, outPath, op).getInt(0)

  /** The max-merged register table of every persisted batch, behind the
    * merge gate. Cost: one aggregate over ≤ batches · 2^p rows.
    */
  def mergedRegisters(spark: SparkSession, outPath: String): DataFrame = {
    val conv = SummaryStore.convention(spark, Store, outPath, "mergedRegisters")
    maxed(SummaryStore.listedTable(spark, Store, outPath, "mergedRegisters",
      conv), conv)
  }

  /** The store's distinct estimate: (est_distinct, n_zero_regs) over
    * everything every batch has folded.
    */
  def estimate(spark: SparkSession, outPath: String): DataFrame = {
    val p = storeP(spark, outPath, "estimate")
    Hll.estimate(mergedRegisters(spark, outPath), p)
  }

  /** Fold many batch directories into ONE `merged-` batch — fan-in
    * maintenance with NO manifest ([[SummaryStore.consolidateMerged]]).
    */
  def consolidate(spark: SparkSession, outPath: String,
      batches: Seq[String]): Unit =
    SummaryStore.consolidateMerged(spark, Store, outPath, batches)(maxed)

  /** The takedown verb max-folds allow ([[SummaryStore.dropBatches]]):
    * drop whole batches, then re-append the dropped slices' SURVIVING
    * items.
    */
  def dropBatches(spark: SparkSession, outPath: String,
      ids: Seq[String]): Unit =
    SummaryStore.dropBatches(spark, Store, outPath, ids)

  def main(args: Array[String]): Unit =
    SummaryStore.main(Store.name, args, 2, "<itemsParquet> <outPath> [p]") {
      spark =>
        run(spark, args(0), args(1), "item",
          if (args.length > 2) args(2).toInt else Hll.DefaultP)
    }
}
