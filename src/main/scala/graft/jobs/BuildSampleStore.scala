package graft.jobs

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

import graft.ops.TextOps

/** Persisted exact-k weighted sample — the ORDER-STATISTIC member of
  * the stored-summary family, completing its algebra taxonomy:
  * counters and histograms fold by SUM ([[BuildSketchStore]],
  * [[BuildProfileStore]] — linear, retractable, manifest-commit
  * consolidation), the novelty filter by BIT_OR ([[BuildBloomStore]]),
  * HLL registers by MAX ([[BuildHllStore]]), and a DLT priority sample
  * by TOP-(k+1) — an order statistic, so like max it is IDEMPOTENT
  * (duplicate candidate rows dedup away; overlapping batches are
  * harmless) and NOT invertible (takedown is batch-granular
  * [[dropBatches]], not a retract). The batch lifecycle is
  * [[SummaryStore]]'s.
  *
  * The fold law that makes the sample mergeable
  * ([[graft.ops.TextOps.priorityCandidates]]): every member of the
  * union's top-(k+1) priorities is in its own slice's top-(k+1), so
  * per-batch candidate tables (doc_id, w) — ≤ k+1 rows each — merge
  * exactly: dedup, re-rank, cut. τ and the unbiased est_w = max(w, τ)
  * then derive from the merged candidates, giving BYTE-IDENTICAL
  * output to a one-shot [[graft.ops.TextOps.prioritySample]] over the
  * union of every batch's input — an hourly 100 TB corpus keeps an
  * always-current exact-k training subsample at the cost of one
  * TakeOrderedAndProject per batch, never a rescan.
  *
  *   candidates/batch=<id>/   (doc_id, w) — ≤ k+1 rows per batch
  *   meta/batch=<id>/         (k, hash_device) — one row
  *
  * Priorities are NOT stored: they are a pure function of (doc_id, w)
  * through the one shared device ([[TextOps.withPriority]]), recomputed
  * at read — a stored copy could silently drift from the device.
  *
  * '''Convention''': a batch folded with a SMALLER k kept too few
  * candidates — rows that belong in the merged top-(k+1) may be gone,
  * silent under-coverage with NO signature in the data (candidate rows
  * are just (id, w) — the strongest form of the meta rule, like the
  * profile store's width). A LARGER-k batch's extra candidates are
  * genuine rows and could not corrupt the merged top-(k+1), but the
  * merge gate still refuses it — convention drift is how the smaller-k
  * hole arrives next quarter.
  *
  * '''Cross-batch weight consistency''': the same doc_id appearing in
  * two batches with DIFFERENT w is a semantic conflict (two claims
  * about one document's weight — est_w would depend on merge order);
  * [[mergedCandidates]] refuses loudly. Identical duplicates dedup
  * away (idempotence).
  */
object BuildSampleStore {

  /** Hash-family fingerprint: the DLT md5-uniform device
    * ([[TextOps.withPriority]]). Bump on any device change so old
    * stores refuse new folds.
    */
  val HashDevice = "md5-dlt-v1"

  private val Store = SummaryStore.Kind(name = "BuildSampleStore",
    noun = "sample store", tableDir = "candidates", table = "candidate table",
    device = HashDevice, columns = Seq("k" -> IntegerType),
    deviceCol = "hash_device", render = c => s"k=${c.getInt(0)}",
    drift = "convention",
    driftHarm = "a smaller-k fold dropped rows that belong in the merged " +
      "top-(k+1)",
    lossHarm = "the sample would silently under-cover")

  /** The top-(k+1) candidates of (doc_id, w) rows. DISTINCT before the
    * cut: at-least-once streamed ingest can land the same row twice,
    * and a duplicate would occupy two of the k+1 slots, evicting the
    * genuine (k+1)-th candidate — the merged tau (and every est_w)
    * would then silently diverge from the one-shot sample.
    */
  private def topCandidates(rows: DataFrame, k: Int): DataFrame =
    TextOps.withPriority(rows.select(col("doc_id"), col("w")).distinct(),
        "doc_id")
      .orderBy(col("priority").desc, col("doc_id"))
      .limit(k + 1)
      .select(col("doc_id"), col("w"))

  private def fold(weightCol: String, idCol: String)(docs: DataFrame,
      conv: Row): DataFrame =
    TextOps.priorityCandidates(docs, conv.getInt(0), weightCol, idCol)
      .select(col(idCol).as("doc_id"), col("w"))

  /** Build the store over a base corpus batch (parquet with `idCol` and
    * `weightCol`; [[SummaryStore.run]]).
    */
  def run(spark: SparkSession, docsPath: String, outPath: String,
      k: Int, weightCol: String = "n_chars",
      idCol: String = "doc_id"): Unit = {
    require(k >= 1, s"BuildSampleStore.run: k must be >= 1, got $k")
    SummaryStore.run(spark, Store, outPath, docsPath,
      Store.convention(k))(fold(weightCol, idCol))
  }

  /** Fold one corpus batch into its ≤ (k+1)-row candidate table, under
    * the store's k ([[SummaryStore.append]]); overlapping content is
    * harmless (identical candidate rows dedup at read).
    */
  def append(spark: SparkSession, docsPath: String, outPath: String,
      batchId: String = "", weightCol: String = "n_chars",
      idCol: String = "doc_id"): Unit =
    SummaryStore.append(spark, Store, outPath, "append", batchId,
      docsPath)(fold(weightCol, idCol))

  /** Fold a streaming (doc_id, w) ingest directory
    * ([[graft.streaming.StreamingJob.runSampleIngest]]) into the store
    * as ONE candidate batch. NO supersession machinery — a re-fold of a
    * grown streamed directory under a new label coexists harmlessly
    * (order-statistic idempotence, the [[BuildHllStore]] argument).
    */
  def compactStreamed(spark: SparkSession, streamedPath: String,
      outPath: String, label: String = ""): Unit =
    SummaryStore.compactStreamed(spark, Store, outPath, streamedPath,
        label) { (streamed, conv) =>
      val rows = streamed.select(col("doc_id"), col("w"))
      // eager weight guard BEFORE the batch lands (the ingest projects
      // guarded weights, but compactStreamed must not trust its input —
      // a null or negative w would sink a row's priority silently)
      val bad = rows.filter(col("w").isNull || col("w") < 0 ||
        col("w") > (Long.MaxValue >> 16)).count()
      require(bad == 0L,
        s"BuildSampleStore.compactStreamed: $bad streamed rows carry null, " +
          "negative, or > 2^47-1 weights — priorities would corrupt; " +
          "fix the ingest")
      topCandidates(rows, conv.getInt(0))
    }

  /** The store's pinned k, from the base meta row. */
  def storeK(spark: SparkSession, outPath: String,
      op: String = "storeK"): Int =
    SummaryStore.convention(spark, Store, outPath, op).getInt(0)

  /** Every batch's candidates, deduped and re-prioritized, behind the
    * merge gate plus this store's own: a doc_id carrying two DIFFERENT
    * weights across batches refuses by id. Cost: one pass over
    * ≤ batches · (k+1) rows.
    */
  def mergedCandidates(spark: SparkSession, outPath: String): DataFrame = {
    val conv = SummaryStore.convention(spark, Store, outPath, "mergedCandidates")
    val all = SummaryStore.listedTable(spark, Store, outPath,
        "mergedCandidates", conv)
      .select(col("doc_id"), col("w"))
      .distinct()
    val conflicted = all.groupBy(col("doc_id"))
      .agg(countDistinct(col("w")).as("nw"))
      .filter(col("nw") > 1)
      .orderBy(col("doc_id")).limit(20)
      .collect().map(_.get(0))
    if (conflicted.nonEmpty)
      throw new IllegalStateException(
        s"BuildSampleStore.mergedCandidates: doc ids " +
          s"${conflicted.mkString(", ")} carry DIFFERENT weights across " +
          "batches — two claims about one document's weight make est_w " +
          "merge-order-dependent; re-fold the offending batches with " +
          "consistent weights")
    TextOps.withPriority(all, "doc_id")
  }

  /** The store's sample: byte-identical to a one-shot
    * `TextOps.prioritySample(union of every batch's input, k)` —
    * (doc_id, w, priority, est_w, rk), rk 1..k.
    */
  def sample(spark: SparkSession, outPath: String): DataFrame = {
    val k = storeK(spark, outPath, "sample")
    TextOps.sampleFromCandidates(mergedCandidates(spark, outPath),
      k, "doc_id")
  }

  /** Fan-in maintenance: fold many candidate batch dirs into ONE
    * `merged-` batch, truncated to the merged top-(k+1) — the fold law
    * says nothing below survives a union anyway. NO manifest
    * ([[SummaryStore.consolidateMerged]], the [[BuildHllStore]]
    * argument).
    */
  def consolidate(spark: SparkSession, outPath: String,
      batches: Seq[String]): Unit =
    SummaryStore.consolidateMerged(spark, Store, outPath, batches) {
      (sources, conv) => topCandidates(sources, conv.getInt(0))
    }

  /** Batch-granular takedown ([[SummaryStore.dropBatches]]; order
    * statistics are not invertible — a deleted doc inside the sample
    * needs its slice re-folded to refill the rank it vacates).
    */
  def dropBatches(spark: SparkSession, outPath: String,
      ids: Seq[String]): Unit =
    SummaryStore.dropBatches(spark, Store, outPath, ids)

  def main(args: Array[String]): Unit =
    SummaryStore.main(Store.name, args, 3,
        "<docsParquet> <outPath> <k> [weightCol] [idCol]") { spark =>
      run(spark, args(0), args(1), args(2).toInt,
        if (args.length > 3) args(3) else "n_chars",
        if (args.length > 4) args(4) else "doc_id")
    }
}
