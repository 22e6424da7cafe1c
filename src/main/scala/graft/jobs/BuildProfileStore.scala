package graft.jobs

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.ops.Sketches

/** Persisted bucket-histogram store — the numeric-profile member of
  * the stored-summary family ([[BuildSketchStore]] is its counting
  * sibling; both exist because a 100 TB pipeline cannot re-scan
  * history to answer "what is the p99 now"). Each batch of a numeric
  * column folds ONCE into a tiny (bucket, cnt) histogram
  * ([[Sketches.bucketHistogram]]); histories merge at read by
  * cell-wise addition (SUM); any nearest-rank quantile falls out of the
  * merged table as a [lo, hi] bound with error < the bucket width
  * ([[Sketches.bucketedQuantiles]]) — no corpus sort, ever. The batch
  * lifecycle is [[SummaryStore]]'s:
  *
  *   hist/batch=<id>/   (bucket, cnt) — one fold per batch
  *   meta/batch=<id>/   (bucket_width, device) — one row
  *
  * Batches must cover DISJOINT row slices (bucket counts SUM). Bucket
  * addition is only meaningful under ONE width, and unlike CMS geometry
  * a wrong-width table has no detectable cell-range signature at all
  * (the bucket space is unbounded) — the per-batch meta row, compared
  * EXACTLY by the merge gate, is the only guard there is.
  */
object BuildProfileStore {

  /** Bucket-definition fingerprint: [[Sketches.floorDiv]] (true floor
    * toward −∞ for either sign). A future bucketing change must bump
    * this so old stores refuse to merge with new folds.
    */
  val Device = "floor-div-v1"

  private val Store = SummaryStore.Kind(name = "BuildProfileStore",
    noun = "profile store", tableDir = "hist", table = "histogram",
    device = Device, columns = Seq("bucket_width" -> LongType),
    deviceCol = "device", render = c => s"width ${c.getLong(0)}",
    drift = "bucketing",
    driftHarm = "bucket addition would silently corrupt every quantile",
    lossHarm = "every quantile would silently shift")

  private def fold(valueCol: String, negate: Boolean = false)(
      values: DataFrame, conv: Row): DataFrame = {
    val hist = Sketches.bucketHistogram(values, valueCol, conv.getLong(0))
    if (negate) hist.withColumn("cnt", -col("cnt")) else hist
  }

  private def summed(cells: DataFrame): DataFrame =
    cells.select(col("bucket"), col("cnt"))
      .groupBy(col("bucket")).agg(sum(col("cnt")).as("cnt"))

  def run(spark: SparkSession, valuesPath: String, outPath: String,
      valueCol: String = "value", width: Long = 100L): Unit =
    SummaryStore.run(spark, Store, outPath, valuesPath,
      Store.convention(width))(fold(valueCol))

  /** Fold one NEW batch (disjoint rows) into its own histogram, under
    * the store's width ([[SummaryStore.append]]).
    */
  def append(spark: SparkSession, valuesPath: String, outPath: String,
      batchId: String = "", valueCol: String = "value"): Unit =
    SummaryStore.append(spark, Store, outPath, "append", batchId,
      valuesPath)(fold(valueCol))

  /** The takedown verb: RETRACT a previously-folded slice by appending
    * its NEGATED histogram — bucket counts are linear, so
    * `hist(all) − hist(deleted) = hist(remaining)` exactly and every
    * quantile bound is thereafter derived from the remaining rows as
    * if the deleted ones had never been folded. Costs one fold of the
    * DELETED values only; no history re-scan. Retracting values never
    * folded drives merged buckets negative, which [[mergedHistogram]]
    * refuses loudly (a negative count would corrupt the cumulative
    * rank walk silently). IDEMPOTENT per `batchId`.
    */
  def retract(spark: SparkSession, valuesPath: String, outPath: String,
      batchId: String = "", valueCol: String = "value"): Unit =
    SummaryStore.append(spark, Store, outPath, "retract", batchId,
      valuesPath, idPrefix = "retract-")(fold(valueCol, negate = true))

  /** Fold a streaming bucket-ingest directory
    * ([[graft.streaming.StreamingJob.runProfileIngest]]'s per-row
    * (bucket, cnt=1) cells) into one summed batch. Histograms are
    * additive like counters, so a grown-stream re-fold must retire the
    * stale fold ([[SummaryStore.compactSuperseding]]); its crash window
    * shifts quantile bounds at most one rank-walk step until the
    * retirement retries.
    *
    * Geometry is ENTIRELY meta discipline here: a wrong-width ingest
    * has no detectable range signature at all (the bucket space is
    * unbounded in both directions), so `runProfileIngest`'s width MUST
    * be the store's pinned value — the fold writes the batch meta with
    * the STORE width it cannot verify.
    */
  def compactStreamed(spark: SparkSession, streamedPath: String,
      outPath: String, label: String = ""): Unit =
    SummaryStore.compactSuperseding(spark, Store, outPath, streamedPath,
      label)((streamed, _) => summed(streamed))

  /** The store's pinned bucket width, from the base meta row. */
  def storeWidth(spark: SparkSession, outPath: String,
      op: String = "storeWidth"): Long =
    SummaryStore.convention(spark, Store, outPath, op).getLong(0)

  /** Every persisted batch merged to one histogram, behind the merge
    * gate; `asOf` reads a [[snapshot]]-pinned frontier instead of the
    * live one.
    */
  def mergedHistogram(spark: SparkSession, outPath: String,
      asOf: Option[String] = None): DataFrame = {
    val conv = SummaryStore.convention(spark, Store, outPath, "mergedHistogram")
    val merged = Sketches.mergeHistograms(Seq(
      SummaryStore.activeTable(spark, Store, outPath, "mergedHistogram",
          conv, asOf)
        .select(col("bucket"), col("cnt"))))
    // retraction sanity (see [[BuildSketchStore.mergedCounters]]): a
    // negative merged bucket proves a retract removed values never
    // folded — the cumulative rank walk would corrupt silently
    val negs = merged.filter(col("cnt") < 0).count()
    if (negs > 0)
      throw new IllegalStateException(
        s"BuildProfileStore.mergedHistogram: $negs merged buckets are " +
          "negative — a retract batch removed values that were never " +
          "folded (or was applied twice under different ids); delete the " +
          "offending retract batch or re-fold the missing appends")
    // drop exactly-cancelled buckets: a fully-retracted bucket must not
    // survive as a zero row (it would be a no-op for ranks but a
    // spurious row for cell-compare consumers and bucket counts)
    merged.filter(col("cnt") > 0)
  }

  /** Fold many histogram batch directories into ONE — the fan-in step,
    * under [[SummaryStore.consolidate]]'s manifest-commit protocol
    * (histograms SUM). Live folds refuse until [[sealFold]].
    */
  def consolidate(spark: SparkSession, outPath: String,
      batches: Seq[String]): Unit =
    SummaryStore.consolidate(spark, Store, outPath, batches)(summed)

  /** Pin the current batch frontier under `name` for later
    * [[mergedHistogram]] `asOf` reads ([[SummaryStore.snapshot]]).
    */
  def snapshot(spark: SparkSession, outPath: String,
      name: String): Set[String] =
    SummaryStore.snapshot(spark, Store, outPath, name)

  /** Drop a fold's supersession sidecar so it can consolidate — ONLY
    * after its streamed directory is retired ([[SummaryStore.seal]]).
    */
  def sealFold(spark: SparkSession, outPath: String, id: String): Unit =
    SummaryStore.seal(spark, Store, outPath, id)

  /** Nearest-rank quantile bounds over everything the store's batches
    * cover — [[Sketches.bucketedQuantiles]] over [[mergedHistogram]],
    * error < the store's bucket width, no source re-scan.
    */
  def quantiles(spark: SparkSession, outPath: String,
      qs: Seq[(Int, Int)]): DataFrame =
    Sketches.bucketedQuantiles(mergedHistogram(spark, outPath),
      storeWidth(spark, outPath, "quantiles"), qs)

  def main(args: Array[String]): Unit =
    SummaryStore.main(Store.name, args, 2, "<valuesParquet> <outPath> [width]") {
      spark =>
        run(spark, args(0), args(1), "value",
          if (args.length > 2) args(2).toLong else 100L)
    }
}
