package graft.jobs

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

import graft.ops.Dedup

/** Persisted Bloom-filter store — the exact-novelty member of the
  * stored-summary family ([[BuildSketchStore]] counts,
  * [[BuildProfileStore]] profiles, this one answers "have we seen this
  * text verbatim?"). `Dedup.bloomNovelDocuments` is the right QUERY
  * shape but rebuilds the filter from the WHOLE seen corpus every
  * batch — at 100 TB that is a full corpus pass per daily increment
  * for bits that never change. Here each batch of seen docs folds ONCE
  * into its own ≤ mBits/64-row word table; histories merge at read by
  * `bit_or` (the defining Bloom property: the union corpus's filter IS
  * the bitwise OR of the slice filters — red-tested bit-for-bit); the
  * increment probes the merged filter and only bloom-positive
  * candidates touch the seen corpus, semi-join pruned. The batch
  * lifecycle is [[SummaryStore]]'s:
  *
  *   bloom/batch=<id>/   (word, bits) — one fold per batch
  *   meta/batch=<id>/    (m_bits, k_probes, hash_device) — one row
  *
  * Overlapping doc slices are harmless for bits (OR is idempotent) but
  * wasteful. The meta row matters more here than anywhere: a filter
  * built at a SMALLER mBits has all word indices in range and a
  * different probe geometry entirely — its bits would OR in as noise
  * and, worse, the PROBE would test positions the narrow filter never
  * set, yielding false "novel" verdicts the exact verify cannot catch
  * (it only checks candidates the bloom admits).
  */
object BuildBloomStore {

  /** Probe-device fingerprint: disjoint 32-bit md5 slices mod mBits
    * ([[Dedup.bloomTextFilter]]). Bump on any probe change so old
    * stores refuse to merge with new folds.
    */
  val HashDevice = "md5-bloom-v1"

  private val Store = SummaryStore.Kind(name = "BuildBloomStore",
    noun = "bloom store", tableDir = "bloom", table = "filter",
    device = HashDevice,
    columns = Seq("m_bits" -> IntegerType, "k_probes" -> IntegerType),
    deviceCol = "hash_device",
    render = c => s"${c.getInt(0)} bits, k=${c.getInt(1)}",
    drift = "geometry",
    driftHarm = "their bits would OR in as noise and the probe could " +
      "mint false 'novel' verdicts the exact verify cannot catch",
    lossHarm = "every probe could mint false 'novel' verdicts")

  private def fold(docs: DataFrame, conv: Row): DataFrame =
    Dedup.bloomTextFilter(docs, conv.getInt(0), conv.getInt(1))

  private def ored(words: DataFrame): DataFrame =
    words.select(col("word"), col("bits"))
      .groupBy(col("word")).agg(bit_or(col("bits")).as("bits"))

  def run(spark: SparkSession, docsPath: String, outPath: String,
      mBits: Int = 65536, kProbes: Int = 4): Unit =
    SummaryStore.run(spark, Store, outPath, docsPath,
      Store.convention(mBits, kProbes))(fold)

  /** Fold one NEW batch of seen docs into its own filter, under the
    * store's geometry ([[SummaryStore.append]]).
    */
  def append(spark: SparkSession, docsPath: String, outPath: String,
      batchId: String = ""): Unit =
    SummaryStore.append(spark, Store, outPath, "append", batchId,
      docsPath)(fold)

  /** Every persisted batch merged to one filter by `bit_or`, behind
    * the merge gate. ≤ mBits/64 rows — the broadcast side of every
    * probe. `asOf` reads a [[snapshot]]-pinned frontier instead of the
    * live one.
    */
  def mergedFilter(spark: SparkSession, outPath: String,
      asOf: Option[String] = None): DataFrame = {
    val conv = SummaryStore.convention(spark, Store, outPath, "mergedFilter")
    ored(SummaryStore.activeTable(spark, Store, outPath, "mergedFilter",
      conv, asOf))
  }

  /** Pin the current batch frontier under `name` for later
    * [[mergedFilter]] `asOf` reads ([[SummaryStore.snapshot]]).
    */
  def snapshot(spark: SparkSession, outPath: String,
      name: String): Set[String] =
    SummaryStore.snapshot(spark, Store, outPath, name)

  /** Fold many filter batch directories into ONE — the fan-in step,
    * under [[SummaryStore.consolidate]]'s manifest-commit protocol for
    * uniformity with the additive stores (OR would even absorb the
    * classic crash window's duplicates, but one contract beats two).
    */
  def consolidate(spark: SparkSession, outPath: String,
      batches: Seq[String]): Unit =
    SummaryStore.consolidate(spark, Store, outPath, batches)(ored)

  /** Exact novelty of an increment against everything the store's
    * batches cover — (idCol, is_novel), byte-identical to
    * `Dedup.bloomNovelDocuments(increment, seen)` (JobsSpec pins it)
    * but WITHOUT rebuilding the filter: the merged stored bits prune,
    * the exact text semi-join against `seenPath` confirms, and only
    * bloom-positive candidates ever touch the seen corpus. `seenPath`
    * must hold exactly the docs the store's batches folded (the store
    * holds bits, never text).
    */
  def novelDocuments(spark: SparkSession, outPath: String,
      increment: DataFrame, seenPath: String): DataFrame = {
    val conv = SummaryStore.convention(spark, Store, outPath, "novelDocuments")
    Dedup.bloomNovelWithFilter(increment, mergedFilter(spark, outPath),
      spark.read.parquet(seenPath), conv.getInt(0), conv.getInt(1))
  }

  /** Batch-granular takedown ([[SummaryStore.dropBatches]]): OR is not
    * invertible — a bit set by a deleted doc may also be set by
    * survivors, so per-doc retraction cannot exist. Until the caller
    * re-appends the dropped slice's SURVIVING docs, the merged filter
    * under-covers — probes report more "novel" docs, which the exact
    * seen-corpus verify then filters, so the increment result stays
    * CORRECT (the caller must also drop the docs from the seen corpus
    * the verify reads — the store never held text).
    */
  def dropBatches(spark: SparkSession, outPath: String,
      ids: Seq[String]): Unit =
    SummaryStore.dropBatches(spark, Store, outPath, ids)

  def main(args: Array[String]): Unit =
    SummaryStore.main(Store.name, args, 2,
        "<docsParquet> <outPath> [mBits] [kProbes]") { spark =>
      run(spark, args(0), args(1),
        if (args.length > 2) args(2).toInt else 65536,
        if (args.length > 3) args(3).toInt else 4)
    }
}
