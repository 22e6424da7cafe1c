package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, TextOps}

/** Corpus-curation production job — the batch entry point that turns the
  * oracled `curate_corpus` pipeline ([[curate]]: exact dedup →
  * quality-aware near-dup removal → length gate → deterministic split
  * assignment) into an idempotent partitioned dataset build:
  *
  *   read raw documents parquet
  *   → curate
  *   → write parquet partitioned by `split`, dynamic overwrite
  *   → audit row: input/kept/per-split counts (the S8 contract)
  *
  * Idempotence: dynamic partition overwrite + a deterministic pipeline
  * (md5-keyed keepers and splits, no rand()) means a re-run rewrites
  * each split partition with IDENTICAL content — the job is safe to
  * retry and safe to schedule. Downstream trainers read ONE split
  * partition (partition-pruned scan), so train never even lists val/
  * test files. At 100 TB the only shuffles are the curation pipeline's
  * own (measured: 10 exchanges); the split column costs zero (per-row
  * hash of the id).
  */
object CurateCorpus {

  /** The end-to-end curation one-liner: exact dedup → quality-aware
    * near-dup removal (longest member per cluster) → minimum-length
    * gate → deterministic train/val/test assignment. Oracle-gated as
    * the `curate_corpus` query.
    */
  def curate(docs: DataFrame, minChars: Long = 100): DataFrame = {
    val exactKeep = Dedup.exact(docs).select(col("keeper_id").as("doc_id"))
    val e = docs.join(exactKeep, "doc_id")
    val keepers = Dedup.keepBestPerCluster(e).select(col("keeper_id").as("doc_id"))
    val kept = e.join(keepers, "doc_id").filter(col("n_chars") >= minChars)
    // per-row hash column, NOT corpusSplit(kept) ⋈ kept — the split is
    // pure id math and must not re-shuffle the curated corpus on id
    kept.withColumn("split", TextOps.splitCol())
  }

  /** Pure core: curate + stable output projection. Unit-testable
    * without storage.
    */
  def curated(docs: DataFrame, minChars: Long): DataFrame =
    curate(docs, minChars = minChars)
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"), col("split"))

  /** Per-split audit counts of a curated frame: one row per split plus
    * the total, exactly the numbers an operator checks after a run.
    */
  def audit(curated: DataFrame): DataFrame =
    curated.groupBy(col("split")).agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"))
      .unionByName(curated.select(lit("TOTAL").as("split"),
        lit(1L).as("n_docs"), col("n_chars"))
        .groupBy(col("split")).agg(sum(col("n_docs")).as("n_docs"),
          sum(col("n_chars")).as("sum_chars")))

  /** `partitionOverwriteMode` rides the WRITER (a per-write option),
    * not the session conf: `run` is callable from a long-lived session,
    * and a session-level set would silently change the overwrite
    * semantics of every later write in that session.
    */
  def run(spark: SparkSession, docsPath: String, outPath: String,
      minChars: Long = 100L): Unit = {
    curated(spark.read.parquet(docsPath), minChars)
      .write
      .partitionBy("split")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .parquet(outPath)
    graft.ops.Caches.releaseAll()
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: CurateCorpus <docsParquet> <outPath> [minChars]")
    val spark = SparkSession.builder()
      .appName("graft-curate-corpus")
      .config("spark.sql.shuffle.partitions", 32)
      .getOrCreate()
    run(spark, args(0), args(1),
      if (args.length > 2) args(2).toLong else 100L)
    spark.stop()
  }
}
