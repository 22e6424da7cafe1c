package graft.jobs

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Similarity

/** ANN index-build production job — the serving-side counterpart of
  * [[CurateCorpus]], turning the oracled train→assign→encode chain
  * (`kmeans_train` → `kmeans_assign` → `pq_codes`) into an idempotent
  * partitioned index build:
  *
  *   read embeddings parquet
  *   → train IVF centroids (movement-bounded Lloyd rounds)
  *   → assign every vector to its centroid (integer-L2 argmin)
  *   → PQ-encode every vector against the sub-codebook
  *   → write ONE index table partitioned by `cluster` into a cleared root
  *   → plus the trained centroid table (the search-time broadcast side)
  *
  * The layout IS the query plan: `ivfpq_topk` probes one (or two)
  * coarse clusters, so partitioning the index by `cluster` turns the
  * probe into a partition-pruned scan — at 100 TB a query touches
  * corpus/K files, and the PQ codes it reads are the only payload
  * (raw embeddings stay in the source table). Everything in the chain
  * is deterministic (seeded centroids, integer math, fixed round
  * budget), so a re-run rewrites identical partitions — safe to retry,
  * safe to schedule alongside [[CurateCorpus]].
  */
object BuildIndex {

  /** THE seed convention — the one place "which vectors are the PQ
    * codebook / the k-means seeds" is defined. `run` writes exactly
    * this frame as `codebook/`; a second hand-written copy of the rule
    * could drift and store a codebook the codes were NOT encoded
    * against (silently wrong neighbors at search time).
    */
  private def seedsOf(emb: DataFrame, nSeeds: Int): DataFrame =
    emb.filter(col("vec_id") < nSeeds)

  /** Pure core: trained centroids + the cluster-and-codes index rows.
    * Unit-testable without storage.
    */
  def built(emb: DataFrame, nSeeds: Int = 8, maxIter: Int = 3,
      subspaces: Int = 4): (DataFrame, DataFrame) = {
    val seeds = seedsOf(emb, nSeeds)
    val trained = Similarity.kmeansTrain(emb, seeds, maxIter = maxIter,
      requireConvergence = false).centroids
    val assigned = Similarity.assignToTrained(emb, trained)
    // the zero-shuffle per-row code fold (the pq_near_dup device), not
    // pqCodes + groupBy-collect — one fewer exchange, same tuples
    val codes = Similarity.pqCodeTuple(emb, seeds, subspaces,
        "vec_id", "embedding")
      .select(col("vec_id"), col("__ck").as("codes"))
    val index = assigned.join(codes, Seq("vec_id"))
      .select(col("vec_id"), col("cluster"), col("d2"), col("codes"))
    (trained, index)
  }

  /** Per-cluster audit counts of a built index. */
  def audit(index: DataFrame): DataFrame =
    index.groupBy(col("cluster")).agg(count(lit(1)).as("n_vectors"))

  /** Writes a SELF-CONTAINED layout: `index/` (cluster-partitioned),
    * `centroids/` (the coarse quantizer), and `codebook/` (the PQ seed
    * vectors `pqCodeTuple` encoded against). All three ship together
    * because [[Similarity.searchIvfPqIndex]] must build its query LUTs
    * against the EXACT codebook the codes were encoded with — searching
    * a stored index with a re-derived or different codebook returns
    * silently wrong neighbors. Consumers read the triple from one
    * build's `outPath`, never mix builds.
    *
    * Clears any previous store first, like the dedup and text stores: a
    * rebuild must not inherit the old `deletes/` tombstones, nor keep
    * `cluster=` partitions whose codes were cut against the old codebook.
    */
  def run(spark: SparkSession, embPath: String, outPath: String,
      nSeeds: Int = 8, maxIter: Int = 3, subspaces: Int = 4): Unit = {
    SummaryStore.clear(spark, outPath)
    val emb = spark.read.parquet(embPath)
    val (trained, index) = built(emb, nSeeds, maxIter, subspaces)
    trained.write.mode("overwrite").parquet(s"$outPath/centroids")
    seedsOf(emb, nSeeds).write.mode("overwrite").parquet(s"$outPath/codebook")
    index.write.partitionBy("cluster").mode("overwrite").parquet(s"$outPath/index")
    graft.ops.Caches.releaseAll()
  }

  /** Incremental index maintenance: assign + PQ-encode ONLY the new
    * vectors against the STORED centroids/codebook — the model is
    * frozen at build time, so ingest never retrains — and append into
    * the cluster-partitioned layout. The batch twin of
    * [[graft.streaming.StreamingAnn.ivfPqIngestStream]]; unlike
    * [[run]] (idempotent: it clears the store, then rewrites it) and
    * unlike the streaming path (exactly-once via checkpoint), a RE-RUN
    * of the same batch appends duplicates — callers own batch-level
    * idempotence (stage each batch once, or route continuous ingest
    * through the streaming job).
    */
  def append(spark: SparkSession, newEmbPath: String, outPath: String,
      subspaces: Int = 4): Unit = {
    val emb = spark.read.parquet(newEmbPath)
    val trained = spark.read.parquet(s"$outPath/centroids")
    val codebook = spark.read.parquet(s"$outPath/codebook")
    // loud guard: the stored codes were cut with the BUILD's subspace
    // count; appending rows encoded with a different split would make
    // searchStoredIndex score them against the wrong LUT sub-vectors —
    // silently wrong neighbors. One row of the stored index carries the
    // truth (codes is the subspace-ordered tuple).
    val storedSub = spark.read.parquet(s"$outPath/index")
      .select(size(col("codes"))).head(1).headOption
      .getOrElse(throw new IllegalStateException(
        s"BuildIndex.append: stored index at $outPath/index is empty — " +
          "run BuildIndex.run first; append only ingests into a built index"))
      .getInt(0)
    require(storedSub == subspaces,
      s"BuildIndex.append: stored index uses $storedSub subspaces, caller " +
        s"passed $subspaces — encode against the build's own split")
    val assigned = Similarity.assignToTrained(emb, trained)
    val codes = Similarity.pqCodeTuple(emb, codebook, subspaces,
        "vec_id", "embedding")
      .select(col("vec_id"), col("__ck").as("codes"))
    assigned.join(codes, Seq("vec_id"))
      .select(col("vec_id"), col("cluster"), col("d2"), col("codes"))
      .write.partitionBy("cluster").mode("append").parquet(s"$outPath/index")
    graft.ops.Caches.releaseAll()
  }

  /** The stored index AS A READ PATH: the cluster-partitioned code
    * rows minus any tombstoned vectors. Every consumer must come
    * through here (not a raw `read.parquet`) or deleted vectors
    * resurface as neighbors.
    */
  def storedIndex(spark: SparkSession, outPath: String): DataFrame = {
    val idx = spark.read.parquet(s"$outPath/index")
    SummaryStore.deletedIds(spark, outPath, "vec_id")
      .fold(idx)(d => idx.join(d, Seq("vec_id"), "left_anti"))
  }

  /** Tombstone a batch of vectors — the takedown verb for the ANN
    * store: after it returns, [[storedIndex]] (and so [[searchStored]])
    * behaves as if the vectors were never ingested, and
    * [[applyDeletes]] physically rewrites their cluster partitions on
    * its next run. The FROZEN MODEL is deliberately untouched: the
    * centroids and codebook were trained over the original corpus and
    * removing a vector's rows does not untrain its influence — that is
    * the standard ANN-index takedown contract (exact influence removal
    * is a rebuild), and it keeps every other vector's codes and
    * assignments byte-stable under deletion (JobsSpec pins
    * search-after-delete ≡ search-over-filtered-index). IDEMPOTENT per
    * `batchId` (overwrite of its own tombstone directory).
    */
  def deleteVectors(spark: SparkSession, idsPath: String, outPath: String,
      batchId: String = ""): Unit = {
    SummaryStore.requireBuilt(spark, "BuildIndex", "index", outPath, "index",
      "deleteVectors")
    SummaryStore.tombstone(spark, "BuildIndex.deleteVectors", idsPath,
      outPath, batchId, "vec_id")
  }

  /** Physically drop tombstoned vectors from the index — rewrites ONLY
    * the affected cluster partitions (dynamic partition overwrite over
    * a partition-pruned read), then retires exactly the tombstone
    * batches that existed when the apply STARTED (a delete landing
    * mid-apply keeps its tombstone and stays logically deleted).
    * Staged through `apply-staging/` because Spark refuses to
    * dynamic-overwrite partitions it is concurrently reading. Crash
    * anywhere leaves the tombstones in place, so reads stay correct
    * and the re-run converges.
    */
  def applyDeletes(spark: SparkSession, outPath: String): Unit = {
    val fs = SummaryStore.fsOf(spark, outPath)
    val batches = SummaryStore.listed(fs, outPath, "deletes").toSeq
      .map(b => new Path(s"$outPath/deletes/batch=$b"))
    if (batches.isEmpty) return
    val dels = spark.read.parquet(batches.map(_.toString): _*)
      .select(col("vec_id")).distinct()
    val idx = spark.read.parquet(s"$outPath/index")
    val affected = idx.join(dels, Seq("vec_id"), "left_semi")
      .select(col("cluster")).distinct()
      .collect().map(_.get(0)) // ≤ nSeeds rows — the K-cluster model
    if (affected.nonEmpty) {
      val staging = s"$outPath/apply-staging"
      idx.filter(col("cluster").isin(affected.toIndexedSeq: _*))
        .join(dels, Seq("vec_id"), "left_anti")
        .write.mode("overwrite").parquet(staging)
      spark.read.parquet(staging)
        .write.partitionBy("cluster")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").parquet(s"$outPath/index")
      fs.delete(new Path(staging), true)
    }
    batches.foreach(p => fs.delete(p, true))
    // retire the root too when nothing is left — an EMPTY deletes dir
    // would fail schema inference on the next storedIndex read
    if (SummaryStore.listed(fs, outPath, "deletes").isEmpty)
      fs.delete(new Path(s"$outPath/deletes"), true)
  }

  /** ADC search against the stored layout through the tombstone-aware
    * read path — the disk twin of `Similarity.searchStoredIndex` over
    * [[built]]'s in-memory triple.
    */
  def searchStored(spark: SparkSession, outPath: String,
      queries: DataFrame, k: Int, subspaces: Int = 4,
      nprobe: Int = 1): DataFrame =
    Similarity.searchStoredIndex(storedIndex(spark, outPath), queries,
      spark.read.parquet(s"$outPath/centroids"),
      spark.read.parquet(s"$outPath/codebook"), k, subspaces, nprobe)

  def main(args: Array[String]): Unit =
    SummaryStore.main("BuildIndex", args, 2,
        "<embeddingsParquet> <outPath> [nSeeds] [maxIter]") { spark =>
      run(spark, args(0), args(1),
        if (args.length > 2) args(2).toInt else 8,
        if (args.length > 3) args(3).toInt else 3)
    }
}
