package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, size}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType

import graft.io.NoForkLocalFs
import graft.queries.QueryHarness

/** The streaming jobs. Each is one query between a source and a sink
  * ([[drain]]): the parquet file source → one operator → the
  * append-mode parquet sink with checkpointing. [[run]] is the
  * end-to-end sessionization job (30-min session-window aggregation),
  * the streaming twin of jobs/SessionizeHour: the
  * watermark replaces the explicit previous-hour state load, the
  * checkpoint replaces the re-read of the last written partition, and
  * append mode guarantees a session is written exactly once, only after
  * it can no longer change.
  *
  * An AvailableNow trigger drains whatever files exist and stops — the
  * batch-orchestrated cadence of the reference (hourly Airflow runs)
  * maps to periodically re-launching with the same checkpoint.
  */
object StreamingJob {

  /** The sink every append-mode job shares: append parquet at `outPath`,
    * checkpointed at `checkpointPath`, drained with one AvailableNow
    * run. Blocks until the run ends and rethrows a failed run's
    * StreamingQueryException.
    *
    * The run goes through [[runNoFork]]: its checkpoint I/O (the
    * offset, commit, source and sink logs, and the state-store deltas)
    * goes through [[graft.io.NoForkLocalFs]]. Without libhadoop, stock
    * Hadoop starts a `chmod` process for every checkpoint file and
    * directory it creates and two `readlink` processes for every rename,
    * about 250 processes per hourly relaunch, for the writes each
    * micro-batch must make durable. The no-fork filesystem hands off to
    * Hadoop when native IO is loaded, for symlinks, and for modes with
    * sticky/setuid/setgid bits. The sink's part files go through the
    * cached `FileSystem` API and are not covered.
    */
  private[graft] def appendParquet(out: Dataset[_], outPath: String,
      checkpointPath: String): Unit =
    runNoFork(out.writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpointPath)
      .trigger(Trigger.AvailableNow()), out.sparkSession)

  /** Starts `w` and awaits the run with `file:` checkpoint I/O on
    * [[graft.io.NoForkLocalFs]]. The setting lives on the session, under
    * [[QueryHarness.withConf]]'s lock, for the whole run and is restored
    * after it: `start()` alone is too short, because the stream thread
    * creates the file source and its log after `start()` returns, from
    * the caller's session. So no thread of the run may call `withConf`.
    */
  private def runNoFork(w: DataStreamWriter[_], spark: SparkSession): Unit =
    QueryHarness.withConf(spark,
      NoForkLocalFs.ImplKey -> classOf[NoForkLocalFs].getName) {
      w.start().awaitTermination()
    }

  /** The one streaming job shape: the parquet file source at `inPath`
    * (read with `schema`) → `op` → the [[appendParquet]] sink.
    * `maxFilesPerTrigger` > 0 caps the files each micro-batch reads, so
    * a multi-file listing crosses batch boundaries and a stateful `op`
    * carries its state between batches; 0 reads the whole listing in
    * one batch. A stateful `op` fixes its state-store partition count
    * and provider from the session at the checkpoint's first batch, so
    * the caller pins them around the call ([[QueryHarness.withConf]]).
    */
  def drain(spark: SparkSession, schema: StructType, inPath: String,
      outPath: String, checkpointPath: String, maxFilesPerTrigger: Int = 0)(
      op: DataFrame => Dataset[_]): Unit =
    appendParquet(op(source(spark, schema, inPath, maxFilesPerTrigger)),
      outPath, checkpointPath)

  /** The one parquet file source; see [[drain]] for `maxFilesPerTrigger`. */
  private def source(spark: SparkSession, schema: StructType, inPath: String,
      maxFilesPerTrigger: Int): DataFrame = {
    val r = spark.readStream.schema(schema)
    (if (maxFilesPerTrigger > 0) r.option("maxFilesPerTrigger", maxFilesPerTrigger)
     else r).parquet(inPath)
  }

  /** The paper's job: [[StreamingSessionize.sessionWindowAgg]] over the
    * event files, one row per closed (user, session).
    */
  def run(spark: SparkSession, schema: StructType, inPath: String,
      outPath: String, checkpointPath: String): Unit =
    drain(spark, schema, inPath, outPath, checkpointPath)(
      StreamingSessionize.sessionWindowAgg(_))

  /** Streaming CDC-upsert job — the foreachBatch merge sink (the
    * canonical streaming-upsert pattern for stores without native
    * MERGE): each micro-batch of change rows is folded into a
    * materialized snapshot via [[graft.ops.Cdc.upsertLatest]], written
    * as a fresh versioned snapshot dir (parquet has no row-level
    * update; a lakehouse table format would MERGE in place through the
    * same foreachBatch hook). Correctness does NOT depend on how the
    * file source splits or orders the listing: upsertLatest is
    * associative+commutative in the batches, so any interleaving
    * converges to global latest-wins — `maxFilesPerTrigger` is set to 1
    * precisely to EXERCISE the multi-batch path rather than avoid it.
    * Returns the final snapshot's path.
    */
  def runCdcUpsert(spark: SparkSession, schema: StructType, inPath: String,
      snapshot0: DataFrame, keyCols: Seq[String],
      tsCol: String, tieCol: String, workDir: String,
      checkpointPath: String): String = {
    val snap0 = s"$workDir/snap_0"
    snapshot0.write.mode("overwrite").parquet(snap0)
    val current = new java.util.concurrent.atomic.AtomicReference[String](snap0)
    val w = source(spark, schema, inPath, maxFilesPerTrigger = 1).writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        val snap = batch.sparkSession.read.parquet(current.get)
        val next = graft.ops.Cdc.upsertLatest(snap, batch.toDF(), keyCols, tsCol, tieCol)
        val path = s"$workDir/snap_${id + 1}"
        next.write.mode("overwrite").parquet(path)
        current.set(path)
      }
      .option("checkpointLocation", checkpointPath)
      .trigger(Trigger.AvailableNow())
    runNoFork(w, spark)
    current.get
  }

  /** Loud guard for the catastrophic sink mistake the store-ingest
    * paths warn about: pointing the stream at a BATCH-written
    * directory (e.g. the store's own buckets/ or postings/). The sink
    * would create _spark_metadata there, and every later batch read
    * would trust only the commit log — silently dropping the whole
    * indexed history. A directory that already holds parquet files
    * WITHOUT a _spark_metadata log is exactly that case; a prior
    * streaming dir (log present) is a legal resume. The parquet probe
    * must RECURSE: a partitioned batch dataset nests its files under
    * key=value subdirectories, and a top-level-only listStatus would
    * wave exactly the layout the guard exists to stop.
    */
  private def guardFreshSinkDir(spark: SparkSession, outPath: String,
      op: String, foldAdvice: String): Unit = {
    val outP = new org.apache.hadoop.fs.Path(outPath)
    val fs = outP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def holdsBatchParquet: Boolean = {
      val it = fs.listFiles(outP, true)
      var found = false
      while (!found && it.hasNext)
        found = it.next().getPath.getName.endsWith(".parquet")
      found
    }
    if (fs.exists(outP) &&
        !fs.exists(new org.apache.hadoop.fs.Path(outPath, "_spark_metadata")) &&
        holdsBatchParquet)
      throw new IllegalStateException(
        s"$op: $outPath already holds batch-written parquet " +
          "files; a streaming sink's _spark_metadata log would shadow " +
          "them in every later batch read. Stream to a FRESH directory " +
          s"and fold it into the store with $foldAdvice.")
  }

  /** Streaming ingest into the STORED dedup index
    * ([[graft.jobs.BuildDedupIndex]] layout): arriving documents →
    * distinct 3-shingles → per-row MinHash signature
    * ([[graft.ops.Dedup.perRowSignature]], the stateless restatement of
    * the batch aggregate — no explode-groupBy, so append-legal with no
    * watermark) → the same [[graft.ops.Dedup.bandRows]] every other
    * path uses → append parquet (band, doc_id) — the continuous-ingest
    * closure of the stored-index lifecycle. `outPath` must be its OWN
    * directory, never the batch-built `buckets/` dir: a streaming
    * parquet sink keeps a `_spark_metadata` commit log, and a batch
    * read of a directory containing one trusts ONLY the logged files —
    * silently dropping every batch-written bucket. Probe with the
    * union instead (`BuildDedupIndex.probe(newDocs,
    * stored.unionByName(streamed), corpus)`); JobsSpec pins streamed ≡
    * batch band rows, so the union is exactly one corpus's bucket
    * table. Docs with fewer than 3 tokens have no shingles and are
    * filtered (the batch form has no rows for them either).
    */
  def runBandIngest(spark: SparkSession, schema: StructType, inPath: String,
      outPath: String, checkpointPath: String): Unit = {
    guardFreshSinkDir(spark, outPath, "runBandIngest",
      "BuildDedupIndex.compact")
    drain(spark, schema, inPath, outPath, checkpointPath) { in =>
      val withSh = graft.ops.Dedup.withShingles(in)
      graft.ops.Dedup.bandRows(graft.ops.Dedup.perRowSignature(
        withSh.filter(size(col("shingles")) >= 1)))
    }
  }

  /** Continuous ingest into the STORED text index: arriving docs →
    * per-row postings (the stateless restatement of the batch
    * groupBy — sorted-run length encoding, so append-legal with no
    * watermark) → append (token, doc, dl, tf, positions) parquet to a FRESH
    * streamed directory, which
    * [[graft.jobs.BuildTextIndex.compactStreamed]] later folds into
    * the bucket-partitioned store together with its additive meta row.
    */
  def runPostingsIngest(spark: SparkSession, schema: StructType,
      inPath: String, outPath: String, checkpointPath: String): Unit = {
    guardFreshSinkDir(spark, outPath, "runPostingsIngest",
      "BuildTextIndex.compactStreamed")
    drain(spark, schema, inPath, outPath, checkpointPath)(
      graft.ops.Search.perRowPostings(_))
  }

  /** Continuous ingest into the STORED Count-Min counter table:
    * arriving occurrences → per-row sketch cells
    * ([[graft.ops.Sketches.perRowCells]] — each occurrence's d
    * (row, bucket, cnt=1) cells, stateless so append-legal with no
    * watermark) → parquet to a FRESH streamed directory, which
    * [[graft.jobs.BuildSketchStore.compactStreamed]] later folds into
    * one summed batch with its geometry meta. `width`/`depth` MUST be
    * the target store's pinned values — the fold refuses wider/deeper
    * cells by range, but a narrower ingest is undetectable in the
    * data (the standing narrower-hole the stores' meta rows exist
    * for).
    */
  def runSketchIngest(spark: SparkSession, schema: StructType,
      inPath: String, outPath: String, checkpointPath: String,
      itemCol: String = "item",
      width: Int = graft.ops.Sketches.DefaultWidth,
      depth: Int = graft.ops.Sketches.DefaultDepth,
      storePath: String = ""): Unit = {
    guardFreshSinkDir(spark, outPath, "runSketchIngest",
      "BuildSketchStore.compactStreamed")
    // prefer the TARGET STORE's pinned geometry over the caller's word
    // — a narrower ingest is undetectable at the fold, so closing the
    // gap at the source is the only complete fix
    val (w, d) = if (storePath.nonEmpty)
        graft.jobs.BuildSketchStore.storeGeometry(spark, storePath,
          "runSketchIngest")
      else (width, depth)
    drain(spark, schema, inPath, outPath, checkpointPath)(
      graft.ops.Sketches.perRowCells(_, itemCol, w, d))
  }

  /** Continuous ingest into the STORED profile histogram: arriving
    * values → per-row (bucket, cnt=1) cells
    * ([[graft.ops.Sketches.perRowBuckets]], stateless/append-legal) →
    * parquet to a FRESH streamed directory for
    * [[graft.jobs.BuildProfileStore.compactStreamed]]. `width` MUST be
    * the target store's pinned value — a wrong width has NO detectable
    * signature in the cells (the bucket space is unbounded), the
    * strongest form of the meta-discipline rule.
    */
  def runProfileIngest(spark: SparkSession, schema: StructType,
      inPath: String, outPath: String, checkpointPath: String,
      valueCol: String = "value", width: Long = 100L,
      storePath: String = ""): Unit = {
    guardFreshSinkDir(spark, outPath, "runProfileIngest",
      "BuildProfileStore.compactStreamed")
    // prefer the TARGET STORE's pinned width — a wrong-width ingest has
    // NO detectable signature downstream at all
    val w = if (storePath.nonEmpty)
        graft.jobs.BuildProfileStore.storeWidth(spark, storePath,
          "runProfileIngest")
      else width
    drain(spark, schema, inPath, outPath, checkpointPath)(
      graft.ops.Sketches.perRowBuckets(_, valueCol, w))
  }

  /** Continuous ingest into the STORED HyperLogLog register table:
    * arriving items → per-occurrence (reg, rho) cells
    * ([[graft.ops.Hll.perRowRegisterCells]] — stateless, so
    * append-legal with no watermark) → parquet to a FRESH streamed
    * directory, which [[graft.jobs.BuildHllStore.compactStreamed]]
    * later max-folds into one batch. p is taken FROM the target store
    * when given (the narrower-hole rule: a smaller-p ingest is
    * undetectable at the fold); unlike the additive ingests, a
    * re-folded or overlapping cell stream cannot skew anything —
    * register max is idempotent.
    */
  def runHllIngest(spark: SparkSession, schema: StructType,
      inPath: String, outPath: String, checkpointPath: String,
      itemCol: String = "item", p: Int = graft.ops.Hll.DefaultP,
      storePath: String = ""): Unit = {
    guardFreshSinkDir(spark, outPath, "runHllIngest",
      "BuildHllStore.compactStreamed")
    val pp = if (storePath.nonEmpty)
        graft.jobs.BuildHllStore.storeP(spark, storePath, "runHllIngest")
      else p
    drain(spark, schema, inPath, outPath, checkpointPath)(
      graft.ops.Hll.perRowRegisterCells(_, itemCol, pp))
  }

  /** Continuous ingest into the STORED priority sample: arriving docs →
    * guarded (doc_id, w) cells ([[graft.ops.TextOps.sampleCells]],
    * stateless/append-legal) → parquet to a FRESH streamed directory
    * for [[graft.jobs.BuildSampleStore.compactStreamed]]'s top-(k+1)
    * fold. No k at ingest at all — the cells are rank-free, so the one
    * geometry hazard of the family (a smaller-k fold under-covering
    * silently) cannot even arise on this path; the store applies its
    * pinned k at the fold.
    */
  def runSampleIngest(spark: SparkSession, schema: StructType,
      inPath: String, outPath: String, checkpointPath: String,
      weightCol: String = "n_chars", idCol: String = "doc_id"): Unit = {
    guardFreshSinkDir(spark, outPath, "runSampleIngest",
      "BuildSampleStore.compactStreamed")
    drain(spark, schema, inPath, outPath, checkpointPath)(
      graft.ops.TextOps.sampleCells(_, weightCol, idCol))
  }

  def main(args: Array[String]): Unit = {
    val Array(inPath, outPath, checkpointPath) = args
    val spark = graft.Graft.session("graft-streaming")
    val schema = spark.read.parquet(inPath).schema
    run(spark, schema, inPath, outPath, checkpointPath)
    spark.stop()
  }
}
