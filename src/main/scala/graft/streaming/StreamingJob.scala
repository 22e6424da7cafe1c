package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, size}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType

import graft.io.NoForkLocalFs
import graft.queries.QueryHarness

/** End-to-end streaming sessionization job: parquet file source →
  * 30-min session-window aggregation → append-mode parquet sink with
  * checkpointing. The streaming twin of jobs/SessionizeHour: the
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

  def run(spark: SparkSession, schema: StructType, inPath: String,
      outPath: String, checkpointPath: String): Unit = {
    val in = spark.readStream.schema(schema).parquet(inPath)
    appendParquet(StreamingSessionize.sessionWindowAgg(in), outPath,
      checkpointPath)
  }

  /** Streaming IVF-assign job: parquet file source of (id, embedding)
    * rows → stateless nearest-centroid fold (centroids broadcast) →
    * append parquet sink. No watermark: the operator keeps no state, so
    * completeness cannot depend on batch boundaries — any listing split
    * produces the identical output set.
    */
  def runIvfAssign(spark: SparkSession, schema: StructType, inPath: String,
      centroids: org.apache.spark.sql.DataFrame, outPath: String,
      checkpointPath: String): Unit = {
    val in = spark.readStream.schema(schema).parquet(inPath)
    appendParquet(StreamingAnn.ivfAssignStream(in, centroids), outPath,
      checkpointPath)
  }

  /** Streaming index-ingest job: coarse assignment + PQ codes per
    * arriving vector (see [[StreamingAnn.ivfPqIngestStream]]) — like
    * [[runIvfAssign]], stateless and watermark-free.
    */
  def runIndexIngest(spark: SparkSession, schema: StructType, inPath: String,
      centroids: org.apache.spark.sql.DataFrame,
      codebook: org.apache.spark.sql.DataFrame, subspaces: Int,
      outPath: String, checkpointPath: String): Unit = {
    val in = spark.readStream.schema(schema).parquet(inPath)
    appendParquet(
      StreamingAnn.ivfPqIngestStream(in, centroids, codebook, subspaces),
      outPath, checkpointPath)
  }

  /** Streaming exact-dedup job: parquet file source →
    * dropDuplicatesWithinWatermark on `event_id` → append-mode parquet
    * sink. Unlike the session aggregation, dedup emits rows as they
    * arrive (state only SUPPRESSES replays), so append mode needs no
    * watermark sentinel for completeness — the watermark's only role is
    * expiring seen-key state.
    */
  def runDedup(spark: SparkSession, schema: StructType, inPath: String,
      outPath: String, checkpointPath: String,
      delay: String = "90 days"): Unit = {
    val in = spark.readStream.schema(schema).parquet(inPath)
    // 90-day default covers the staged corpus span (same reasoning as
    // runJoin): correctness must not depend on the listing landing in
    // ONE AvailableNow batch.
    appendParquet(StreamingSessionize.dedupStream(in, delay = delay),
      outPath, checkpointPath)
  }

  /** Stream-stream attribution-join job: one parquet file source read
    * twice (view / purchase branches), event-time interval inner join,
    * append parquet sink. Inner joins emit a pair as soon as both sides
    * have arrived; the watermarks only bound buffered state.
    */
  def runJoin(spark: SparkSession, schema: StructType, inPath: String,
      outPath: String, checkpointPath: String): Unit =
    runJoinImpl(spark, schema, inPath, outPath, checkpointPath, outer = false)

  /** Left-outer variant: input must carry far-future sentinels on both
    * branches so the final watermark flushes unmatched views.
    */
  def runJoinOuter(spark: SparkSession, schema: StructType, inPath: String,
      outPath: String, checkpointPath: String): Unit =
    runJoinImpl(spark, schema, inPath, outPath, checkpointPath, outer = true)

  private def runJoinImpl(spark: SparkSession, schema: StructType,
      inPath: String, outPath: String, checkpointPath: String,
      outer: Boolean): Unit = {
    val in = spark.readStream.schema(schema).parquet(inPath)
    val joined =
      if (outer) StreamingSessionize.attributionJoinOuter(in)
      else StreamingSessionize.attributionJoin(in)
    appendParquet(joined, outPath, checkpointPath)
  }

  /** transformWithState job: parquet file source → RunningTotalsProcessor
    * (RocksDB-backed typed state) → append parquet sink. The caller must
    * set the RocksDB state-store provider — transformWithState refuses
    * the default HDFS-backed store.
    */
  def runTotals(spark: SparkSession, schema: StructType, inPath: String,
      outPath: String, checkpointPath: String): Unit = {
    import spark.implicits._
    val in = spark.readStream.schema(schema).parquet(inPath)
      .as[StreamingSessionize.EvCents]
    appendParquet(StreamingSessionize.runningTotals(in), outPath,
      checkpointPath)
  }

  /** transformWithState funnel job: parquet file source of
    * (user_id, ts_us, step, event_id) rows →
    * [[StreamingSessionize.FunnelProcessor]] → per-batch emitted
    * stages. `maxFilesPerTrigger = 1` by default so a multi-file
    * staging genuinely exercises the cross-batch state carry (the
    * arrival contract: event-time-ordered batches — see the
    * processor's scaladoc).
    */
  def runFunnel(spark: SparkSession, schema: StructType, inPath: String,
      outPath: String, checkpointPath: String, nSteps: Int,
      windowUs: Long, maxFilesPerTrigger: Int = 1): Unit = {
    import spark.implicits._
    val in = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inPath)
      .as[StreamingSessionize.FunnelEv]
    appendParquet(StreamingSessionize.funnelStream(in, nSteps, windowUs),
      outPath, checkpointPath)
  }

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
      snapshot0: org.apache.spark.sql.DataFrame, keyCols: Seq[String],
      tsCol: String, tieCol: String, workDir: String,
      checkpointPath: String): String = {
    val snap0 = s"$workDir/snap_0"
    snapshot0.write.mode("overwrite").parquet(snap0)
    val current = new java.util.concurrent.atomic.AtomicReference[String](snap0)
    val in = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(inPath)
    val w = in.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
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

  /** Streaming corpus curation: file stream of documents → Gopher
    * quality gate → PII redaction of the kept docs → append parquet
    * sink. Both stages are pure per-row projections, so the streaming
    * plan carries ZERO state (no watermark, no state store): each
    * micro-batch curates independently, output is exactly the batch
    * pipeline applied to the union of batches, and a crawl frontier can
    * run this continuously at any rate. The batch/stream parity is the
    * oracle of the driver-gated `streaming_curate` query.
    */
  def runCurate(spark: SparkSession, schema: StructType, inPath: String,
      outPath: String, checkpointPath: String): Unit = {
    val in = spark.readStream.schema(schema).parquet(inPath)
    val gated = graft.ops.TextOps.gopherRules(in, passthroughCols = Seq("text"))
      .filter(org.apache.spark.sql.functions.col("keep"))
    // n_words rides through the redaction as a passthrough column — a
    // join here would be stream-stream (state + watermarks) for what is
    // a straight-line projection
    val curated = graft.ops.TextOps.redactPii(gated,
      passthroughCols = Seq("n_words"))
    appendParquet(curated, outPath, checkpointPath)
  }

  /** Loud guard for the catastrophic sink mistake both store-ingest
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
    val in = spark.readStream.schema(schema).parquet(inPath)
    val withSh = graft.ops.Dedup.withShingles(in)
    val sig = graft.ops.Dedup.perRowSignature(
      withSh.filter(size(col("shingles")) >= 1))
    appendParquet(graft.ops.Dedup.bandRows(sig), outPath, checkpointPath)
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
    val in = spark.readStream.schema(schema).parquet(inPath)
    appendParquet(graft.ops.Search.perRowPostings(in), outPath,
      checkpointPath)
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
    val in = spark.readStream.schema(schema).parquet(inPath)
    appendParquet(graft.ops.Sketches.perRowCells(in, itemCol, w, d),
      outPath, checkpointPath)
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
    val in = spark.readStream.schema(schema).parquet(inPath)
    appendParquet(graft.ops.Sketches.perRowBuckets(in, valueCol, w),
      outPath, checkpointPath)
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
    val in = spark.readStream.schema(schema).parquet(inPath)
    appendParquet(graft.ops.Hll.perRowRegisterCells(in, itemCol, pp),
      outPath, checkpointPath)
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
    val in = spark.readStream.schema(schema).parquet(inPath)
    appendParquet(graft.ops.TextOps.sampleCells(in, weightCol, idCol),
      outPath, checkpointPath)
  }

  /** Streaming classifier serving: file stream of documents → per-row
    * hashed-linear scoring against a LITERAL weight map
    * ([[graft.ops.TextOps.linearScore]]) → append parquet sink. Pure
    * projection: no watermark, no state store, batch-order-invariant —
    * the model trained by `perceptronTrain` served at ingest rate. The
    * batch/stream parity is the oracle of the
    * `streaming_classify` query.
    */
  def runClassify(spark: SparkSession, schema: StructType, inPath: String,
      weights: Map[Long, Long], nBuckets: Int, outPath: String,
      checkpointPath: String): Unit = {
    val in = spark.readStream.schema(schema).parquet(inPath)
    appendParquet(graft.ops.TextOps.linearScore(in, weights, nBuckets),
      outPath, checkpointPath)
  }

  def main(args: Array[String]): Unit = {
    val Array(inPath, outPath, checkpointPath) = args
    val spark = graft.Graft.session("graft-streaming")
    val schema = spark.read.parquet(inPath).schema
    run(spark, schema, inPath, outPath, checkpointPath)
    spark.stop()
  }
}
