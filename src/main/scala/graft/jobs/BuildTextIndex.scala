package graft.jobs

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Search

/** Stored inverted-index production job — the retrieval counterpart of
  * [[BuildIndex]] (ANN) and [[BuildDedupIndex]] (LSH buckets).
  * `Search.rankedSearch` is the right QUERY shape, but it re-tokenizes
  * the whole corpus per query — at 100 TB that is a full corpus pass
  * to answer a 3-term question. This job persists the postings ONCE,
  * laid out so a query term's lookup is a partition-pruned scan:
  *
  *   postings/batch=<id>/tbucket=<hash(token) % 64>/  (token, doc, dl, tf)
  *   meta/batch=<id>/                                 (n_docs, n_tokens)
  *
  * A search reads ONLY its terms' tbucket partitions (the terms are
  * literals, so their buckets are computed up front and the scan
  * prunes on the partition column), filters to the exact tokens inside
  * them (pushed to the row-group stats), and scores with
  * [[Search.scoredTopK]] — the same body as the in-memory path, so the
  * two cannot drift. Corpus stats are ADDITIVE meta rows summed at
  * read, and per-term document frequency falls out of the pruned
  * postings themselves (all of a token's rows live in its bucket), so
  * a query never touches the corpus at all.
  *
  * Writer discipline is [[BuildDedupIndex]]'s: every writer owns a
  * `batch=<id>` partition directory (overwrite-on-retry ⇒ idempotent
  * per batch id; `base` reserved for [[run]]), and batches must carry
  * DISJOINT doc sets — a doc split across batches would double its
  * postings rows and inflate df/tf.
  */
object BuildTextIndex {

  /** Token-hash partition fan-out. 64 keeps directory counts tame at
    * any corpus size while a typical query (≤ a handful of terms)
    * still skips ≥ 90% of the data; raise it only with millions of
    * postings files per bucket.
    */
  val Buckets = 64

  private def tbucketOf(token: Column): Column =
    pmod(hash(token), lit(Buckets))

  /** Pure core: the persistable POSITIONAL postings of a corpus —
    * (token, doc, dl, tf, positions, tbucket), one row per distinct
    * token per doc, `positions` the sorted 0-based occurrence list.
    * dl rides the grouping keys (functionally dependent on the doc)
    * so scoring never joins a separate length table; positions make
    * the store serve phrase/proximity queries too ([[searchPhrase]] /
    * [[searchProximity]]) — the standard positional inverted index.
    * Consumers that only rank select past `positions`, so parquet
    * column pruning keeps their scans as narrow as before.
    */
  def postingsTable(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(col(idCol), split(col(textCol), " ").as("__arr"))
      .select(col(idCol), size(col("__arr")).as("dl"),
        posexplode(col("__arr")).as(Seq("pos", "token")))
      .groupBy(col("token"), col(idCol), col("dl"))
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos"))).as("positions"))
      .withColumn("tbucket", tbucketOf(col("token")))

  /** Pure core: one additive stats row for a batch of docs. */
  def statsTable(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.agg(count(lit(1)).as("n_docs"),
      sum(size(split(col(textCol), " "))).as("n_tokens"))

  /** Pure core: fold any number of additive [[statsTable]] rows into
    * the (n_docs, avgdl_milli) scoring row — the read side of the meta
    * table, shared by [[searchStored]] and the oracled in-memory twin
    * so the two cannot drift.
    */
  def summedStats(meta: DataFrame): DataFrame =
    meta.agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"))
      .select(col("n_docs"),
        Search.idiv(lit(1000L) * col("n_tokens"), col("n_docs"))
          .as("avgdl_milli"))

  /** Build the stored index for a corpus. Clears any previous store
    * first so a rebuild never inherits stale batch directories.
    */
  def run(spark: SparkSession, docsPath: String, outPath: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(outPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root)) fs.delete(root, true)
    val docs = spark.read.parquet(docsPath)
    writeBatch(docs, outPath, "base")
  }

  /** Add a batch of NEW docs (disjoint from everything indexed so
    * far). IDEMPOTENT per `batchId` — a retry overwrites its own
    * partition directories; the default id is md5 of the input path
    * (the retry shape), callers reusing one path for different content
    * must pass an explicit per-batch id.
    */
  def append(spark: SparkSession, newDocsPath: String, outPath: String,
      batchId: String = ""): Unit = {
    val metaP = new org.apache.hadoop.fs.Path(s"$outPath/meta")
    val fs = metaP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(metaP),
      s"BuildTextIndex.append: no index at $outPath — run BuildTextIndex.run first")
    val id = if (batchId.nonEmpty) batchId
      else java.security.MessageDigest.getInstance("MD5")
        .digest(newDocsPath.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(12)
    require(!id.contains("/") && !id.contains("="),
      s"BuildTextIndex.append: batchId '$id' must be a plain partition value")
    require(id != "base",
      "BuildTextIndex.append: batchId 'base' is reserved for the initial " +
        "build (appending under it would overwrite the base postings)")
    require(id != "deletes",
      "BuildTextIndex.append: batchId 'deletes' is reserved for the " +
        "tombstone decrement row (appending under it would overwrite it " +
        "and un-delete every tombstoned doc's stats)")
    writeBatch(spark.read.parquet(newDocsPath), outPath, id)
  }

  private def writeBatch(docs: DataFrame, outPath: String, id: String): Unit = {
    // batch-id collision guard ([[SummaryStore.guardedWrite]]): the
    // digest rides the batch's meta row; postings are CORPUS-SLICE-
    // sized, so the fresh-id path matters here — the digest aggregates
    // observe the write itself (zero extra pass), and only genuine id
    // re-use pays a persist to compare BEFORE the overwrite
    val spark = docs.sparkSession
    val digest = SummaryStore.guardedWrite(outPath, id,
        postingsTable(docs),
        SummaryStore.committedMetaDigest(spark, outPath, id),
        "BuildTextIndex") { df =>
      df.write.mode("overwrite").partitionBy("tbucket")
        .parquet(s"$outPath/postings/batch=$id")
    }
    statsTable(docs).withColumn("content_digest", lit(digest))
      .write.mode("overwrite").parquet(s"$outPath/meta/batch=$id")
  }

  /** Fold a streaming postings-ingest directory
    * ([[graft.streaming.StreamingJob.runPostingsIngest]]'s output)
    * into the stored index: the streamed (token, doc, dl, tf) rows
    * land as ONE bucket-partitioned batch directory, and the batch's
    * additive meta row is derived from the rows themselves
    * (n_docs = distinct docs, n_tokens = Σ tf — the identities the
    * postings already carry), so searches over the folded store score
    * exactly as if the docs had arrived via [[append]]. Same writer
    * discipline as [[BuildDedupIndex.compact]]: the default label
    * hashes the streamed DATA FILE NAMES (a crash-retry of the same
    * file set overwrites its own fold; the next cycle re-using the
    * same path gets a fresh fold), `base` is reserved, and the caller
    * retires the streamed dir + the stream's checkpoint together after
    * a successful fold.
    *
    * Re-folding the SAME streaming directory after the stream added
    * files (the crash-or-early-fold shape) is handled by SUPERSESSION,
    * not by duplicate absorption alone: posting-row duplicates are
    * DISTINCT-absorbed by the read paths, but each fold also carries
    * an additive meta row, and two folds sharing files would
    * double-count those files' docs/tokens in n_docs/avgdl — a SCORE
    * error, not a cost one. So every fold records its streamed file
    * set in a `folded/<id>` sidecar; a new fold whose file set is a
    * SUPERSET of a prior fold's deletes that fold's postings AND meta
    * after its own write commits, and a partial overlap that is not a
    * superset refuses loudly (two folds that each own files the other
    * lacks cannot be reconciled). Crash between the new write and the
    * stale deletion leaves a TRANSIENT double-count — ranked scores
    * inflated, matches still exact — that the re-run heals (same file
    * set ⇒ same label ⇒ rewrite, then the stale deletion retries).
    *
    * The sidecar lives OUTSIDE every Spark-written directory and is
    * written FIRST (sidecar → postings → meta), so no crash window can
    * produce a meta row without a sidecar: a fold that counts in
    * n_docs/n_tokens is always retirable by a later superset fold. The
    * r10 layout kept the sidecar inside the postings batch directory
    * and wrote it LAST — a crash between the meta write and the
    * sidecar write (or during a retry's postings overwrite, which
    * transiently deletes the in-dir sidecar) left a fold whose meta
    * double-counted forever because the supersession census skips
    * sidecar-less batches (append batches legitimately have none).
    * Legacy in-dir sidecars are still honored at read; run
    * [[migrateFoldSidecars]] once to relocate them so [[consolidate]]
    * (which deletes source batch directories) can accept fold batches.
    */
  def compactStreamed(spark: SparkSession, streamedPath: String,
      outPath: String, label: String = ""): Unit = {
    val metaP = new org.apache.hadoop.fs.Path(s"$outPath/meta")
    val fs = metaP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(metaP),
      s"BuildTextIndex.compactStreamed: no index at $outPath — run " +
        "BuildTextIndex.run first")
    val files = BuildDedupIndex.streamedFileList(spark, streamedPath)
    val id = if (label.nonEmpty) label
      else BuildDedupIndex.contentLabel(spark, streamedPath)
    require(!id.contains("/") && !id.contains("="),
      s"BuildTextIndex.compactStreamed: label '$id' must be a plain partition value")
    require(id != "base",
      "BuildTextIndex.compactStreamed: label 'base' is reserved for the " +
        "initial build (folding under it would overwrite the base postings)")
    require(id != "deletes",
      "BuildTextIndex.compactStreamed: label 'deletes' is reserved for " +
        "the tombstone decrement row")
    // supersession census BEFORE writing: prior folds whose file sets
    // this fold covers get retired after the new write commits; a
    // partial overlap is unreconcilable and must refuse before any
    // state changes
    val mine = files.toSet
    val superseded = Folds.superseded(fs, outPath, id, mine,
      "BuildTextIndex.compactStreamed", Some(s"$outPath/postings"))
    // sidecar FIRST (sidecar → postings → meta): the sidecar is what
    // makes a fold supersedable, the meta row is what makes it
    // double-countable, so the retire handle must exist before any
    // state worth retiring. A crash after the sidecar alone leaves a
    // handle to nothing (a later retire deletes directories that are
    // not there — harmless); a crash after the postings leaves
    // DISTINCT-absorbed duplicate rows; only the full sequence counts
    // in n_docs/n_tokens, and by then the fold is retirable. The
    // sidecar lives in folded/, not inside the postings batch dir,
    // so neither a retry's postings overwrite nor consolidation can
    // strip it.
    Folds.writeSidecar(fs, outPath, id, files)
    val streamed = spark.read.parquet(streamedPath)
      .select(col("token"), col("doc_id"), col("dl"), col("tf"),
        col("positions"))
    streamed
      .withColumn("tbucket", tbucketOf(col("token")))
      .write.mode("overwrite").partitionBy("tbucket")
      .parquet(s"$outPath/postings/batch=$id")
    streamed
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        sum(col("tf")).as("n_tokens"))
      .write.mode("overwrite").parquet(s"$outPath/meta/batch=$id")
    superseded.foreach { b =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$outPath/postings/batch=$b"), true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$outPath/meta/batch=$b"), true)
      // the retired fold's own sidecar goes last: if the deletes above
      // crash mid-way, the surviving sidecar lets the re-run finish
      // the retirement (its file set is still a subset of ours)
      fs.delete(Folds.sidecarPath(outPath, b), false)
    }
  }

  /** One-time, retry-safe relocation of LEGACY r10 in-dir
    * `_folded_files` sidecars to `folded/<id>`: copy out, then delete
    * the in-dir original. A crash between the two leaves both — the
    * census counts the batch once (relocated copy wins) and the re-run
    * removes the leftover — so the migration converges however many
    * times it runs. Required before [[consolidate]] will accept a fold
    * batch (consolidation deletes source directories, which would
    * strip an in-dir sidecar and silently disable supersession).
    */
  def migrateFoldSidecars(spark: SparkSession, outPath: String): Unit = {
    val postRoot = new org.apache.hadoop.fs.Path(s"$outPath/postings")
    val fs = postRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(postRoot)) return
    fs.listStatus(postRoot)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
      .foreach { s =>
        val legacy = new org.apache.hadoop.fs.Path(s.getPath, "_folded_files")
        if (fs.exists(legacy)) {
          val b = s.getPath.getName.stripPrefix("batch=")
          val dest = Folds.sidecarPath(outPath, b)
          if (!fs.exists(dest)) {
            val in = fs.open(legacy)
            val bytes = try {
              val buf = new java.io.ByteArrayOutputStream()
              org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 65536)
              buf.toByteArray
            } finally in.close()
            val out = fs.create(dest, true)
            try out.write(bytes) finally out.close()
          }
          fs.delete(legacy, false)
        }
      }
  }

  /** Ranked retrieval against the stored index — identical scores to
    * `Search.rankedSearch` over the same corpus (JobsSpec pins the
    * equality), with ZERO corpus access: the terms' tbuckets are
    * computed up front (one row-per-term local job, the driver-side
    * model-pull pattern), the postings read prunes to those partition
    * directories plus a pushed `token IN (…)` filter, stats are the
    * summed meta rows, and df is a count over the pruned postings.
    */
  /** The terms' tbucket literals, computed up front (one row-per-term
    * local job — the driver-side model-pull pattern) so the postings
    * read can PRUNE on the partition column.
    */
  private def termBuckets(spark: SparkSession, terms: Seq[String]): Seq[Int] = {
    import spark.implicits._
    terms.toDF("token")
      .select(tbucketOf(col("token"))).collect().map(_.getInt(0))
      .distinct.toSeq
  }

  /** The stored postings rows for a literal term set: partition-pruned
    * to the terms' tbuckets plus the pushed token filter, projected to
    * `cols`, DISTINCT'd, and TOMBSTONE-FILTERED — the ONE pruned-read
    * every stored search goes through. The DISTINCT is the
    * duplicate-tolerance device the dedup store's probe uses: a crash
    * between [[consolidate]]'s write and its deletions (or an
    * overlapping re-fold of a streamed dir) leaves EXACT duplicate
    * posting rows, which must degrade cost, never scores or matches.
    * It runs over the query-term-sized pruned set, not the corpus —
    * and so does the deletes anti-join: the postings side is already
    * term-sized when deleted docs filter out, so a takedown costs a
    * tiny join per query, never a rebuild.
    */
  private def prunedPostings(spark: SparkSession, outPath: String,
      terms: Seq[String], cols: Seq[String]): DataFrame = {
    val post = spark.read.parquet(s"$outPath/postings")
      .filter(col("tbucket").isin(termBuckets(spark, terms): _*) &&
        col("token").isin(terms: _*))
      .select(cols.map(col): _*)
      .distinct()
    deletedIds(spark, outPath)
      .map(d => post.join(d, Seq("doc_id"), "left_anti"))
      .getOrElse(post)
  }

  /** Every tombstoned doc_id, or None when the store has no deletes
    * directory (the common case pays zero cost).
    */
  private def deletedIds(spark: SparkSession,
      outPath: String): Option[DataFrame] = {
    val delRoot = new org.apache.hadoop.fs.Path(s"$outPath/deletes")
    val fs = delRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(delRoot))
      Some(spark.read.parquet(s"$outPath/deletes").select(col("doc_id")))
    else None
  }

  /** Tombstone a batch of documents — the takedown verb (PII,
    * copyright) the stored lifecycle was missing: build / append /
    * stream / compact / consolidate grow the store, this shrinks it
    * WITHOUT a rebuild. `docIdsPath` is a parquet table with a
    * `doc_id` column. After it returns, all four query shapes behave
    * exactly as if the docs had never been indexed (JobsSpec pins
    * search-after-delete ≡ rebuild-without-docs), and
    * [[consolidate]] physically drops the docs' postings when it next
    * runs.
    *
    * Mechanics — two writes, both idempotent per `batchId`:
    *
    *   1. `deletes/batch=<id>/` (doc_id, dl): the tombstones, with
    *      each doc's length FROZEN at delete time (dl null for docs
    *      not in the store). Every read path anti-joins these ids on
    *      its already-pruned, query-term-sized postings set.
    *   2. `meta/batch=deletes/` — ONE reserved decrement row
    *      recomputed from ALL delete batches: n_docs = −(distinct
    *      tombstoned docs that were actually indexed), n_tokens =
    *      −(Σ of their frozen dl). Recompute-from-tombstones (never
    *      from live postings) makes the row order-independent and
    *      immune to physical removal: overlapping delete batches
    *      collapse in the distinct, and a doc whose rows consolidation
    *      already dropped still decrements exactly once because its dl
    *      rode the tombstone, not the postings.
    *
    * The dl lookup is ONE column-pruned postings scan (doc_id, dl) per
    * delete batch — maintenance-class, same order as a consolidation;
    * queries pay only the anti-join on their pruned set. Crash between
    * the two writes leaves matches suppressed but stats transiently
    * counting the deleted docs (scores conservative, matches already
    * correct); the retry — or ANY later delete — heals the decrement
    * row, since it is always recomputed from the full tombstone set.
    */
  def deleteDocs(spark: SparkSession, docIdsPath: String, outPath: String,
      batchId: String = ""): Unit = {
    val metaP = new org.apache.hadoop.fs.Path(s"$outPath/meta")
    val fs = metaP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(metaP),
      s"BuildTextIndex.deleteDocs: no index at $outPath")
    val id = if (batchId.nonEmpty) batchId
      else java.security.MessageDigest.getInstance("MD5")
        .digest(docIdsPath.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(12)
    require(!id.contains("/") && !id.contains("="),
      s"BuildTextIndex.deleteDocs: batchId '$id' must be a plain partition value")
    val ids = spark.read.parquet(docIdsPath).select(col("doc_id")).distinct()
    // freeze each doc's dl now: semi-join FIRST so the aggregate is
    // delete-batch-sized, not corpus-sized (the scan is still one full
    // column-pruned pass — postings partition by token bucket, not
    // doc); max() collapses crash-duplicate posting rows (dl is
    // functionally dependent on the doc); a doc not in the store keeps
    // a null dl and never decrements
    val frozen = ids.join(
      spark.read.parquet(s"$outPath/postings")
        .select(col("doc_id"), col("dl"))
        .join(ids, Seq("doc_id"), "left_semi")
        .groupBy(col("doc_id")).agg(max(col("dl")).as("dl")),
      Seq("doc_id"), "left_outer")
    frozen.write.mode("overwrite").parquet(s"$outPath/deletes/batch=$id")
    // the ONE decrement row, recomputed from all tombstones: distinct
    // docs so overlapping delete batches never double-decrement
    spark.read.parquet(s"$outPath/deletes")
      .filter(col("dl").isNotNull)
      .groupBy(col("doc_id")).agg(max(col("dl")).as("dl"))
      .agg((-count(lit(1))).as("n_docs"),
        (-coalesce(sum(col("dl")), lit(0L))).as("n_tokens"))
      .write.mode("overwrite").parquet(s"$outPath/meta/batch=deletes")
  }

  def searchStored(spark: SparkSession, outPath: String,
      terms: Seq[String], k: Int = 10): DataFrame = {
    val q = terms.distinct
    require(q.nonEmpty && q.forall(t => t.nonEmpty && !t.contains(" ")),
      "searchStored: terms must be non-empty single tokens")
    val stats = summedStats(spark.read.parquet(s"$outPath/meta"))
    val post = prunedPostings(spark, outPath, q,
      Seq("token", "doc_id", "dl", "tf"))
    Search.scoredTopK(post, stats, k, "doc_id")
  }

  /** Exact phrase occurrences against the stored POSITIONAL postings —
    * zero corpus access: the phrase terms' bucket directories are the
    * only data read; their position lists explode back into the
    * (token, doc, pos) frame the shared phrase body consumes, so
    * stored ≡ corpus-path results by construction (JobsSpec pins it).
    */
  def searchPhrase(spark: SparkSession, outPath: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty &&
      phrase.forall(t => t.nonEmpty && !t.contains(" ")),
      "searchPhrase: phrase must be non-empty single tokens")
    Search.phraseFromPositions(
      prunedPostings(spark, outPath, phrase.distinct,
          Seq("token", "doc_id", "positions"))
        .select(col("token"), col("doc_id"),
          explode(col("positions")).as("pos")),
      phrase, "doc_id")
  }

  /** Conjunction + negation against the stored postings — the fourth
    * and last query shape, so EVERY search the corpus path answers
    * runs off the pruned bucket read with zero corpus access.
    */
  def searchBoolean(spark: SparkSession, outPath: String,
      all: Seq[String], none: Seq[String] = Seq.empty): DataFrame = {
    val (need, ban) = Search.booleanTerms(all, none)
    Search.booleanFromPostings(
      prunedPostings(spark, outPath, need ++ ban,
        Seq("token", "doc_id", "tf")),
      need, ban, "doc_id")
  }

  /** Proximity (NEAR) retrieval against the stored positional
    * postings — the [[searchPhrase]] read path with the shared
    * proximity body.
    */
  def searchProximity(spark: SparkSession, outPath: String,
      termA: String, termB: String, window: Int): DataFrame =
    Search.proximityFromPositions(
      prunedPostings(spark, outPath, Seq(termA, termB).distinct,
          Seq("token", "doc_id", "positions"))
        .select(col("token"), col("doc_id"),
          explode(col("positions")).as("pos")),
      termA, termB, window, "doc_id")

  /** Fold many small postings batch directories into one consolidated
    * partition — [[BuildDedupIndex.consolidate]]'s protocol verbatim
    * (complete-dir skip, all-sources-or-loud, delete last; crash
    * between write and deletions leaves exact duplicate rows the read
    * paths' DISTINCT absorbs). META DIRECTORIES ARE LEFT ALONE: each
    * is one tiny additive row, the file-count problem is the postings,
    * and folding meta would make the crash window double-count n_docs
    * — a score error, not a cost one. Only consolidate CLOSED batches.
    *
    * Fold batches (streamed compactions) are safe to consolidate once
    * their sidecars live in `folded/` (the r11 layout): consolidation
    * deletes the source POSTINGS directory but the sidecar and the
    * fold's meta row survive, so a later superset re-fold still
    * retires the meta (the score hazard) while the fold's rows inside
    * the consolidated directory become DISTINCT-absorbed duplicates
    * (cost, never correctness). A LEGACY in-dir `_folded_files`
    * sidecar would be silently stripped with its directory —
    * permanently disabling supersession for that fold — so it refuses
    * loudly until [[migrateFoldSidecars]] has run.
    */
  def consolidate(spark: SparkSession, outPath: String,
      batches: Seq[String], numFiles: Int = 8): Unit = {
    val metaP = new org.apache.hadoop.fs.Path(s"$outPath/meta")
    val fs = metaP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(metaP),
      s"BuildTextIndex.consolidate: no index at $outPath")
    val legacy = batches.filter(b => fs.exists(new org.apache.hadoop.fs.Path(
      s"$outPath/postings/batch=$b/_folded_files")))
    if (legacy.nonEmpty)
      throw new IllegalStateException(
        s"BuildTextIndex.consolidate: batches ${legacy.mkString(",")} carry " +
          "legacy in-directory _folded_files sidecars; consolidating them " +
          "would strip their supersession protection (a later superset " +
          "re-fold could then silently double-count their meta). Run " +
          "BuildTextIndex.migrateFoldSidecars(spark, outPath) once, then retry.")
    BuildDedupIndex.consolidateBatches(spark, s"$outPath/postings",
        "BuildTextIndex.consolidate", batches) { (srcDirs, consol) =>
      // basePath anchors discovery above the sibling batch dirs (their
      // nested tbucket= levels otherwise trip the conflicting-structure
      // check); WHICH files are read is still fixed by the explicit
      // paths the shared protocol hands over
      val src = spark.read.option("basePath", s"$outPath/postings")
        .parquet(srcDirs: _*)
        .select(col("token"), col("doc_id"), col("dl"), col("tf"),
          col("positions"), col("tbucket"))
      // physical tombstone apply: consolidation is the one pass that
      // rewrites postings anyway, so deleted docs' rows drop here for
      // free. The tombstones and the decrement row STAY (batches not
      // in this consolidation may still hold the docs, and the
      // additive batch metas that counted them are untouched) — the
      // frozen-dl decrement is immune to this removal by design.
      val live = deletedIds(spark, outPath)
        .map(d => src.join(d, Seq("doc_id"), "left_anti")).getOrElse(src)
      live
        .repartition(numFiles, col("tbucket"))
        .write.mode("overwrite").partitionBy("tbucket")
        .parquet(consol.toString)
    }
    // tombstone file-count maintenance rides the consolidation pass:
    // fold the delete batch directories into one (semantics-preserving
    // — see compactTombstones; tombstones themselves must survive for
    // the batches this consolidation didn't cover)
    compactTombstones(spark, outPath)
  }

  /** Fold every tombstone batch directory into ONE compacted batch —
    * the takedown lifecycle's file-count maintenance, mirroring what
    * [[consolidate]] does for postings. Tombstones can never be
    * RETIRED here (additive batch metas still count the deleted docs,
    * so the recomputed decrement row needs every frozen dl forever;
    * and delete-wins-over-later-re-add is part of the takedown
    * contract), but they can be folded: a year of weekly takedown
    * batches is ~50 directories that EVERY query's anti-join and EVERY
    * deleteDocs recompute must list and read. After compaction both
    * pay one directory.
    *
    * The fold is `groupBy(doc_id).agg(max(dl))` — exactly the
    * canonicalization [[deleteDocs]]' decrement recompute applies
    * (max ignores nulls ⇒ a doc tombstoned before indexing and again
    * after keeps its frozen dl; an all-null doc keeps null and still
    * suppresses matches), so the decrement row and every query result
    * are byte-identical across the fold (JobsSpec pins both). Same
    * crash protocol as [[consolidate]] (shared
    * [[BuildDedupIndex.consolidateBatches]]): crash between write and
    * source deletion leaves duplicate tombstone rows that the
    * recompute's groupBy and the anti-join both absorb.
    *
    * [[consolidate]] calls this after its postings fold — tombstone
    * compaction is takedown-sized, so it rides the maintenance pass
    * for free — and it is callable standalone for stores that take
    * deletes faster than they consolidate.
    */
  def compactTombstones(spark: SparkSession, outPath: String): Unit = {
    val batches = BuildDedupIndex.tombstoneBatches(spark, outPath)
    if (batches.size <= 1) return
    BuildDedupIndex.consolidateBatches(spark, s"$outPath/deletes",
        "BuildTextIndex.compactTombstones", batches) { (srcDirs, consol) =>
      spark.read.parquet(srcDirs: _*)
        .groupBy(col("doc_id")).agg(max(col("dl")).as("dl"))
        .coalesce(1)
        .write.mode("overwrite").parquet(consol.toString)
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: BuildTextIndex <docsParquet> <outPath>")
    val spark = SparkSession.builder()
      .appName("graft-build-text-index")
      .config("spark.sql.shuffle.partitions", 32)
      .getOrCreate()
    run(spark, args(0), args(1))
    spark.stop()
  }
}
