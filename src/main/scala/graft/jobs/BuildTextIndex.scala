package graft.jobs

import org.apache.hadoop.fs.{FileSystem, Path}
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
  * Writer discipline is [[SummaryStore]]'s: every writer owns a
  * `batch=<id>` partition directory (overwrite-on-retry ⇒ idempotent
  * per batch id; `base` reserved for [[run]], `deletes` for the
  * tombstone decrement row), and batches must carry DISJOINT doc sets
  * — a doc split across batches would double its postings rows and
  * inflate df/tf.
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
    SummaryStore.clear(spark, outPath)
    val docs = spark.read.parquet(docsPath)
    writeBatch(outPath, "base", postingsTable(docs), statsTable(docs), None,
      "BuildTextIndex.run")
  }

  /** The one built-store guard of every verb. */
  private def requireBuilt(spark: SparkSession, outPath: String,
      op: String): FileSystem =
    SummaryStore.requireBuilt(spark, "BuildTextIndex", "index", outPath,
      "meta", op)

  /** The ids a fold may not write under: [[run]]'s base batch and the
    * tombstone decrement row ([[deleteDocs]]).
    */
  private val Reserved = Seq("base", "deletes")

  /** Add a batch of NEW docs (disjoint from everything indexed so
    * far). IDEMPOTENT per `batchId` — a retry overwrites its own
    * partition directories; the default id is md5 of the input path
    * ([[SummaryStore.batchId]]).
    */
  def append(spark: SparkSession, newDocsPath: String, outPath: String,
      batchId: String = ""): Unit = {
    requireBuilt(spark, outPath, "append")
    val op = "BuildTextIndex.append"
    val id = SummaryStore.batchId(op, batchId, newDocsPath, Reserved)
    val docs = spark.read.parquet(newDocsPath)
    writeBatch(outPath, id, postingsTable(docs), statsTable(docs),
      SummaryStore.committedMetaDigest(spark, outPath, id), op)
  }

  /** One batch: its postings under the batch-id collision guard
    * ([[SummaryStore.guardedWrite]]), then its additive stats row
    * carrying the digest. Postings are CORPUS-SLICE-sized, so the
    * fresh-id path matters here — the digest aggregates observe the
    * write itself (zero extra pass), and only genuine id re-use
    * (`committed`) pays a persist to compare BEFORE the overwrite.
    */
  private def writeBatch(outPath: String, id: String, postings: DataFrame,
      stats: DataFrame, committed: Option[String], op: String): Unit = {
    val digest = SummaryStore.guardedWrite(outPath, id, postings, committed,
        op) {
      _.write.mode("overwrite").partitionBy("tbucket")
        .parquet(s"$outPath/postings/batch=$id")
    }
    stats.withColumn("content_digest", lit(digest))
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
    * hashes the streamed DATA FILE NAMES ([[SummaryStore.foldId]]: a
    * crash-retry of the same file set overwrites its own fold; the
    * next cycle re-using the same path gets a fresh fold), `base` and
    * `deletes` are reserved, the meta row carries the fold's content
    * digest (an [[append]] re-using the label with different content
    * refuses), and the caller retires the streamed dir + the stream's
    * checkpoint together after a successful fold.
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
    val op = "BuildTextIndex.compactStreamed"
    val fs = requireBuilt(spark, outPath, "compactStreamed")
    val files = SummaryStore.streamedFileList(spark, streamedPath)
    val id = SummaryStore.foldId(spark, op, label, streamedPath, Reserved)
    // sidecar → postings → meta ([[SummaryStore.supersede]]): a crash
    // after the postings alone leaves DISTINCT-absorbed duplicate rows,
    // and only the meta row makes the fold count in n_docs/n_tokens.
    // The sidecar lives in folded/, not inside the postings batch dir,
    // so neither a retry's postings overwrite nor consolidation can
    // strip it. The same-label re-fold is the crash-retry (supersession
    // governs a grown stream), so its digest is observed, never
    // compared.
    SummaryStore.supersede(fs, outPath, "postings", id, files, op,
        Some("postings")) {
      val streamed = spark.read.parquet(streamedPath)
        .select(col("token"), col("doc_id"), col("dl"), col("tf"),
          col("positions"))
      writeBatch(outPath, id,
        streamed.withColumn("tbucket", tbucketOf(col("token"))),
        streamed.agg(countDistinct(col("doc_id")).as("n_docs"),
          sum(col("tf")).as("n_tokens")), None, op)
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
    val fs = SummaryStore.fsOf(spark, outPath)
    SummaryStore.listed(fs, outPath, "postings").foreach { b =>
      val legacy = new Path(s"$outPath/postings/batch=$b/_folded_files")
      if (fs.exists(legacy)) {
        val dest = SummaryStore.sidecarPath(outPath, b)
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
    SummaryStore.deletedIds(spark, outPath, "doc_id")
      .fold(post)(d => post.join(d, Seq("doc_id"), "left_anti"))
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
    requireBuilt(spark, outPath, "deleteDocs")
    val id = SummaryStore.batchId("BuildTextIndex.deleteDocs", batchId,
      docIdsPath, reserved = Nil)
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

  /** Ranked retrieval against the stored index — identical scores to
    * `Search.rankedSearch` over the same corpus (JobsSpec pins the
    * equality), with ZERO corpus access: the terms' tbuckets are
    * computed up front (one row-per-term local job, the driver-side
    * model-pull pattern), the postings read prunes to those partition
    * directories plus a pushed `token IN (…)` filter, stats are the
    * summed meta rows, and df is a count over the pruned postings.
    */
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
    * partition — [[SummaryStore.consolidateBatches]], as for the dedup
    * store (complete-dir skip, all-sources-or-loud, delete last; crash
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
    val fs = requireBuilt(spark, outPath, "consolidate")
    val legacy = batches.filter(b =>
      fs.exists(new Path(s"$outPath/postings/batch=$b/_folded_files")))
    if (legacy.nonEmpty)
      throw new IllegalStateException(
        s"BuildTextIndex.consolidate: batches ${legacy.mkString(",")} carry " +
          "legacy in-directory _folded_files sidecars; consolidating them " +
          "would strip their supersession protection (a later superset " +
          "re-fold could then silently double-count their meta). Run " +
          "BuildTextIndex.migrateFoldSidecars(spark, outPath) once, then retry.")
    SummaryStore.consolidateBatches(spark, s"$outPath/postings",
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
      SummaryStore.deletedIds(spark, outPath, "doc_id")
        .fold(src)(d => src.join(d, Seq("doc_id"), "left_anti"))
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

  /** Fold every tombstone batch directory into ONE compacted batch
    * ([[SummaryStore.compactTombstones]]). Tombstones can never be
    * RETIRED here: additive batch metas still count the deleted docs,
    * so the recomputed decrement row needs every frozen dl forever.
    *
    * The fold is `groupBy(doc_id).agg(max(dl))` — exactly the
    * canonicalization [[deleteDocs]]' decrement recompute applies
    * (max ignores nulls ⇒ a doc tombstoned before indexing and again
    * after keeps its frozen dl; an all-null doc keeps null and still
    * suppresses matches), so the decrement row and every query result
    * are byte-identical across the fold (JobsSpec pins both), and the
    * duplicate rows a crash window leaves are absorbed by both the
    * recompute's groupBy and the anti-join.
    *
    * [[consolidate]] calls this after its postings fold — tombstone
    * compaction is takedown-sized, so it rides the maintenance pass
    * for free — and it is callable standalone for stores that take
    * deletes faster than they consolidate.
    */
  def compactTombstones(spark: SparkSession, outPath: String): Unit =
    SummaryStore.compactTombstones(spark, outPath,
        "BuildTextIndex.compactTombstones") {
      _.groupBy(col("doc_id")).agg(max(col("dl")).as("dl"))
    }

  def main(args: Array[String]): Unit =
    SummaryStore.main("BuildTextIndex", args, 2,
      "<docsParquet> <outPath>")(run(_, args(0), args(1)))
}
