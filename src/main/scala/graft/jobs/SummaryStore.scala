package graft.jobs

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}

/** The ONE store module: every mechanic the engine's eight persisted
  * stores share lives here once, and each store keeps only its own
  * algorithm.
  *
  * The five SUMMARY stores ([[BuildSketchStore]] counters,
  * [[BuildProfileStore]] histograms, [[BuildBloomStore]] filters,
  * [[BuildHllStore]] registers, [[BuildSampleStore]] priority
  * candidates) are a [[Kind]] plus a fold and a merge, and run their
  * whole batch lifecycle here:
  *
  *   <table>/batch=<id>/   the batch's fold
  *   meta/batch=<id>/      one row: the convention the fold was made
  *                         with, its device, and its `content_digest`
  *
  * The three INDEX stores (the dedup LSH bucket table, the
  * [[BuildTextIndex]] postings, the [[BuildIndex]] IVF-PQ index) keep
  * their own layouts and algorithms (band probe/verify, postings and
  * scoring, IVF-PQ) and share the rest: the batch id ([[batchId]],
  * [[foldId]]), the built-store guard ([[requireBuilt]]; the dedup
  * store reads its split from its meta row instead), the collision
  * guard ([[guardedWrite]] and the digest sidecars), the tombstones
  * ([[deletedIds]], [[tombstone]], [[compactTombstones]]), the fold
  * supersession ([[supersede]]), the duplicate-tolerant consolidation
  * ([[consolidateBatches]]), `run`'s [[clear]] and the CLI [[main]].
  *
  * Every writer owns its `batch=<id>` directories (overwrite-on-retry ⇒
  * idempotent per batch id — the Scheduler's marker-after-work retry
  * contract). `base` is written by `run` only, and for a summary store
  * its meta row pins the store convention every later fold READS
  * ([[convention]]), so a caller cannot even ask for a divergent fold;
  * `consol-` is reserved for consolidation output on every store. The
  * table is written before its meta row: a table without one (orphan)
  * is LOUD at merge ([[gated]]), so a crash between the two writes can
  * never silently count, while the reverse order would leave a meta
  * row claiming a fold that does not exist (ghost) — a silent loss.
  *
  * Three consolidation commits, one per fold algebra, each its own
  * function: [[consolidate]] (a manifest commit) for the stores whose
  * merge double-counts a batch read twice (SUM) or that keep one
  * contract with them (BIT_OR); [[consolidateMerged]] (write, then
  * delete, with a re-run heal) for the idempotent merges (MAX,
  * TOP-(k+1)), where reading sources and consolidation together is
  * harmless; [[consolidateBatches]] (complete-dir skip, then delete)
  * for the index stores, whose read paths' DISTINCT absorbs the rows a
  * crash window duplicates.
  */
private[jobs] object SummaryStore {

  /** What differs between stores, as far as the lifecycle is concerned.
    * `render` shows a convention without its device ("128x3"); `drift`
    * names a mismatch ("geometry"), `driftHarm` what merging across one
    * would do, and `lossHarm` what a lost fold (a ghost) would do — the
    * per-store phrases of the gate's refusals.
    */
  final case class Kind(name: String, noun: String, tableDir: String,
      table: String, device: String, columns: Seq[(String, DataType)],
      deviceCol: String, render: Row => String, drift: String,
      driftHarm: String, lossHarm: String) {

    /** The meta row's columns: the convention, then the device. Numeric
      * columns are non-nullable, as a tuple's `toDF` makes them.
      */
    val schema: StructType = StructType(
      columns.map { case (c, t) => StructField(c, t, nullable = false) } :+
        StructField(deviceCol, StringType))

    def convention(values: Any*): Row = Row.fromSeq(values :+ device)
  }

  def fsOf(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tablePath(k: Kind, outPath: String, id: String) =
    new Path(s"$outPath/${k.tableDir}/batch=$id")

  private def metaPath(outPath: String, id: String) =
    new Path(s"$outPath/meta/batch=$id")

  private def manifestDir(outPath: String) = new Path(s"$outPath/consolidated")

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** The `batch=` ids present under one directory of a store. */
  def listed(fs: FileSystem, outPath: String,
      dir: String): Set[String] = {
    val root = new Path(s"$outPath/$dir")
    (if (fs.exists(root)) fs.listStatus(root).toSeq else Seq.empty)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
      .map(_.getPath.getName.stripPrefix("batch=")).toSet
  }

  /** The files (not directories) directly under `dir`. */
  private def filesIn(fs: FileSystem, dir: Path): Seq[Path] =
    if (fs.exists(dir)) fs.listStatus(dir).toSeq.filter(_.isFile).map(_.getPath)
    else Seq.empty

  /** The small line files of the store protocol — fold sidecars,
    * consolidation manifests, snapshot pins, digest sidecars — are one
    * format: each line an entry, each ending in a newline.
    */
  private def writeLines(fs: FileSystem, p: Path, lines: Seq[String],
      overwrite: Boolean = true): Unit = {
    val out = fs.create(p, overwrite)
    try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
  }

  private def readLines(fs: FileSystem, p: Path): Set[String] = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().filter(_.nonEmpty).toSet
    finally in.close()
  }

  /** Order-independent digest of a batch table's CONTENT: md5 over
    * (row count, decimal sum of per-row xxhash64 across all columns).
    * The decimal(38,0) sum is overflow-proof under ANSI mode and
    * multiset-sensitive (unlike a bit_xor fold, duplicate rows cannot
    * cancel), and summation commutes — the same rows in any partition
    * order digest identically, so a crash-retry of a deterministic
    * fold always reproduces its digest — and the observed form inside
    * [[guardedWrite]] (same aggregates riding the write) produces the
    * same string as this standalone pass.
    */
  private def finishDigest(n: Long, s: String): String =
    md5Hex(s"$n:$s").take(16)

  // the two digest aggregates; hash columns in NAME order, not
  // projection order, so a fold read back from disk (partition columns
  // re-ordered last) digests identically to the in-memory fold
  private def digestAggs(df: DataFrame) = {
    import org.apache.spark.sql.functions.{count, sum, xxhash64}
    Seq(count(lit(1)).as("__dg_n"),
      sum(xxhash64(df.columns.sorted.toSeq.map(c => col(c)): _*)
        .cast("decimal(38,0)")).as("__dg_s"))
  }

  def contentDigest(df: DataFrame): String = {
    val aggs = digestAggs(df)
    val agg = df.agg(aggs.head, aggs.tail: _*).head()
    val s = if (agg.isNullAt(1)) "0" else agg.getDecimal(1).toBigInteger.toString
    finishDigest(agg.getLong(0), s)
  }

  /** Write one batch fold under the collision guard, paying for the
    * digest in the cheapest way the situation allows. `committed` is
    * the digest already recorded for this batch id (None = fresh id,
    * or a pre-digest batch whose content is unknowable):
    *
    *  - fresh: nothing to collide with — the digest aggregates RIDE
    *    the caller's write via `Dataset.observe` (zero extra pass over
    *    a corpus-slice-sized fold; [[contentDigest]] and the observed
    *    form share one aggregate definition so they cannot drift);
    *  - committed: the new fold persists, digests, and compares
    *    BEFORE the overwrite — a mismatch refuses with the committed
    *    batch untouched, a match proceeds as the idempotent retry.
    *
    * Returns the digest for the caller's meta row / sidecar.
    */
  def guardedWrite(outPath: String, id: String, fold: DataFrame,
      committed: Option[String], op: String)(
      write: DataFrame => Unit): String = committed match {
    case Some(old) =>
      val p = fold.persist()
      try {
        val digest = contentDigest(p)
        if (digest != old)
          throw new IllegalStateException(
            s"$op: batch id '$id' is already committed with content digest " +
              s"$old, but this fold digests to $digest — re-using an id " +
              "with DIFFERENT content would silently replace the earlier " +
              "batch. Pick a fresh batch id (or drop/retract the old batch " +
              "first); an identical-content retry is accepted as the " +
              "idempotent re-run it is.")
        write(p)
        digest
      } finally { p.unpersist(); () }
    case None =>
      val obs = org.apache.spark.sql.Observation()
      val aggs = digestAggs(fold)
      write(fold.observe(obs, aggs.head, aggs.tail: _*))
      val row = obs.get
      val s = Option(row("__dg_s"))
        .map(_.asInstanceOf[java.math.BigDecimal].toBigInteger.toString)
        .getOrElse("0")
      finishDigest(row("__dg_n").asInstanceOf[Long], s)
  }

  /** The digest committed for a batch id in its meta row, if any. */
  def committedMetaDigest(spark: SparkSession, outPath: String,
      id: String): Option[String] = {
    val metaP = metaPath(outPath, id)
    if (!fsOf(spark, outPath).exists(metaP)) return None
    val meta = spark.read.parquet(metaP.toString)
    if (!meta.columns.contains("content_digest")) None
    else meta.select(meta("content_digest"))
      .head(1).headOption.map(_.getString(0)).filter(_ != null)
  }

  /** The digest committed for a batch id in a `digests/<id>` sidecar
    * (stores whose batches carry no meta row), if any.
    */
  def committedFileDigest(fs: FileSystem, outPath: String,
      id: String): Option[String] = {
    val p = new Path(s"$outPath/digests/$id")
    if (fs.exists(p)) readLines(fs, p).map(_.trim).find(_.nonEmpty) else None
  }

  def writeDigestFile(fs: FileSystem, outPath: String, id: String,
      digest: String): Unit =
    writeLines(fs, new Path(s"$outPath/digests/$id"), Seq(digest))

  /** Retire the digest sidecars of batches that no longer exist (a
    * lingering one would refuse a later legitimate re-use of the id
    * against content that is no longer there to lose).
    */
  def deleteDigestFiles(fs: FileSystem, outPath: String,
      ids: Seq[String]): Unit =
    ids.foreach(id => fs.delete(new Path(s"$outPath/digests/$id"), false): Unit)

  // ---- the batch lifecycle ----

  /** The store's pinned convention (the base meta row's columns, device
    * last), after checking the device: a device change (a new hash
    * family, a new bucketing) must make old stores refuse new folds
    * instead of silently mixing the two.
    */
  def convention(spark: SparkSession, k: Kind, outPath: String,
      op: String): Row = {
    requireBuilt(spark, k.name, k.noun, outPath, "meta", op)
    val base = spark.read.parquet(s"$outPath/meta")
      .filter(col("batch").cast("string") === "base")
      .select(k.schema.fieldNames.toSeq.map(col): _*)
      .head(1).headOption
      .getOrElse(throw new IllegalStateException(
        s"${k.name}.$op: store at $outPath has no base meta row — the " +
          "base batch is gone or the store was never built; rebuild with " +
          s"${k.name}.run"))
    val device = base.getString(base.length - 1)
    require(device == k.device,
      s"${k.name}.$op: store at $outPath was built with device " +
        s"'$device', this build uses '${k.device}' — the two cannot mix; " +
        "rebuild the store")
    base
  }

  /** The built-store guard of a store whose presence is one directory
    * (`dir`); returns the store's filesystem for the verb's own I/O.
    */
  def requireBuilt(spark: SparkSession, name: String, noun: String,
      outPath: String, dir: String, op: String): FileSystem = {
    val fs = fsOf(spark, outPath)
    require(fs.exists(new Path(s"$outPath/$dir")),
      s"$name.$op: no $noun at $outPath — run $name.run first")
    fs
  }

  private val reservedFor = Map(
    "base" -> ("the initial build (writing under it would overwrite the " +
      "store's base batch)"),
    "deletes" -> ("the tombstone decrement row (writing under it would " +
      "overwrite it and un-delete every tombstoned doc's stats)"))

  /** The batch id of a write verb over one input path: `explicitId`,
    * else `prefix` + md5 of the path, so a retry of the same path lands on
    * the same id — callers reusing one path for different content must
    * pass explicit ids. Checked by [[checkId]]; `reserved` names the ids
    * the verb may not write (`base` for a fold, nothing for a
    * tombstone).
    */
  def batchId(op: String, explicitId: String, srcPath: String,
      reserved: Seq[String] = Seq("base"), prefix: String = ""): String =
    checkId(op, if (explicitId.nonEmpty) explicitId
      else prefix + md5Hex(srcPath).take(12), reserved)

  /** The batch id of a streamed fold: `explicitId`, else the streamed
    * directory's [[contentLabel]]. Checked like [[batchId]].
    */
  def foldId(spark: SparkSession, op: String, explicitId: String,
      streamedPath: String, reserved: Seq[String] = Seq("base")): String =
    checkId(op, if (explicitId.nonEmpty) explicitId
      else contentLabel(spark, streamedPath), reserved)

  /** The one id check of every write verb of every store. */
  private def checkId(op: String, id: String, reserved: Seq[String]): String = {
    require(!id.contains("/") && !id.contains("="),
      s"$op: batch id '$id' must be a plain partition value")
    require(!reserved.contains(id),
      s"$op: batch id '$id' is reserved for ${reservedFor(id)}")
    require(!id.startsWith("consol-"),
      s"$op: batch id prefix 'consol-' is reserved for consolidation " +
        "output — the store would treat this batch as a consolidation, " +
        "not an ordinary batch (a manifest-committed store's readers " +
        "ignore it as an uncommitted leftover, dropBatches refuses to " +
        "delete it, and an index store's consolidation or tombstone " +
        "compaction would be overwritten)")
    id
  }

  /** Fold then meta: the table under the collision guard, then the meta
    * row carrying the convention and the fold's content digest — on
    * every write, so a later append that re-uses the id with different
    * content refuses whichever verb wrote it first.
    */
  private def write(spark: SparkSession, k: Kind, outPath: String,
      id: String, conv: Row, fold: DataFrame,
      committed: Option[String]): Unit = {
    val digest = guardedWrite(outPath, id, fold, committed, k.name) {
      _.write.mode("overwrite").parquet(tablePath(k, outPath, id).toString)
    }
    writeMeta(spark, k, outPath, id, conv, digest)
  }

  private def writeMeta(spark: SparkSession, k: Kind, outPath: String,
      id: String, conv: Row, digest: String): Unit =
    spark.createDataFrame(java.util.Collections.singletonList(conv), k.schema)
      .withColumn("content_digest", lit(digest))
      .write.mode("overwrite").parquet(metaPath(outPath, id).toString)

  /** `run`'s clear, for every store: the whole store root goes, so a
    * rebuild never inherits stale batch directories, tombstones,
    * sidecars or partitions.
    */
  def clear(spark: SparkSession, outPath: String): Unit =
    fsOf(spark, outPath).delete(new Path(outPath), true): Unit

  /** `run`: [[clear]] any previous store, then fold the base batch
    * under `conv`.
    */
  def run(spark: SparkSession, k: Kind, outPath: String, srcPath: String,
      conv: Row)(fold: (DataFrame, Row) => DataFrame): Unit = {
    clear(spark, outPath)
    write(spark, k, outPath, "base", conv,
      fold(spark.read.parquet(srcPath), conv), None)
  }

  /** `append` (and `retract`, an append of a negated fold): fold one
    * batch under the store's convention ([[batchId]]), refusing a
    * re-used id with different content.
    */
  def append(spark: SparkSession, k: Kind, outPath: String, op: String,
      explicitId: String, srcPath: String, idPrefix: String = "")(
      fold: (DataFrame, Row) => DataFrame): Unit = {
    val conv = convention(spark, k, outPath, op)
    val id = batchId(s"${k.name}.$op", explicitId, srcPath, prefix = idPrefix)
    write(spark, k, outPath, id, conv, fold(spark.read.parquet(srcPath), conv),
      committedMetaDigest(spark, outPath, id))
  }

  /** `compactStreamed` for an idempotent merge (MAX, TOP-(k+1)): fold a
    * streamed cell directory into ONE batch under a content-derived
    * label (a crash-retry of the same file set overwrites its own fold).
    * No supersession: a later re-fold of a grown stream under a new
    * label coexists with the stale fold and the merge is unchanged.
    * The same-label re-fold is not digest-guarded (`committed = None`):
    * it is the crash-retry.
    */
  def compactStreamed(spark: SparkSession, k: Kind, outPath: String,
      streamedPath: String, label: String)(
      fold: (DataFrame, Row) => DataFrame): Unit = {
    val conv = convention(spark, k, outPath, "compactStreamed")
    val id = foldId(spark, s"${k.name}.compactStreamed", label, streamedPath)
    write(spark, k, outPath, id, conv,
      fold(spark.read.parquet(streamedPath), conv), None)
  }

  /** `compactStreamed` for an ADDITIVE merge (SUM), under the shared
    * fold-sidecar supersession protocol ([[supersede]]): two
    * folds sharing streamed files would double-count their cells. A
    * same-label re-fold that would rewrite a snapshot-pinned batch
    * refuses ([[refusePinnedRefold]]).
    */
  def compactSuperseding(spark: SparkSession, k: Kind, outPath: String,
      streamedPath: String, label: String)(
      fold: (DataFrame, Row) => DataFrame): Unit = {
    val op = s"${k.name}.compactStreamed"
    val conv = convention(spark, k, outPath, "compactStreamed")
    val fs = fsOf(spark, outPath)
    val files = streamedFileList(spark, streamedPath)
    val id = foldId(spark, op, label, streamedPath)
    refusePinnedRefold(fs, k, outPath, id, files.toSet, op)
    supersede(fs, outPath, k.tableDir, id, files, op) {
      write(spark, k, outPath, id, conv,
        fold(spark.read.parquet(streamedPath), conv), None)
    }
  }

  private def deleteBatch(fs: FileSystem, k: Kind, outPath: String,
      id: String): Unit = {
    fs.delete(tablePath(k, outPath, id), true)
    fs.delete(metaPath(outPath, id), true)
  }

  /** The merge gate, the point of the meta rows. A merge is only sound
    * when every batch shares one convention, and the range check that
    * would catch a divergent fold cannot exist: a narrower CMS table, a
    * wrong-width histogram, a smaller Bloom filter, a smaller-p register
    * table or a smaller-k candidate table all look in range cell-wise
    * and would silently corrupt every answer. Only a recorded claim can
    * refuse them, so each listed batch's meta row must claim exactly
    * `conv`, and mismatches, orphans and ghosts refuse by batch id.
    * Returns the gated batches' tables read under one basePath.
    */
  private def gated(spark: SparkSession, k: Kind, outPath: String,
      op: String, conv: Row, tableIds: Set[String],
      metaIds: Set[String]): DataFrame = {
    val meta = spark.read.option("basePath", s"$outPath/meta")
      .parquet(metaIds.toSeq.map(metaPath(outPath, _).toString): _*)
      .select(col("batch").cast("string").as("batch") +:
        k.schema.fieldNames.toSeq.map(col): _*)
      .collect()
    val mismatched = meta.filter(_.toSeq.tail != conv.toSeq)
    if (mismatched.nonEmpty)
      throw new IllegalStateException(
        s"${k.name}.$op: batches " + mismatched.map { r =>
          val c = Row.fromSeq(r.toSeq.tail)
          s"${r.getString(0)} (${k.render(c)}, ${c.getString(c.length - 1)})"
        }.mkString(", ") +
          s" were folded with a different ${k.drift} than the store's " +
          s"${k.render(conv)}/${k.device} — ${k.driftHarm}; re-fold them " +
          "with append")
    val orphans = tableIds -- metaIds
    if (orphans.nonEmpty)
      throw new IllegalStateException(
        s"${k.name}.$op: batches ${orphans.mkString(", ")} hold a " +
          s"${k.table} but carry no meta row — either a raw table was " +
          s"dropped into the store (its ${k.drift} is unknowable) or a " +
          s"fold crashed between its ${k.table} and meta writes; re-run " +
          "the append for those ids or delete the directories")
    val missing = metaIds -- tableIds
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"${k.name}.$op: batches ${missing.mkString(", ")} have meta rows " +
          s"but no ${k.table} — the store lost their folds and " +
          s"${k.lossHarm}; re-run the append for those ids")
    spark.read.option("basePath", s"$outPath/${k.tableDir}")
      .parquet(tableIds.toSeq.map(tablePath(k, outPath, _).toString): _*)
  }

  /** The gated tables of a manifest-committed store: consolidated
    * sources and uncommitted consol leftovers are invisible, so every
    * consolidation crash window reads single-counted. With `asOf`, the
    * id set is the [[snapshot]]-pinned frontier resolved through any
    * later consolidations instead of the live one.
    */
  def activeTable(spark: SparkSession, k: Kind, outPath: String, op: String,
      conv: Row, asOf: Option[String]): DataFrame = {
    val fs = fsOf(spark, outPath)
    val qop = s"${k.name}.$op"
    val (tableIds, metaIds) = asOf match {
      case None =>
        (activeBatchIds(fs, outPath, k.tableDir, qop),
          activeBatchIds(fs, outPath, "meta", qop))
      case Some(name) =>
        val ids = resolveAsOf(fs, outPath, k.tableDir, name, qop)
        (ids, ids.filter(b => fs.exists(metaPath(outPath, b))))
    }
    gated(spark, k, outPath, op, conv, tableIds, metaIds)
  }

  /** The gated tables of an idempotent-merge store: every batch
    * directory on disk (its consolidation has no manifest).
    */
  def listedTable(spark: SparkSession, k: Kind, outPath: String, op: String,
      conv: Row): DataFrame = {
    val fs = fsOf(spark, outPath)
    gated(spark, k, outPath, op, conv, listed(fs, outPath, k.tableDir),
      listed(fs, outPath, "meta"))
  }

  /** Batch-granular takedown: delete whole batches (table + meta).
    * Callers re-append the dropped slices' SURVIVING rows; until they
    * do, answers cover only the remaining batches — visible in the
    * batch listing, never silent corruption. `base` pins the store
    * convention and is undroppable; a `consol-` batch is a committed
    * consolidation whose sources are already retired.
    */
  def dropBatches(spark: SparkSession, k: Kind, outPath: String,
      ids: Seq[String]): Unit = {
    val op = s"${k.name}.dropBatches"
    require(!ids.contains("base"),
      s"$op: 'base' pins the store's convention and cannot be dropped; " +
        "rebuild with run if the base slice must go")
    // validate EVERY id before deleting ANY: a malformed late id must
    // refuse the whole call, not abort a half-applied takedown
    ids.foreach { b =>
      require(!b.contains("/") && !b.contains("="),
        s"$op: '$b' must be a plain partition value")
      require(!b.startsWith("consol-"),
        s"$op: '$b' is a committed consolidation — its sources are " +
          "already retired, so deleting it wedges every read " +
          "('consolidated tables are gone'); re-fold the surviving " +
          "slices with run/append instead")
    }
    val fs = fsOf(spark, outPath)
    ids.foreach(deleteBatch(fs, k, outPath, _))
  }

  /** The CLI of every store's `main`: argument count, one session with
    * 32 shuffle partitions, stopped when the build returns or fails.
    */
  def main(name: String, args: Array[String], minArgs: Int, usage: String)(
      build: SparkSession => Unit): Unit = {
    require(args.length >= minArgs, s"usage: $name $usage")
    val spark = SparkSession.builder()
      .appName("graft-" + name.replaceAll("([a-z])([A-Z])", "$1-$2").toLowerCase)
      .config("spark.sql.shuffle.partitions", 32)
      .getOrCreate()
    try build(spark) finally spark.stop()
  }

  // ---- consolidation, snapshots and seals ----

  /** (label, sources) for every committed consolidation manifest. */
  private def manifests(fs: FileSystem,
      outPath: String): Seq[(String, Set[String])] =
    filesIn(fs, manifestDir(outPath)).map(p => p.getName -> readLines(fs, p))

  /** The batch ids a reader must COUNT, given what is on disk: all
    * table-dir ids, minus manifest-covered sources, minus uncommitted
    * consol leftovers; refuses loudly if a committed manifest's table
    * is gone (the only silently-wrong state this protocol could have —
    * made loud instead).
    */
  private def activeBatchIds(fs: FileSystem, outPath: String,
      tableDir: String, op: String): Set[String] = {
    val present = listed(fs, outPath, tableDir)
    val ms = manifests(fs, outPath)
    // coverage persists across GENERATIONS: a committed consol batch
    // may itself be consolidated later (consol-of-consols — the
    // compounding fan-in shape), which makes the older manifest
    // OBSOLETE: its sources stay invisible, but its own table is gone
    // by design and must not trip the missing-table refusal
    val covered = ms.flatMap(_._2).toSet
    val missing = ms.collect {
      case (l, _) if !present(l) && !covered(l) => l
    }
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"$op: consolidation manifests ${missing.mkString(", ")} are " +
          "committed but their consolidated tables are gone — the " +
          "sources were already retired, so their cells live nowhere; " +
          "restore the consolidated directories or rebuild the store")
    val committed = ms.map(_._1).toSet
    // uncommitted consol leftovers (crash before the manifest) are
    // inert — the re-run overwrites them
    present -- covered -- (present.filter(_.startsWith("consol-")) -- committed)
  }

  private def snapshotDir(outPath: String) = new Path(s"$outPath/snapshots")

  /** Pin the store's CURRENT active batch frontier under a name — the
    * reproducibility verb: a training run records `snapshot("run-42")`
    * once, and [[resolveAsOf]] re-reads exactly that corpus state
    * months later, surviving any consolidations in between. The pin is
    * IMMUTABLE: re-pinning the same name is a no-op when the frontier
    * is unchanged (crash-retry idempotence) and refuses when it moved —
    * silently redefining a snapshot would rewrite what "the data my
    * model trained on" means. Cost: one `snapshots/<name>` file listing
    * the ids — no data is copied; the pin is only as durable as the
    * batches behind it (see [[resolveAsOf]] for the expiry contract).
    */
  def snapshot(spark: SparkSession, k: Kind, outPath: String,
      name: String): Set[String] = {
    val op = s"${k.name}.snapshot"
    require(name.nonEmpty && !name.contains("/") && !name.contains("="),
      s"$op: snapshot name '$name' must be a plain file name")
    val fs = fsOf(spark, outPath)
    val ids = activeBatchIds(fs, outPath, k.tableDir, op)
    val p = new Path(snapshotDir(outPath), name)
    if (fs.exists(p)) {
      val old = readLines(fs, p)
      if (old != ids)
        throw new IllegalStateException(
          s"$op: snapshot '$name' already pins batches " +
            s"${old.toSeq.sorted.mkString(", ")} but the store's frontier " +
            s"is now ${ids.toSeq.sorted.mkString(", ")} — a snapshot is an " +
            "immutable pin; pick a fresh name for the new frontier")
      return ids
    }
    fs.mkdirs(snapshotDir(outPath)): Unit
    // temp + rename, not a direct create: a direct create exposes a
    // half-written pin to a concurrent reader as an EMPTY frontier,
    // while rename makes the complete content visible atomically.
    // No-clobber: sequential redefinition is caught by the exists
    // branch above on every FS; for two CONCURRENT pins of one name,
    // HDFS rename refuses an existing destination (handled below) but
    // local rename(2) is last-writer-wins — acceptable for an
    // operator-action verb where the racing contents are the same
    // frontier unless an append interleaved the two pins
    val tmp = new Path(snapshotDir(outPath),
      s".$name.tmp.${java.util.UUID.randomUUID().toString.take(8)}")
    writeLines(fs, tmp, ids.toSeq.sorted, overwrite = false)
    if (!fs.rename(tmp, p)) fs.delete(tmp, false): Unit
    // re-read whether or not the rename succeeded: a refused rename
    // means another pin landed first, and local rename(2) CLOBBERS and
    // returns true, so a successful rename is not yet proof this
    // caller's frontier is the one on disk — two concurrent pins of one
    // name are last-writer-wins on a local FS (r13 advice). The one
    // readLines makes the check filesystem-independent: refuse if
    // another writer's content won.
    val won = readLines(fs, p)
    if (won != ids)
      throw new IllegalStateException(
        s"$op: snapshot '$name' was pinned concurrently with batches " +
          s"${won.toSeq.sorted.mkString(", ")}, not this frontier " +
          s"${ids.toSeq.sorted.mkString(", ")} — pick a fresh name")
    ids
  }

  /** Refuse an in-place SAME-ID re-fold that would rewrite content a
    * snapshot pins (r13 advice, medium): snapshots pin batch IDS, not
    * content, and a grown-stream `compactStreamed` under the same
    * explicit label overwrites the pinned batch directory in place —
    * [[superseded]] skips b == id, so nothing else guards the path
    * and `resolveAsOf` would silently return different content than at
    * pin time, breaking the "re-reads exactly that corpus state"
    * contract. The identical-file-set crash retry stays allowed (the
    * fold sidecar, written before the table, records the set); any
    * other same-id re-fold of a pinned batch refuses loudly.
    */
  private def refusePinnedRefold(fs: FileSystem, k: Kind, outPath: String,
      id: String, files: Set[String], op: String): Unit = {
    // the snapshots whose pinned frontier contains `id`
    val pinned = filesIn(fs, snapshotDir(outPath))
      .filterNot(_.getName.startsWith("."))
      .collect { case p if readLines(fs, p)(id) => p.getName }
    if (pinned.isEmpty) return
    val prior = sidecarPath(outPath, id)
    val sameRetry = fs.exists(prior) && readLines(fs, prior) == files
    val tableExists = fs.exists(tablePath(k, outPath, id))
    if (!sameRetry && tableExists)
      throw new IllegalStateException(
        s"$op: batch '$id' is pinned by snapshot(s) " +
          s"${pinned.sorted.mkString(", ")} and this fold covers a " +
          "DIFFERENT streamed file set than the committed one — " +
          "re-folding in place would silently change what the snapshot " +
          "re-reads. Fold under a fresh label (supersession will retire " +
          "this one only if unpinned), or re-pin the new frontier under " +
          "a new snapshot name first")
  }

  /** Resolve a pinned snapshot against the CURRENT store: the returned
    * ids are PRESENT batch directories whose cells sum to exactly the
    * pinned frontier's content. Consolidation is transparent — a
    * committed manifest substitutes for its sources whenever its FULL
    * source set lies inside the frontier (cells sum, so the merged
    * table IS the sources; applies generation over generation for
    * consol-of-consols). Two states refuse, both loudly: a pinned
    * batch was dropped (its cells are gone — takedown outranks
    * reproducibility by design), or a consolidation BLENDED pinned and
    * unpinned batches (the merged cells cannot be split back apart).
    * That second refusal is the snapshot-expiry contract: maintenance
    * that consolidates across a live snapshot's frontier expires it —
    * consolidate either whole snapshots or batches newer than every
    * pin that must stay readable.
    */
  private def resolveAsOf(fs: FileSystem, outPath: String, tableDir: String,
      name: String, op: String): Set[String] = {
    val p = new Path(snapshotDir(outPath), name)
    if (!fs.exists(p))
      throw new IllegalStateException(
        s"$op: no snapshot named '$name' under $outPath/snapshots")
    val pinned = readLines(fs, p)
    val present = listed(fs, outPath, tableDir)
    val ms = manifests(fs, outPath)
    // fixed point: each manifest fires at most once (its sources leave
    // `need` when it fires, and no two committed manifests share a
    // source — consolidate refuses covered-elsewhere batches), so the
    // loop is linear in manifests and confluent whatever the order
    var need = pinned
    var progress = true
    while (progress) {
      progress = false
      ms.foreach { case (label, sources) =>
        if (!need(label) && sources.nonEmpty && sources.subsetOf(need)) {
          need = need -- sources + label
          progress = true
        }
      }
    }
    val missing = need -- present
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"$op: snapshot '$name' is no longer reconstructible — batches " +
          s"${missing.toSeq.sorted.mkString(", ")} are not on disk and no " +
          "committed consolidation covers them from INSIDE the snapshot. " +
          "Either they were dropped (their cells are gone), or a " +
          "consolidation blended them with batches outside the snapshot " +
          "(merged cells cannot be split back apart). The pin has " +
          "expired; re-pin the current frontier under a new name")
    need
  }

  /** Drop a fold's supersession sidecar, turning it into a normal
    * batch eligible for consolidation. ONLY after the streamed
    * directory that produced it has been retired — with the sidecar
    * gone, a grown-stream re-fold can no longer retire this fold and
    * would double-count every shared file.
    */
  def seal(spark: SparkSession, k: Kind, outPath: String, id: String): Unit = {
    val fs = fsOf(spark, outPath)
    val p = sidecarPath(outPath, id)
    require(fs.exists(p),
      s"${k.name}.sealFold: batch $id carries no fold sidecar — nothing to seal")
    fs.delete(p, false)
  }

  /** The MANIFEST consolidation commit (SUM and BIT_OR stores): fold
    * many batch directories into ONE — the fan-in maintenance step
    * (~10⁴ hourly batch directories) that the dedup/text protocol
    * ([[consolidateBatches]]) CANNOT serve: that
    * protocol's crash window leaves sources + consolidated readable
    * together and relies on the read paths' DISTINCT to absorb the
    * duplicates, but additive cells SUM — the same window would
    * double-count every consolidated cell. So this protocol has a single
    * atomic COMMIT POINT instead:
    *
    *   1. (skip if the manifest already exists) require every source
    *      batch present, write the merged table + one meta row under
    *      `batch=consol-<md5(sources)>` via plain Spark overwrite —
    *      these directories are INERT: readers ignore a consol batch
    *      with no manifest;
    *   2. create `consolidated/<label>` listing the source ids — ONE
    *      atomic file create. From this instant readers count the
    *      consolidated batch and ignore the sources (present or not);
    *   3. delete the source table + meta directories (any order — they
    *      are already invisible).
    *
    * Every crash window reads correctly: before 2 the sources count once
    * and the half-written consol dirs are ignored; after 2 the consol
    * batch counts once and partially-deleted sources are ignored. A
    * re-run skips to the missing step. The one loud state is a manifest
    * whose consol table is GONE (only manual tampering can produce it —
    * the manifest is written strictly after the data): readers refuse
    * rather than silently resurrect the excluded sources.
    *
    * Batches carrying a live fold sidecar (`folded/<id>`) REFUSE: a
    * later superset re-fold retires a fold by batch id, which cannot
    * reach cells blended into a consolidated batch — the double-count
    * supersession exists to prevent. Retire the streamed dir, then
    * [[seal]] the fold (drops its sidecar, making it a normal batch).
    */
  def consolidate(spark: SparkSession, k: Kind, outPath: String,
      batches: Seq[String])(merge: DataFrame => DataFrame): Unit = {
    val op = s"${k.name}.consolidate"
    val conv = convention(spark, k, outPath, "consolidate")
    require(batches.nonEmpty && batches.distinct == batches,
      s"$op: batches must be non-empty and distinct")
    require(!batches.contains("base"),
      s"$op: 'base' is the store's convention anchor (its meta row is " +
        "where every reader gets the pinned geometry) and one directory " +
        "never contributes to the fan-in problem — consolidate the " +
        "appended batches around it")
    val fs = fsOf(spark, outPath)
    val live = batches.filter(b => fs.exists(sidecarPath(outPath, b)))
    if (live.nonEmpty)
      throw new IllegalStateException(
        s"$op: batches ${live.mkString(", ")} carry live fold sidecars — " +
          "consolidating them would blend cells a superset re-fold can " +
          "only retire by batch id, double-counting every shared file. " +
          "Retire the streamed dir, then seal the fold first.")
    val label = "consol-" + md5Hex(batches.sorted.mkString("\n")).take(12)
    require(!batches.contains(label), s"$op: label $label collides with a source")
    val manifest = new Path(manifestDir(outPath), label)
    // a batch covered by a DIFFERENT committed manifest is a leftover
    // awaiting deletion, not a countable source; THIS consolidation's
    // own manifest means the crash-mid-deletion retry shape — skip
    // straight to the deletions below
    val coveredElsewhere = manifests(fs, outPath)
      .filterNot(_._1 == label).flatMap(_._2).toSet
    val covered = batches.filter(coveredElsewhere)
    if (covered.nonEmpty)
      throw new IllegalStateException(
        s"$op: batches ${covered.mkString(", ")} are already covered by a " +
          "committed consolidation — their directories are leftovers " +
          "awaiting deletion, not countable sources")
    if (!fs.exists(manifest)) {
      val gone = batches.filterNot(b => fs.exists(tablePath(k, outPath, b)))
      if (gone.nonEmpty)
        throw new IllegalStateException(
          s"$op: source batches ${gone.mkString(",")} are gone and no " +
            s"manifest commits $label — their cells live nowhere; restore " +
            "the sources or rebuild")
      // inert until the manifest lands — readers ignore an uncommitted
      // consol batch, so these overwrites are safe to crash anywhere
      val merged = merge(spark.read.parquet(
        batches.map(tablePath(k, outPath, _).toString): _*)).persist()
      try {
        val digest = contentDigest(merged)
        merged.write.mode("overwrite")
          .parquet(tablePath(k, outPath, label).toString)
        writeMeta(spark, k, outPath, label, conv, digest)
      } finally { merged.unpersist(); () }
      // THE commit point
      writeLines(fs, manifest, batches)
    }
    batches.foreach(deleteBatch(fs, k, outPath, _))
  }

  /** The `merged-` consolidation commit (MAX and TOP-(k+1) stores):
    * fold many batch directories into ONE with no manifest — write the
    * merged fold (table, then meta), then delete the sources. The
    * merge is idempotent, so every crash window is loud or harmless:
    * after both writes with sources still present, reads merge BOTH
    * and the answer is identical; between the table and meta writes
    * the orphan gate refuses and a re-run heals. The id is derived
    * from the source set, so a re-run after a crash DURING the source
    * deletions finds this set's merge committed (meta and table both
    * present) and finishes the deletions instead of refusing forever
    * on the sources already gone. `base` stays: the store convention
    * is read from it.
    */
  def consolidateMerged(spark: SparkSession, k: Kind, outPath: String,
      batches: Seq[String])(merge: (DataFrame, Row) => DataFrame): Unit = {
    val op = s"${k.name}.consolidate"
    val conv = convention(spark, k, outPath, "consolidate")
    require(batches.nonEmpty, s"$op: no batches")
    require(!batches.contains("base"),
      s"$op: 'base' must stay — the store convention is read from it; " +
        "consolidate the non-base batches")
    val fs = fsOf(spark, outPath)
    val id = "merged-" + md5Hex(batches.sorted.mkString("\n")).take(12)
    val present = listed(fs, outPath, k.tableDir)
    val absent = batches.toSet -- present
    val committed = listed(fs, outPath, "meta").contains(id) && present(id)
    require(absent.isEmpty || committed,
      s"$op: batches ${absent.mkString(", ")} do not exist in the store " +
        "(and no committed consolidation of this batch set is present " +
        "to finish)")
    if (!committed) {
      val sources = spark.read
        .option("basePath", s"$outPath/${k.tableDir}")
        .parquet(batches.map(tablePath(k, outPath, _).toString): _*)
      write(spark, k, outPath, id, conv, merge(sources, conv), None)
    }
    batches.foreach(deleteBatch(fs, k, outPath, _))
  }

  // ---- streamed folds ----

  /** The sorted, root-relative data file names of a streamed directory
    * — the identity [[contentLabel]] hashes and every superseding fold
    * persists as its sidecar ([[supersede]]).
    */
  def streamedFileList(spark: SparkSession,
      streamedPath: String): Seq[String] = {
    val p = new Path(streamedPath)
    val fs = fsOf(spark, streamedPath)
    val rootUri = fs.makeQualified(p).toUri
    val it = fs.listFiles(p, true)
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val s = it.next()
      val rel = rootUri.relativize(s.getPath.toUri).getPath
      if (!rel.split('/').exists(seg =>
          seg.startsWith("_") || seg.startsWith(".")))
        names += rel
    }
    names.sortInPlace()
    names.toSeq
  }

  /** Content-derived fold label: md5 over the SORTED, root-relative
    * data file names of a streamed directory. Recursive and
    * root-relative so a flat streamed dir and a partitioned one both
    * hash every data file, and identically-named files in different
    * subdirectories stay distinct — a top-level-only listing would
    * hash a partitioned dir to the constant empty label, re-
    * introducing the cross-cycle overwrite. One definition of "same
    * streamed content" across every store.
    */
  def contentLabel(spark: SparkSession, streamedPath: String): String =
    "fold-" + md5Hex(streamedFileList(spark, streamedPath).mkString("\n"))
      .take(12)

  // ---- fold supersession ----
  //
  // The ONE fold-supersession protocol of every store that compacts a
  // streaming directory into an ADDITIVE merge (the text store's
  // compactStreamed, [[compactSuperseding]]). A fold records its
  // streamed FILE SET in a `folded/<id>` sidecar OUTSIDE every
  // Spark-written directory (no overwrite or consolidation can strip
  // it), written FIRST so any fold that wrote durable state is always
  // retirable; a later fold whose file set is a SUPERSET retires the
  // stale fold's directories after its own write commits, and a partial
  // overlap that is not a superset refuses loudly before any state
  // changes (two folds that each own files the other lacks cannot be
  // reconciled).

  def sidecarPath(outPath: String, id: String) =
    new Path(s"$outPath/folded/$id")

  /** Every fold sidecar of a store as (batchId, path): the `folded/`
    * files plus — when `legacyTableDir` is given — any LEGACY r10
    * `_folded_files` still inside one of its batch directories (a
    * mid-migration crash counts once: the relocated copy wins).
    */
  private def sidecars(fs: FileSystem, outPath: String,
      legacyTableDir: Option[String]): Seq[(String, Path)] = {
    val relocated = filesIn(fs, new Path(s"$outPath/folded"))
      .map(p => p.getName -> p)
    val seen = relocated.map(_._1).toSet
    relocated ++ legacyTableDir.toSeq.flatMap { dir =>
      listed(fs, outPath, dir).toSeq.filterNot(seen)
        .map(b => b -> new Path(s"$outPath/$dir/batch=$b/_folded_files"))
        .filter { case (_, p) => fs.exists(p) }
    }
  }

  /** The supersession census for a fold about to be written: batch ids
    * whose file sets this fold covers (retire AFTER the new write
    * commits); refuses loudly on an unreconcilable partial overlap.
    */
  private def superseded(fs: FileSystem, outPath: String, id: String,
      mine: Set[String], op: String,
      legacyTableDir: Option[String]): Seq[String] =
    sidecars(fs, outPath, legacyTableDir).flatMap { case (b, sc) =>
      if (b == id) None
      else {
        val theirs = readLines(fs, sc)
        if (theirs.subsetOf(mine)) Some(b)
        else if (theirs.intersect(mine).nonEmpty)
          throw new IllegalStateException(
            s"$op: prior fold batch=$b shares " +
              s"${theirs.intersect(mine).size} streamed files with this fold " +
              "but also owns files this fold lacks — the two cannot be " +
              "reconciled; fold the union, or retire the streamed dir " +
              "between cycles as documented")
        else None
      }
    }

  /** A fold under supersession: the census BEFORE any state changes
    * (a partial overlap refuses), the sidecar FIRST, then the fold's
    * own `write` (its `tableDir` batch, then its meta row), then every
    * covered fold's table, meta row and — last — sidecar. The sidecar
    * is what makes a fold retirable and the meta row what makes it
    * count, so the retire handle exists before any state worth
    * retiring: a crash after the sidecar alone leaves a handle to
    * nothing (a later retire deletes directories that are not there),
    * and a crash between the new write and the retirement is a
    * transient over-count that the re-run heals (same file set ⇒ same
    * label ⇒ rewrite; a surviving stale sidecar lets it finish the
    * retirement, its file set still a subset of ours).
    */
  def supersede(fs: FileSystem, outPath: String, tableDir: String,
      id: String, files: Seq[String], op: String,
      legacyTableDir: Option[String] = None)(write: => Unit): Unit = {
    val stale = superseded(fs, outPath, id, files.toSet, op, legacyTableDir)
    writeLines(fs, sidecarPath(outPath, id), files)
    write
    stale.foreach { b =>
      fs.delete(new Path(s"$outPath/$tableDir/batch=$b"), true)
      fs.delete(metaPath(outPath, b), true)
      fs.delete(sidecarPath(outPath, b), false)
    }
  }

  // ---- the index stores' tombstones and consolidation ----

  /** Every tombstoned `idCol` of an index store, or None when it has no
    * deletes directory (the common case pays zero cost). Read paths
    * anti-join it; consolidations drop the ids physically.
    */
  def deletedIds(spark: SparkSession, outPath: String,
      idCol: String): Option[DataFrame] =
    if (fsOf(spark, outPath).exists(new Path(s"$outPath/deletes")))
      Some(spark.read.parquet(s"$outPath/deletes").select(col(idCol)))
    else None

  /** Tombstone the distinct `idCol` values of `idsPath` under
    * `deletes/batch=<id>` — the takedown write of an index store with
    * no per-id state to freeze (dedup buckets, ANN codes); idempotent
    * per batch id.
    */
  def tombstone(spark: SparkSession, op: String, idsPath: String,
      outPath: String, explicitId: String, idCol: String): Unit = {
    val id = batchId(op, explicitId, idsPath, reserved = Nil)
    spark.read.parquet(idsPath).select(col(idCol)).distinct()
      .write.mode("overwrite").parquet(s"$outPath/deletes/batch=$id")
  }

  /** Fold every tombstone batch of an index store into ONE — the
    * takedown lifecycle's file-count maintenance. Tombstones persist
    * (delete wins over a later re-append of the same doc, and batches
    * a consolidation did not cover may still hold the rows), but every
    * read's anti-join and every future delete should pay ONE directory
    * listing, not one per historical takedown batch. `fold` collapses
    * the duplicate rows a crash between the write and the source
    * deletion leaves; the re-run converges ([[consolidateBatches]]).
    */
  def compactTombstones(spark: SparkSession, outPath: String, op: String)(
      fold: DataFrame => DataFrame): Unit = {
    val batches = listed(fsOf(spark, outPath), outPath, "deletes").toSeq.sorted
    if (batches.size > 1)
      consolidateBatches(spark, s"$outPath/deletes", op, batches) {
          (srcDirs, consol) =>
        fold(spark.read.parquet(srcDirs: _*)).coalesce(1)
          .write.mode("overwrite").parquet(consol.toString)
      }
  }

  /** The index stores' crash-safe consolidation: fold many batch
    * directories under `tableRoot` into ONE, duplicate-TOLERANT by the
    * read paths' DISTINCT, which is what makes a crash-safe protocol
    * possible without a manifest:
    *
    *   1. if the consolidated directory already exists COMPLETE
    *      (_SUCCESS present), skip the write — it is the finished
    *      artifact of a prior attempt;
    *   2. else require EVERY source batch directory present and write
    *      the consolidated partition via the caller's lambda over
    *      EXPLICIT source directory paths (never a partition-column
    *      filter — partition-value inference round-trips a
    *      leading-zeros label like 010 to the int 10, the filter would
    *      MISS its rows, and the deletions below would still remove
    *      the directory: silent data loss);
    *   3. delete the source directories.
    *
    * A crash between 2 and 3 leaves sources + consolidated readable
    * together: duplicate rows, degraded cost, never wrong results; the
    * re-run skips to the deletions. A retry with some sources already
    * deleted and NO complete consolidated dir is the one unrecoverable
    * state and fails loudly. The label is content-addressed (md5 of the
    * sorted batch list), so re-runs converge and two different
    * consolidations never collide.
    *
    * Fan-in boundary (measured, ScaleSpec "consolidation at realistic
    * fan-in"): 10³ real batch directories consolidate in ~5 s on
    * local[32] — the cost is the explicit-path scan plan and grows
    * linearly in the directory count (driver work is one existence
    * check per source plus the path seq), so ~10⁴ hourly directories
    * extrapolate to ~1 minute, far below the hourly cadence that
    * produces them.
    */
  def consolidateBatches(spark: SparkSession, tableRoot: String, op: String,
      batches: Seq[String])(write: (Seq[String], Path) => Unit): Unit = {
    require(batches.nonEmpty && batches.distinct == batches,
      s"$op: batches must be non-empty and distinct")
    val label = "consol-" + md5Hex(batches.sorted.mkString("\n")).take(12)
    require(!batches.contains(label),
      s"$op: label $label collides with a source")
    val fs = fsOf(spark, tableRoot)
    def dirOf(b: String) = new Path(s"$tableRoot/batch=$b")
    val consol = dirOf(label)
    if (!fs.exists(new Path(consol, "_SUCCESS"))) {
      val missing = batches.filterNot(b => fs.exists(dirOf(b)))
      if (missing.nonEmpty)
        throw new IllegalStateException(
          s"$op: source batches ${missing.mkString(",")} " +
            s"are gone and $label is incomplete — the store cannot prove " +
            "their rows live anywhere; restore the sources or rebuild")
      write(batches.map(b => dirOf(b).toString), consol)
    }
    batches.foreach(b => fs.delete(dirOf(b), true))
  }
}
