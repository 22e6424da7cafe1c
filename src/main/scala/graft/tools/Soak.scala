package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end scale-up soak of the heavy query families (r7 verdict
  * item 6): the ScaleSpec fixtures prove hot-KEY boundedness; this
  * proves end-to-end sub-quadratic GROWTH by generating a `factor`×
  * corpus from sf0.1 and running the top heavies once at each scale.
  *
  * Generation preserves the DISTRIBUTION, not the literal rows — the
  * point is "10× more data of the same shape", never "10 identical
  * copies" (which would square every dup/candidate structure):
  *  - `documents`: replica i > 0 suffixes every token with `_i`, so
  *    shingles/tokens are distinct ACROSS replicas and each replica
  *    reproduces the original's internal dup structure → candidate
  *    volume scales linearly, the way a larger crawl of the same web
  *    does.
  *  - `lineitem`: order/part/supp keys offset per replica → the
  *    co-purchase graph becomes `factor` disjoint copies (same degree
  *    distribution, `factor`× nodes).
  *  - `part`: partkey offset + per-replica brand suffix → `factor`×
  *    more entity-resolution blocks of the SAME size (a 10× catalog
  *    carries more brands, not 10× rows per brand; keeping the 25
  *    brands would make the in-block n² verify grow 100× by
  *    construction — a property of the data model, not the plan).
  *  - `embeddings`: vec_id offset; replica vectors shifted by a small
  *    per-replica constant so replicas are distinct but in-replica
  *    geometry is preserved.
  *
  * Runs each heavy twice per scale (min taken — shared-host defense),
  * writes `SOAK.md` with (query, sf0.1 s, sf1 s, ratio) and archives
  * `SOAK_r{N}.json`-style markdown per the bench convention.
  */
object Soak {

  val Heavies: Seq[String] = Seq(
    "dedup_jaccard_prefix", "dedup_clusters", "dedup_corpus_keep",
    "dedup_keep_best", "bfs_parts", "triangle_parts", "pagerank_parts",
    "curate_corpus", "containment_pairs", "entity_clusters",
    // r8 additions: the trained-index serving chain and the classifier
    // trainer — both corpus-pass-per-round shapes whose growth matters
    "ann_stored_search", "classifier_train",
    // r9: the sessionization CORE — the operator a reference user runs
    // every hour (SessionizationBuiltIn.scala:31-66). Expected ≈ linear:
    // one hash exchange on user_id + an in-partition sort.
    "sessionize_counts", "sessionize_ids", "sessionize_hour_job",
    // r9: the two incremental-dedup paths — at the soaked scale the
    // fixed doc_id split boundaries make the "batch" ~99% of the
    // corpus, so these measure near-full-corpus probe/verify growth
    "dedup_stored_increment", "dedup_bloom_increment",
    // r10: the retrieval + sketch family — ranked search is two corpus
    // passes (stats + filtered postings) and must grow ≈ linearly;
    // heavy_hitters_cms is the two-pass sketch-prune shape whose whole
    // point is that the counter fold stays d·w-bounded as the corpus
    // grows (only the survivor aggregate scales with true heavies)
    "ranked_search", "heavy_hitters_cms",
    // r11: the stored-lifecycle family — each builds its store in a
    // temp dir from the soaked corpus, so the measurement is exactly
    // the claim under test: store MAINTENANCE (per-batch folds, the
    // takedown's one postings pass) grows linearly with the corpus
    // while the read side stays summary-bounded (merge over tiny
    // tables, pruned term buckets)
    "heavy_hitters_stored", "quantiles_stored", "novel_docs_stored",
    "ranked_search_deleted",
    // r11 HLL: the register fold is the extreme case of the summary
    // bound — ≤ 2^p rows per task whatever the corpus — so the token
    // sketch should grow with exactly the one corpus pass (≈ linear,
    // dominated by the explode+scan), and the stored form measures
    // three overlapping persisted folds plus the max-merge read
    "hll_distinct_tokens", "hll_stored",
    // r11 sample store: three TakeOrderedAndProject folds (top-(k+1)
    // each, never a full sort) + the tiny merged re-rank
    "priority_sample_stored",
    // r12: the two r11 graph additions — k_core now runs the
    // symmetric fast path (no canonicalization shuffle; growth must
    // stay frontier-proportional), label_propagation is the min_by
    // argmax whose map-side combine is the scale claim
    "k_core", "label_propagation",
    // r13: the store-lifecycle family's RETRACTION shape — build,
    // retract one slice (a negated fold of the DELETED items only),
    // merge; growth must follow the deleted slice's fold plus the
    // summary-bounded merge, never a history re-scan
    "heavy_hitters_retracted")

  /** The super-linear soakers (r9 verdict #4): one 10× point can't
    * distinguish m^1.2 from m^1.5 — for these two, the soak adds a 3×
    * measurement and fits the growth exponent on both spans
    * (t ∝ m^e ⇒ e = ln(t_b/t_a)/ln(b/a)). Theory for this corpus
    * generator (factor× DISJOINT replicas — same degree/block
    * distribution, factor× nodes): both are ≈ linear (e ≈ 1.0); the
    * m^1.5 triangle worst-case applies to graphs whose density grows
    * with size, which replica scaling deliberately does not do. A
    * fitted e above ~1.3 on EITHER span is the red flag the single
    * 10× ratio could hide.
    */
  val Curves: Seq[String] = Seq("triangle_parts", "entity_clusters")

  /** Stage the factor× corpus into `outDir` (parquet, same filenames as
    * a testdata sf dir, so SparkEntry queries run against it unchanged).
    */
  def generate(spark: SparkSession, srcDir: String, outDir: String,
      factor: Int): Unit = {
    // Pin BOTH timestamp confs BEFORE the first raw read (the
    // Tables.load choke-point note): an unpinned first read infers
    // events.ts as TIMESTAMP_NTZ and the rewritten copy then carries
    // Spark's NTZ schema metadata — which read-back honors regardless
    // of this conf, breaking every unix_micros over the soak corpus —
    // and a nanos-generation events.ts (TIMESTAMP(NANOS) parquet) would
    // throw PARQUET_TYPE_ILLEGAL here without the legacy conf, since
    // generate() runs before anything routed through Tables.events has
    // set it. The nanos copy stays a raw long; Tables.events normalizes
    // it at read like any testdata dir.
    // ...and RESTORED after staging (finally below): these are
    // session-global confs, and leaving them flipped would run every
    // subsequently timed query under parquet-read settings a standalone
    // bench session doesn't use.
    val prevConfs = Seq("spark.sql.parquet.inferTimestampNTZ.enabled",
      "spark.sql.legacy.parquet.nanosAsLong")
      .map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try generateStaged(spark, srcDir, outDir, factor)
    finally prevConfs.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def generateStaged(spark: SparkSession, srcDir: String,
      outDir: String, factor: Int): Unit = {
    def src(t: String): DataFrame = spark.read.parquet(s"$srcDir/$t.parquet")
    def reps(df: DataFrame): DataFrame =
      df.withColumn("__rep", explode(sequence(lit(0L), lit(factor - 1L))))

    val docs = src("documents")
    val docStride = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    reps(docs).select(
        (col("doc_id") + col("__rep") * docStride).as("doc_id"),
        when(col("__rep") === 0, col("text"))
          .otherwise(array_join(transform(split(col("text"), " "),
            w => concat(w, lit("_"), col("__rep"))), " ")).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    val li = src("lineitem")
    val (oStride, pStride, sStride) = {
      val r = li.agg(max(col("l_orderkey")), max(col("l_partkey")),
        max(col("l_suppkey"))).head()
      (r.getLong(0) + 1, r.getLong(1) + 1, r.getLong(2) + 1)
    }
    reps(li).select(
        (col("l_orderkey") + col("__rep") * oStride).as("l_orderkey"),
        (col("l_partkey") + col("__rep") * pStride).as("l_partkey"),
        (col("l_suppkey") + col("__rep") * sStride).as("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")

    val part = src("part")
    val pkStride = part.agg(max(col("p_partkey"))).head().getLong(0) + 1
    reps(part).select(
        (col("p_partkey") + col("__rep") * pkStride).as("p_partkey"),
        col("p_name"),
        when(col("__rep") === 0, col("p_brand"))
          .otherwise(concat(col("p_brand"), lit("#"), col("__rep"))).as("p_brand"),
        col("p_type"), col("p_size"), col("p_retailprice"))
      .repartition(8)
      .write.mode("overwrite").parquet(s"$outDir/part.parquet")

    val emb = src("embeddings")
    val vStride = emb.agg(max(col("vec_id"))).head().getLong(0) + 1
    reps(emb).select(
        (col("vec_id") + col("__rep") * vStride).as("vec_id"),
        transform(col("embedding"),
          x => x + col("__rep").cast("float") * lit(0.0001f)).as("embedding"),
        col("label"))
      .repartition(8)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    // events: user_id + event_id offset per replica → `factor`× USERS,
    // each with the original per-user event/session shape (10× more
    // traffic of the same shape, never 10 identical event streams —
    // which would collapse into the same user keys and deepen every
    // per-user sort instead of widening the corpus). `ts` is carried
    // verbatim whatever its physical type (TIMESTAMP or nanos-as-long;
    // Tables.events normalizes at read), so the two soaked hours of
    // sessionize_hour_job carry factor× their original volume.
    val ev = src("events")
    val (eStride, uStride) = {
      val r = ev.agg(max(col("event_id")), max(col("user_id"))).head()
      (r.getLong(0) + 1, r.getLong(1) + 1)
    }
    reps(ev).select(
        (col("event_id") + col("__rep") * eStride).as("event_id"),
        col("ts"),
        (col("user_id") + col("__rep") * uStride).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")

    // passthrough copies so every Tables.* resolves at the soak dir
    Seq("orders", "customer", "supplier", "region", "nation")
      .foreach { t =>
        val from = new java.io.File(s"$srcDir/$t.parquet")
        if (from.exists)
          src(t).write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      }
  }

  /** The stored-index INCREMENTAL lifecycle (r8 verdict #6): build a
    * frozen model + base index over the first half of `dir`'s
    * embeddings, then TIME (append the second half against the frozen
    * model → read the merged store back → search it). The timed span is
    * the path a production corpus exercises daily — ingest into a
    * built index plus the serving read — never the one-time base build.
    */
  private def annAppendSearchTime(spark: SparkSession, dir: String): Double = {
    val base = java.nio.file.Files.createTempDirectory("graft-soak-ann").toString
    val out = s"$base/ann"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val mid = (emb.agg(max(col("vec_id"))).head().getLong(0) + 1) / 2
    val half1 = s"$base/h1"; val half2 = s"$base/h2"
    emb.filter(col("vec_id") < mid).write.parquet(half1)
    emb.filter(col("vec_id") >= mid).write.parquet(half2)
    graft.jobs.BuildIndex.run(spark, half1, out)
    graft.ops.Caches.releaseAll()
    val t0 = System.nanoTime()
    graft.jobs.BuildIndex.append(spark, half2, out)
    val idx = spark.read.parquet(s"$out/index")
      .select(col("vec_id"), col("cluster"), col("codes"))
    val cent = spark.read.parquet(s"$out/centroids")
    val book = spark.read.parquet(s"$out/codebook")
    graft.ops.Similarity.searchStoredIndex(idx,
      emb.filter(col("vec_id") < 10), cent, book, k = 3).count()
    val dt = (System.nanoTime() - t0) / 1e9
    graft.ops.Caches.releaseAll()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    dt
  }

  private def minTime(spark: SparkSession, name: String, dir: String,
      passes: Int): Double = {
    val times = (1 to passes).map { _ =>
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, dir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      graft.ops.Caches.releaseAll()
      dt
    }
    times.min
  }

  /** The one measurement session for both entry points — main and
    * curveMain MUST run under identical confs or curve exponents stop
    * being comparable to soak rows (nanosAsLong in particular is
    * load-bearing for generate()'s raw reads).
    */
  private def buildSession(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Targeted growth curve for ONE query at arbitrary scale points —
    * `Soak curve <srcDir> <workDir> <query> <factor>...` — for settling
    * a specific suspect (r11: triangle_parts needed an e(10→30) point;
    * the full soak's fixed 1×/3×/factor× grid can't add one without
    * re-running every family). Prints per-span fitted exponents
    * (t ∝ m^e). Generated corpora land under `<workDir>/sf_<f>x` and
    * are rebuilt each run (overwrite), so a dirty prior run can't
    * contaminate the measurement.
    */
  def curveMain(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: Soak curve <srcDir> <workDir> <query> <factor>...")
    val Array(srcDir, workDir, query) = args.take(3)
    val factors = args.drop(3).map(_.toInt).toSeq
    require(factors == factors.sorted && factors.forall(_ >= 2),
      s"factors must be ascending and >= 2: $factors")
    // fail on a typo BEFORE minutes of corpus generation, not after
    require(graft.SparkEntry.queries.contains(query),
      s"unknown query '$query' — see SparkEntry.queries")
    val spark = buildSession()
    val pts = ((1, srcDir) +: factors.map { f =>
      val dir = s"$workDir/sf_${f}x"
      println(s"[soak] generating ${f}x corpus at $dir")
      generate(spark, srcDir, dir, f)
      (f, dir)
    }).map { case (f, dir) =>
      val t = minTime(spark, query, dir, 2)
      println(f"[soak] $query at ${f}%2dx: $t%7.2f s")
      (f, t)
    }
    pts.sliding(2).foreach { case Seq((fa, ta), (fb, tb)) =>
      val e = math.log(tb / ta) / math.log(fb.toDouble / fa)
      println(f"[soak] curve $query e($fa-$fb) = $e%5.2f" +
        (if (e > 1.3) "  ** RED FLAG (> 1.3)" else ""))
    }
    println(s"[soak] loadavg at finish: ${graft.Bench.loadAvg1m()}")
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("curve")) return curveMain(args.drop(1))
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("target/soak/sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = buildSession()
    println(s"[soak] generating ${factor}x corpus at $outDir")
    generate(spark, srcDir, outDir, factor)

    val srcLabel = new java.io.File(srcDir).getName
    val rows = Heavies.map { q =>
      val small = minTime(spark, q, srcDir, 2)
      val big = minTime(spark, q, outDir, 2)
      val ratio = big / math.max(small, 0.001)
      println(f"[soak] $q%-22s $srcLabel $small%7.2fs  ${factor}x $big%7.2fs  ratio ${ratio}%5.1fx")
      (q, small, big, ratio)
    } :+ {
      // the stored-index incremental lifecycle — not a SparkEntry query
      // (it owns its temp store), so it's timed by its own helper
      val small = math.min(annAppendSearchTime(spark, srcDir),
        annAppendSearchTime(spark, srcDir))
      val big = math.min(annAppendSearchTime(spark, outDir),
        annAppendSearchTime(spark, outDir))
      val ratio = big / math.max(small, 0.001)
      println(f"[soak] ann_append_search     $srcLabel $small%7.2fs  ${factor}x $big%7.2fs  ratio ${ratio}%5.1fx")
      ("ann_append_search", small, big, ratio)
    }
    // 3-point growth curves for the super-linear soakers: reuse the 1×
    // and factor× times already measured above, add the 3× point, fit
    // the exponent on each span. Only meaningful when the 3× point
    // sits strictly INSIDE the span — factor ≤ 3 (a legal CLI arg)
    // would divide by log(factor/3) ≤ 0 and print a ±Infinity or
    // sign-flipped exponent as the red-flag metric.
    val curves = if (factor <= 3) {
      println(s"[soak] skipping growth curves: factor $factor <= 3 " +
        "leaves no 3x midpoint")
      Seq.empty
    } else {
      val threeDir = s"${outDir}_3x"
      println(s"[soak] generating 3x corpus at $threeDir")
      generate(spark, srcDir, threeDir, 3)
      val byName = rows.map(r => r._1 -> r).toMap
      Curves.map { q =>
        val (_, t1, tN, _) = byName(q)
        val t3 = minTime(spark, q, threeDir, 2)
        val e13 = math.log(t3 / t1) / math.log(3.0)
        val e3N = math.log(tN / t3) / math.log(factor / 3.0)
        val e1N = math.log(tN / t1) / math.log(factor.toDouble)
        println(f"[soak] curve $q%-18s 1x $t1%6.2fs  3x $t3%6.2fs  ${factor}x $tN%6.2fs  e(1-3)=$e13%4.2f e(3-$factor)=$e3N%4.2f e(1-$factor)=$e1N%4.2f")
        (q, t1, t3, tN, e13, e3N, e1N)
      }
    }

    val load = graft.Bench.loadAvg1m()
    val md = new StringBuilder
    md.append(s"# Scale-up soak: sf0.1 -> ${factor}x (generated), local[32]\n\n")
    md.append(s"Generated corpus: `$outDir` (distribution-preserving ${factor}x — see `graft.tools.Soak` scaladoc). ")
    md.append(s"Min of 2 passes per scale per query. loadavg at finish: $load.\n\n")
    md.append("| query | " + srcLabel + " (s) | " + factor + "x (s) | ratio |\n|---|---|---|---|\n")
    rows.foreach { case (q, s, b, r) =>
      md.append(f"| $q | $s%.2f | $b%.2f | $r%.1fx |\n")
    }
    md.append(f"\nGeometric-mean ratio: ${math.exp(rows.map(r => math.log(math.max(r._4, 0.01))).sum / rows.size)}%.1fx\n")
    if (curves.nonEmpty) {
      md.append("\n## Growth curves (1x / 3x / " + factor + "x, fitted exponent t ∝ m^e)\n\n")
      md.append("Theory for this replica generator: ~linear (e ≈ 1.0) for both —\n")
      md.append("disjoint copies preserve degree/block distributions, so the m^1.5\n")
      md.append("triangle worst-case (density growing with size) does not apply; an\n")
      md.append("exponent above ~1.3 on any span would be the 100x red flag.\n\n")
      md.append("| query | 1x (s) | 3x (s) | " + factor + "x (s) | e(1→3) | e(3→" + factor + ") | e(1→" + factor + ") |\n|---|---|---|---|---|---|---|\n")
      curves.foreach { case (q, t1, t3, tN, e13, e3N, e1N) =>
        md.append(f"| $q | $t1%.2f | $t3%.2f | $tN%.2f | $e13%.2f | $e3N%.2f | $e1N%.2f |\n")
      }
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get("SOAK.md"), md.toString)
    println(s"[soak] wrote SOAK.md")
    spark.stop()
  }
}
