package graft.tools

import org.apache.spark.sql.SparkSession

import graft.Tables
import graft.ops.Dedup

/** Dev utility: stage-by-stage timing of the heavy pipelines. */
object Probe {
  def time[A](label: String)(f: => A): A = {
    val t0 = System.nanoTime(); val r = f
    println(f"[probe] $label%-28s ${(System.nanoTime() - t0) / 1e9}%.2fs"); r
  }

  /** `runMain graft.tools.Probe explain <query> [sfDir]` prints the
    * formatted physical plan; `Probe time <sfDir> <query>...` times the
    * named SparkEntry queries (2 runs each, both reported); default mode
    * times the heavy pipelines stage by stage.
    */
  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("explain")) return explainMain(args.drop(1))
    if (args.headOption.contains("explains")) return explainsMain(args.drop(1))
    if (args.headOption.contains("time")) return timeMain(args.drop(1))
    if (args.headOption.contains("tasktime")) return taskTimeMain(args.drop(1))
    if (args.headOption.contains("spot")) return spotMain(args.drop(1))
    if (args.headOption.contains("cc")) return ccMain()
    if (args.headOption.contains("exchanges")) return exchangesMain(args.drop(1))
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = Tables.documents(spark, sfDir)
    val spread = docs.repartition(spark.sparkContext.defaultParallelism)
    // warm the JVM/codegen once
    time("warmup")(spread.count())

    val rows = Dedup.shingleRows(spread).cache()
    time("shingleRows count")(println(rows.count()))
    val sig = Dedup.minhashSignatureRows(rows).cache()
    time("signature count")(println(sig.count()))
    val cand = Dedup.lshCandidates(sig).cache()
    time("candidates count")(println(cand.count()))
    val candDocs = cand.select(org.apache.spark.sql.functions.col("doc_a").as("doc_id"))
      .union(cand.select(org.apache.spark.sql.functions.col("doc_b").as("doc_id"))).distinct()
    val arrays = rows.join(org.apache.spark.sql.functions.broadcast(candDocs), Seq("doc_id"), "left_semi")
      .groupBy("doc_id").agg(org.apache.spark.sql.functions.collect_set("shingle").as("shingles"))
    time("verify")(println(Dedup.verifyJaccard(cand, arrays).count()))
    time("minhash full")(println(Dedup.minhashPairs(docs).count()))

    time("fingerprint op")(println(graft.ops.TextOps.fingerprint(docs).count()))
    time("fingerprint query")(println(
      graft.queries.TextQueries.queries("doc_fingerprint")(spark, sfDir).count()))
    time("fingerprint query 2nd")(println(
      graft.queries.TextQueries.queries("doc_fingerprint")(spark, sfDir).count()))
    time("ngram query")(println(
      graft.queries.DedupQueries.queries("dedup_ngram_jaccard")(spark, sfDir).count()))
    time("active_sessions")(println(
      graft.queries.SessionQueries.queries("active_sessions")(spark, sfDir).count()))
    spark.stop()
  }

  def ccMain(): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import org.apache.spark.sql.functions._
    // 100 chains of length 10 → diameter 10, 990 edges
    val edges = spark.range(1000).filter(col("id") % 10 =!= 9)
      .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
    time("cc synthetic")(println(Dedup.connectedComponents(edges).count()))
    time("cc synthetic 2nd")(println(Dedup.connectedComponents(edges).count()))
    spark.stop()
  }

  /** `Probe tasktime <sfDir> <query>...` — the NOISE-IMMUNE probe:
    * wall-clock on a contended host swings 3–10× pass to pass, but the
    * work a plan schedules does not. Sums executor task time, shuffle
    * write records/bytes, and task count over each run via a
    * SparkListener (2 runs per query; caches released between runs so
    * run 2 measures the plan, not a cache read). Use this, not `time`,
    * to adjudicate a plan change when loadavg or IO wait is unstable.
    */
  def taskTimeMain(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: Probe tasktime <sfDir> <query>...")
      return
    }
    val sfDir = args.head
    val names = args.tail
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.GraftExtensions).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val taskNanos = new java.util.concurrent.atomic.AtomicLong
    val shufRecs = new java.util.concurrent.atomic.AtomicLong
    val shufBytes = new java.util.concurrent.atomic.AtomicLong
    val nTasks = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          taskNanos.addAndGet(m.executorRunTime * 1000000L): Unit
          shufRecs.addAndGet(m.shuffleWriteMetrics.recordsWritten): Unit
          shufBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten): Unit
          nTasks.incrementAndGet(): Unit
        }
      }
    })
    spark.range(1000000L).selectExpr("sum(id)").collect(): Unit // warm codegen
    names.foreach { q =>
      (1 to 2).foreach { i =>
        taskNanos.set(0); shufRecs.set(0); shufBytes.set(0); nTasks.set(0)
        val t0 = System.nanoTime()
        val n = graft.SparkEntry.queries(q)(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        org.apache.spark.graftshim.ListenerDrain.drain(spark.sparkContext)
        println(f"[tasktime] $q#$i rows=$n wall=$wall%.2fs " +
          f"taskTime=${taskNanos.get / 1e9}%.2fs tasks=${nTasks.get} " +
          f"shufRecs=${shufRecs.get} shufMB=${shufBytes.get / 1e6}%.1f")
        graft.ops.Caches.releaseAll()
      }
    }
    spark.stop()
  }

  /** `Probe spot <cpus> <sfDir> <query>...` — timed queries at an
    * EXPLICIT core count (master local[cpus], shuffle.partitions =
    * cpus, 2 runs each, wall + summed task time): the parallel-
    * throughput spot check (r14 verdict #6). At sf0.1 most queries are
    * planning-floor-bound and c8 ≈ c32; run this against a staged soak
    * corpus (Soak.generate 10×) where compute-bound queries separate —
    * a wall ratio ≫ 1 across core counts means real parallel compute,
    * ratio ≤ 1 means the query is scheduling/lifecycle-bound
    * (SOAK_r15.md records the r15 table).
    */
  def spotMain(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println("usage: Probe spot <cpus> <sfDir> <query>...")
      return
    }
    val cpus = args(0).toInt
    val sfDir = args(1)
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.GraftExtensions).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val taskNanos = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) taskNanos.addAndGet(m.executorRunTime * 1000000L): Unit
      }
    })
    spark.range(1000000L).selectExpr("sum(id)").collect(): Unit
    args.drop(2).foreach { q =>
      (1 to 2).foreach { i =>
        taskNanos.set(0)
        val t0 = System.nanoTime()
        val n = graft.SparkEntry.queries(q)(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        org.apache.spark.graftshim.ListenerDrain.drain(spark.sparkContext)
        println(f"[spot] cpus=$cpus $q#$i rows=$n wall=$wall%.2fs task=${taskNanos.get / 1e9}%.2fs")
        graft.ops.Caches.releaseAll()
      }
    }
    spark.stop()
  }

  def timeMain(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: Probe time <sfDir> <query>...")
      return
    }
    val sfDir = args.head
    val names = args.tail
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.GraftExtensions).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    time("warmup")(spark.range(1000000L).selectExpr("sum(id)").collect())
    names.foreach { q =>
      (1 to 2).foreach { i =>
        time(s"$q#$i")(println(graft.SparkEntry.queries(q)(spark, sfDir).count()))
        // release between runs: a cached subtree from run 1 would make
        // run 2 a cache read, not a measurement
        graft.ops.Caches.releaseAll()
      }
    }
    spark.stop()
  }

  /** DISTINCT physical exchanges in a query's plan — the honest budget
    * metric. The plan STRING re-prints a cached `InMemoryRelation`'s
    * whole build subtree at every `InMemoryTableScan` site, so a
    * substring count multiplies the cache-build exchanges by the number
    * of scan sites (dedup_minhash read 36 that way; the true count is
    * 16). The formatted explain assigns each physical operator ONE id
    * that repeated prints share, so distinct (name, id) pairs count
    * every exchange exactly once — including the cache build's, which
    * execute once at first materialization. Returns (real, reused).
    */
  def distinctExchanges(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
    val s = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val ids = "(\\w*Exchange) \\((\\d+)\\)".r.findAllMatchIn(s)
      .map(m => (m.group(1), m.group(2).toInt)).toSet
    val (reused, real) = ids.partition(_._1.startsWith("Reused"))
    (real.size, reused.size)
  }

  /** `Probe exchanges <sfDir> <query>...` — prints the distinct-exchange
    * count (PlanSpec's budget metric) and how many exchanges the plan
    * reuses, per query.
    */
  def exchangesMain(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: Probe exchanges <sfDir> <query>...")
      return
    }
    val sfDir = args.head
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.GraftExtensions).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    args.tail.foreach { q =>
      val (n, reused) = distinctExchanges(graft.SparkEntry.queries(q)(spark, sfDir))
      println(s"[probe] $q exchanges=$n reused=$reused")
      // release between queries so one query's caches don't appear in
      // the next query's plan
      graft.ops.Caches.releaseAll()
    }
    spark.stop()
  }

  /** `Probe explains <outDir> <suffix> <sfDir> <query>...` — write each
    * query's formatted physical plan to `<outDir>/<query>_<suffix>.txt`
    * (the round's plans/ evidence files), under the BENCH session shape
    * (local[32], 32 shuffle partitions, AQE, Graft extensions) so the
    * captured plan is the one the bench actually times. Also prints the
    * distinct-exchange count per query.
    */
  def explainsMain(args: Array[String]): Unit = {
    if (args.length < 4) {
      System.err.println("usage: Probe explains <outDir> <suffix> <sfDir> <query>...")
      return
    }
    val outDir = args(0); val suffix = args(1); val sfDir = args(2)
    val names = args.drop(3)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.GraftExtensions).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir)): Unit
    names.foreach { q =>
      try {
        val df = graft.SparkEntry.queries(q)(spark, sfDir)
        val s = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val (ex, reused) = distinctExchanges(df)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${q}_$suffix.txt"),
          s"== $q ($sfDir, bench session shape) ==\n" +
            s"distinct exchanges: $ex (+$reused reused)\n\n$s")
        println(s"[explains] $q exchanges=$ex reused=$reused")
      } catch {
        case e: Throwable => println(s"[explains] $q FAILED: ${e.getMessage}")
      }
      graft.ops.Caches.releaseAll()
    }
    spark.stop()
  }

  def explainMain(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: Probe explain <query> [sfDir]")
      return
    }
    val q = args.head
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.SparkEntry.queries(q)(spark, sfDir).explain("formatted")
    spark.stop()
  }
}
