package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.ops.Sessionize
import graft.queries.QueryHarness
import graft.streaming.StreamingSessionize
import graft.streaming.StreamingSessionize.{Ev, Labeled}

/** Streaming sessionization vs the batch core: the batch output is the
  * oracle (SURVEY.md §7.6).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def evs(n: Int): Seq[Ev] = {
    // sf0.001 events, shrunk: first n rows as typed Ev.
    Tables.events(spark, Sf0001)
      .select($"user_id", $"ts", $"event_id")
      .orderBy("event_id").limit(n).as[Ev].collect().toSeq
  }

  test("session_window agg on stream equals batch session_window agg") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = StreamingSessionize.sessionWindowAgg(input.toDF())
      .writeStream.outputMode("complete")
      .format("memory").queryName("sw_out").start()
    val data = evs(300)
    // two micro-batches split mid-stream (event-time order preserved)
    input.addData(data.take(150)); q.processAllAvailable()
    input.addData(data.drop(150)); q.processAllAvailable()
    val got = spark.table("sw_out")
      .select("user_id", "session_start", "n_events", "first_event", "last_event")
      .collect().map(_.toSeq).toSet
    q.stop()

    val batch = StreamingSessionize.sessionWindowAgg(
      data.toDF(), withWatermarkCol = None)
      .select("user_id", "session_start", "n_events", "first_event", "last_event")
      .collect().map(_.toSeq).toSet
    assert(got == batch)

    // and the session boundaries agree with the gap-rule core
    val core = Sessionize.withSessionNo(data.toDF())
      .groupBy("user_id", "session_no").agg(count(lit(1)).as("n"))
      .select(sum("n")).head.getLong(0)
    assert(batch.toSeq.map(_(2).asInstanceOf[Long]).sum == core)
  }

  test("file-source streaming job writes exactly the finalized sessions") {
    val base = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val in = s"$base/in"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
    val ev = Tables.events(spark, Sf0001).select($"user_id", $"ts", $"event_id")
    ev.write.parquet(in)
    graft.streaming.StreamingJob.run(spark, ev.schema, in, out, ckpt)
    val got = spark.read.parquet(out)
      .select("user_id", "session_start", "n_events")
      .collect().map(_.toSeq).toSet

    // append mode emits only sessions already closed by the final
    // watermark (max ts − 30 min); everything it emits must match the
    // batch result, and all clearly-old sessions must be present.
    val batch = graft.streaming.StreamingSessionize
      .sessionWindowAgg(ev, withWatermarkCol = None)
    val batchAll = batch.select("user_id", "session_start", "n_events")
      .collect().map(_.toSeq).toSet
    assert(got.subsetOf(batchAll))
    val maxTs = ev.agg(max(unix_micros($"ts"))).head().getLong(0)
    val surelyClosed = batch
      .filter(unix_micros($"session_end") + 1800000000L < maxTs - 1800000000L)
      .select("user_id", "session_start", "n_events")
      .collect().map(_.toSeq).toSet
    assert(surelyClosed.subsetOf(got))
    assert(got.nonEmpty)
  }

  test("AvailableNow file source equals the oracled batch session_window at sf0.01") {
    // The driver-gate-scale version of the file-source test, made EXACT:
    // a sentinel event 2h past the corpus maximum pushes the final
    // watermark beyond every real session's close, so append mode must
    // emit ALL real sessions — the streaming engine path (file source,
    // AvailableNow, checkpoint, no-data flush batch) then has to agree
    // row-for-row with the batch session_window twin that the DuckDB
    // oracle already hash-checks (session_window_agg).
    val base = java.nio.file.Files.createTempDirectory("graft-stream-sf001").toString
    val in = s"$base/in"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
    val ev = Tables.events(spark, Sf001).select($"user_id", $"ts", $"event_id")
    val maxTs = ev.agg(max($"ts")).head().getTimestamp(0)
    val sentinel = Seq((-999L, new Timestamp(maxTs.getTime + 7200L * 1000L), -1L))
      .toDF("user_id", "ts", "event_id")
    ev.unionByName(sentinel).write.parquet(in)
    graft.streaming.StreamingJob.run(spark, ev.schema, in, out, ckpt)
    val cols = Seq("user_id", "session_start", "session_end",
      "n_events", "first_event", "last_event")
    val got = spark.read.parquet(out).filter($"user_id" =!= -999L)
      .select(cols.map(col): _*).collect().map(_.toSeq).toSet
    val batch = StreamingSessionize.sessionWindowAgg(ev, withWatermarkCol = None)
      .select(cols.map(col): _*).collect().map(_.toSeq).toSet
    assert(got == batch)
    assert(got.size > 1000) // sf0.01 is non-trivial: thousands of sessions
  }

  /** Start a query and kill it right after its FIRST committed data
    * batch, via a StreamingQueryListener. The old 50 ms poll loop
    * could lose the race on a fast machine — AvailableNow can drain
    * all 25 single-file batches before the first poll tick, making
    * the "kill was not mid-stream" assertion flaky. The listener's
    * stop fires off the first progress event (posted right after that
    * batch commits), so the remaining 24 commits would all have to
    * outrun one stop() for the kill to miss. Returns the terminated
    * query so callers can read recentProgress.
    */
  private def runUntilFirstProgress(
      build: => org.apache.spark.sql.streaming.StreamingQuery)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    @volatile var qRef: org.apache.spark.sql.streaming.StreamingQuery = null
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(event: QueryStartedEvent): Unit = ()
      override def onQueryProgress(event: QueryProgressEvent): Unit = {
        val q = qRef
        // stop from a fresh thread: stop() joins the stream-execution
        // thread, and blocking the listener bus would stall every
        // later event behind us
        if (q != null && event.progress.id == q.id &&
            event.progress.numInputRows > 0)
          new Thread(() => q.stop()).start()
      }
      override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      val q = build
      qRef = q
      // terminates via the listener's stop; the timeout + manual stop
      // is the harness failsafe, not the expected path
      q.awaitTermination(180000)
      q.stop(); q.awaitTermination()
      q
    } finally spark.streams.removeListener(listener)
  }

  test("killed mid-stream and restarted from the checkpoint, the job still matches batch") {
    // The restart-RESUME contract (r7 verdict item 7): every prior
    // streaming test ran AvailableNow to completion. Here the query is
    // stopped BETWEEN micro-batches (maxFilesPerTrigger=1 over a
    // many-file input, stop() after the 2nd data batch commits), then a
    // fresh launch resumes from the same checkpoint — offset log, session
    // state store, and exactly-once file-sink log all have to survive the
    // restart for the final output to hash-match the batch twin.
    val base = java.nio.file.Files.createTempDirectory("graft-stream-resume").toString
    val in = s"$base/in"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
    val ev = Tables.events(spark, Sf0001).select($"user_id", $"ts", $"event_id")
    val maxTs = ev.agg(max($"ts")).head().getTimestamp(0)
    // sentinel 2h past the corpus max: the final watermark passes every
    // real session's close, so append mode must emit ALL real sessions
    val sentinel = Seq((-999L, new Timestamp(maxTs.getTime + 7200L * 1000L), -1L))
      .toDF("user_id", "ts", "event_id")
    // 25 staged files (24 event-time SLICES + the sentinel), written
    // sequentially so the file source — which orders by modification
    // time — replays them in event-time order: the multi-batch
    // watermark contract for a historical replay (dedupStream scaladoc
    // documents the same rule). A repartition(24) staging instead makes
    // every file span the whole corpus; the first batch then races the
    // watermark to corpus-max − 30 min and every later file is
    // LEGITIMATELY dropped as late — a property of the input, not of
    // checkpoint recovery. 25 single-file micro-batches also leave
    // plenty unconsumed when the kill lands after the first commit.
    val sliced = ev.withColumn("slice", ntile(24).over(
      org.apache.spark.sql.expressions.Window.orderBy("ts")))
    (1 to 24).foreach { i =>
      sliced.filter($"slice" === i).drop("slice")
        .coalesce(1).write.mode("append").parquet(in)
    }
    sentinel.coalesce(1).write.mode("append").parquet(in)
    val totalRows = ev.count() + 1

    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    val q = runUntilFirstProgress(
      StreamingSessionize.sessionWindowAgg(stream).writeStream
        .outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start())
    val rowsBeforeKill = q.recentProgress.map(_.numInputRows).sum
    // the kill genuinely happened mid-stream: only part of the input
    // had been consumed (24 single-file batches staged, stopped after
    // the first committed)
    assert(rowsBeforeKill > 0 && rowsBeforeKill < totalRows,
      s"kill was not mid-stream: $rowsBeforeKill of $totalRows rows consumed")

    // relaunch on the SAME checkpoint via the production entry point
    // (which uses no maxFilesPerTrigger — the offset log must interop)
    graft.streaming.StreamingJob.run(spark, ev.schema, in, out, ckpt)

    val cols = Seq("user_id", "session_start", "session_end",
      "n_events", "first_event", "last_event")
    val got = spark.read.parquet(out).filter($"user_id" =!= -999L)
      .select(cols.map(col): _*).collect().map(_.toSeq)
    val batch = StreamingSessionize.sessionWindowAgg(ev, withWatermarkCol = None)
      .select(cols.map(col): _*).collect().map(_.toSeq)
    assert(got.length == got.toSet.size, "restart must not duplicate sessions")
    assert(got.toSet == batch.toSet,
      s"resumed output diverged from batch: ${got.length} vs ${batch.length} sessions")
  }

  test("RocksDB state store: session-agg kill/resume still hash-matches batch") {
    // The 100 TB configuration: at real state sizes the HDFS-backed
    // default provider holds every key in executor heap; RocksDB is
    // the provider a production deployment runs. transformWithState
    // already runs on it (Spark 4 requires that); this pins the
    // session_window AGG path — including a mid-stream kill + resume,
    // so RocksDB's snapshot/changelog recovery is what's being
    // trusted — to the same batch hash-match as the default-provider
    // tests.
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val base = java.nio.file.Files
        .createTempDirectory("graft-stream-rocks").toString
      val in = s"$base/in"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
      val ev = Tables.events(spark, Sf0001).select($"user_id", $"ts", $"event_id")
      val maxTs = ev.agg(max($"ts")).head().getTimestamp(0)
      val sentinel = Seq((-999L, new Timestamp(maxTs.getTime + 7200L * 1000L), -1L))
        .toDF("user_id", "ts", "event_id")
      // same staged event-time slices as the default-provider resume
      // test (see its scaladoc for why mod-time order matters)
      val sliced = ev.withColumn("slice", ntile(24).over(
        org.apache.spark.sql.expressions.Window.orderBy("ts")))
      (1 to 24).foreach { i =>
        sliced.filter($"slice" === i).drop("slice")
          .coalesce(1).write.mode("append").parquet(in)
      }
      sentinel.coalesce(1).write.mode("append").parquet(in)
      val totalRows = ev.count() + 1
      val stream = spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(in)
      val q = runUntilFirstProgress(
        StreamingSessionize.sessionWindowAgg(stream).writeStream
          .outputMode("append")
          .format("parquet")
          .option("path", out)
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start())
      val rowsBeforeKill = q.recentProgress.map(_.numInputRows).sum
      assert(rowsBeforeKill > 0 && rowsBeforeKill < totalRows,
        s"kill was not mid-stream: $rowsBeforeKill of $totalRows rows")
      graft.streaming.StreamingJob.run(spark, ev.schema, in, out, ckpt)
      val cols = Seq("user_id", "session_start", "session_end",
        "n_events", "first_event", "last_event")
      val got = spark.read.parquet(out).filter($"user_id" =!= -999L)
        .select(cols.map(col): _*).collect().map(_.toSeq)
      val batch = StreamingSessionize.sessionWindowAgg(ev, withWatermarkCol = None)
        .select(cols.map(col): _*).collect().map(_.toSeq)
      assert(got.length == got.toSet.size,
        "RocksDB resume must not duplicate sessions")
      assert(got.toSet == batch.toSet,
        s"RocksDB-provider output diverged from batch: " +
          s"${got.length} vs ${batch.length} sessions")
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("re-running the streaming job on the same checkpoint emits nothing new") {
    val base = java.nio.file.Files.createTempDirectory("graft-stream2").toString
    val in = s"$base/in"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
    val ev = Tables.events(spark, Sf0001).select($"user_id", $"ts", $"event_id")
    ev.write.parquet(in)
    graft.streaming.StreamingJob.run(spark, ev.schema, in, out, ckpt)
    val n1 = spark.read.parquet(out).count()
    // second launch, same checkpoint, no new files → exactly-once: no
    // duplicate sessions are appended
    graft.streaming.StreamingJob.run(spark, ev.schema, in, out, ckpt)
    val n2 = spark.read.parquet(out).count()
    assert(n1 == n2 && n1 > 0)
  }

  test("labeler drops events older than the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = StreamingSessionize.labelSessions(input.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("late_out").start()
    val t0 = 1700000000000L // ms
    input.addData(Ev(1L, new Timestamp(t0), 1L))
    q.processAllAvailable()
    // push the watermark hours ahead
    input.addData(Ev(2L, new Timestamp(t0 + 10 * 3600 * 1000L), 2L))
    q.processAllAvailable()
    // now a VERY late event for user 1, hours behind the watermark
    input.addData(Ev(1L, new Timestamp(t0 + 60 * 1000L), 3L))
    q.processAllAvailable()
    // close everything
    input.addData(Ev(3L, new Timestamp(t0 + 20 * 3600 * 1000L), 4L))
    q.processAllAvailable()
    input.addData(Ev(3L, new Timestamp(t0 + 30 * 3600 * 1000L), 5L))
    q.processAllAvailable()
    val got = spark.table("late_out").as[Labeled].collect().map(_.event_id).toSet
    q.stop()
    assert(got.contains(1L))
    assert(!got.contains(3L), s"late event should have been dropped, got $got")
  }

  test("flatMapGroupsWithState labeler matches batch session ids for closed sessions") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = StreamingSessionize.labelSessions(input.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("lbl_out").start()
    val data = evs(300)
    input.addData(data.take(100)); q.processAllAvailable()
    input.addData(data.slice(100, 200)); q.processAllAvailable()
    input.addData(data.drop(200)); q.processAllAvailable()
    // advance the watermark far past everything so all sessions close:
    val maxTs = data.map(_.ts.getTime).max
    input.addData(Ev(999999L, new Timestamp(maxTs + 7200 * 1000L), 999999L))
    q.processAllAvailable()
    input.addData(Ev(999999L, new Timestamp(maxTs + 14400 * 1000L), 999998L))
    q.processAllAvailable()
    val got = spark.table("lbl_out").as[Labeled].collect()
      .filter(_.user_id != 999999L)
      .map(l => l.event_id -> l.session_id).toMap
    q.stop()

    val batch = Sessionize.withSessionId(data.toDF())
      .select("event_id", "session_id").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == batch.size)
    assert(got == batch)
  }

  test("stream-stream interval join equals the batch join") {
    // Windowed stream-stream join — clicks attributed to the impression
    // they followed within 10 minutes. Both sides carry watermarks so
    // Spark can bound the join state; a far-future sentinel closes all
    // state, after which append output must equal the batch join.
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Int) = new Timestamp(1700000000000L + min * 60000L)
    val impData = Seq((1L, ts(0)), (2L, ts(5)), (3L, ts(20)), (1L, ts(30)))
    val clkData = Seq((1L, ts(3)), (2L, ts(18)), (3L, ts(25)), (1L, ts(31)))
    val cond = "imp_ad = clk_ad AND clk_ts >= imp_ts AND clk_ts <= imp_ts + interval 10 minutes"
    val imp = MemoryStream[(Long, Timestamp)]
    val clk = MemoryStream[(Long, Timestamp)]
    val joined = imp.toDS().toDF("imp_ad", "imp_ts").withWatermark("imp_ts", "10 seconds")
      .join(clk.toDS().toDF("clk_ad", "clk_ts").withWatermark("clk_ts", "10 seconds"),
        expr(cond))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssj_out").start()
    imp.addData(impData.take(2)); clk.addData(clkData.take(2)); q.processAllAvailable()
    imp.addData(impData.drop(2)); clk.addData(clkData.drop(2)); q.processAllAvailable()
    imp.addData(Seq((99L, ts(600)))); clk.addData(Seq((99L, ts(600)))); q.processAllAvailable()
    val got = spark.table("ssj_out").filter($"imp_ad" =!= 99)
      .collect().map(_.toSeq).toSet
    q.stop()
    val batch = impData.toDF("imp_ad", "imp_ts")
      .join(clkData.toDF("clk_ad", "clk_ts"), expr(cond))
      .collect().map(_.toSeq).toSet
    assert(got == batch, s"stream=$got batch=$batch")
    assert(got.size == 3) // (1@0,1@3), (3@20,3@25), (1@30,1@31); 2@5->2@18 is 13min out
  }

  test("attributionJoin emits exactly the in-horizon view→purchase pairs") {
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Int) = new Timestamp(1700000000000L + min * 60000L)
    // user 1: view@0 → purchase@30 (in), purchase@70 (out: > 1 h);
    // user 2: purchase@10 BEFORE its view@20 (out: p >= v required);
    // user 3: view only (no pair)
    val data = Seq(
      (1L, ts(0), 100L, "view"), (1L, ts(30), 101L, "purchase"),
      (1L, ts(70), 102L, "purchase"),
      (2L, ts(10), 200L, "purchase"), (2L, ts(20), 201L, "view"),
      (3L, ts(5), 300L, "view"))
    val input = MemoryStream[(Long, Timestamp, Long, String)]
    val q = StreamingSessionize.attributionJoin(
        input.toDF().toDF("user_id", "ts", "event_id", "event_type"))
      .writeStream.outputMode("append")
      .format("memory").queryName("attr_out").start()
    input.addData(data.take(3)); q.processAllAvailable()
    input.addData(data.drop(3)); q.processAllAvailable()
    val got = spark.table("attr_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    q.stop()
    assert(got == Set((1L, 100L, 101L)))
  }

  test("attributionJoinOuter: unmatched views flush with null purchase only after the watermark") {
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Int) = new Timestamp(1700000000000L + min * 60000L)
    val input = MemoryStream[(Long, Timestamp, Long, String)]
    val q = StreamingSessionize.attributionJoinOuter(
        input.toDF().toDF("user_id", "ts", "event_id", "event_type"))
      .writeStream.outputMode("append")
      .format("memory").queryName("oattr_out").start()
    // user 1 matched; user 3 view has NO purchase
    input.addData(
      (1L, ts(0), 100L, "view"), (1L, ts(30), 101L, "purchase"),
      (3L, ts(5), 300L, "view"))
    q.processAllAvailable()
    def rows() = spark.table("oattr_out").filter($"user_id" >= 0)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    // before any watermark movement the unmatched view must NOT have
    // flushed (it could still match); the inner pair may already emit
    assert(!rows().exists(_._1 == 3L), rows().toString)
    // far-future sentinels on both branches → watermark passes every
    // real view's window → the unmatched view emits with null
    input.addData(
      (-999L, ts(600), -1L, "view"), (-998L, ts(600), -2L, "purchase"))
    q.processAllAvailable()
    q.stop()
    assert(rows() == Set((1L, 100L, 101L), (3L, 300L, -1L)), rows().toString)
  }

  test("stream-static join enriches streaming events with a dimension") {
    implicit val sqlCtx = spark.sqlContext
    val weights = Seq(("view", 1L), ("click", 5L), ("purchase", 50L))
      .toDF("event_type", "weight")
    val input = MemoryStream[(Long, String)]
    val enriched = input.toDF().toDF("event_id", "event_type")
      .join(weights, Seq("event_type"), "left")
    val q = enriched.writeStream.outputMode("append")
      .format("memory").queryName("enrich_out").start()
    input.addData((1L, "view"), (2L, "purchase"), (3L, "signup"))
    q.processAllAvailable()
    val got = spark.table("enrich_out")
      .collect().map(r => r.getLong(1) -> Option(r.get(2))).toMap
    q.stop()
    assert(got == Map(1L -> Some(1L), 2L -> Some(50L), 3L -> None))
  }

  test("transformWithState running totals accumulate across micro-batches") {
    import graft.streaming.StreamingSessionize.{EvCents, UserTotals}
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[EvCents]
      val q = StreamingSessionize.runningTotals(input.toDS())
        .writeStream.outputMode("append")
        .format("memory").queryName("tws_out").start()
      input.addData(EvCents(1L, 10L, 100L), EvCents(1L, 11L, 50L), EvCents(2L, 20L, 7L))
      q.processAllAvailable()
      input.addData(EvCents(1L, 12L, 25L))
      q.processAllAvailable()
      q.stop()
      val rows = spark.table("tws_out").as[UserTotals].collect()
      // batch 1 emits (1 -> 2 events/150c), (2 -> 1/7); batch 2 emits the
      // UPDATED user-1 running total (3/175) — state carried across batches
      assert(rows.toSet == Set(UserTotals(1L, 2L, 150L), UserTotals(2L, 1L, 7L),
        UserTotals(1L, 3L, 175L)), rows.mkString(","))
      // max-per-user = the batch groupBy figure, regardless of batch splits
      val finals = rows.groupBy(_.user_id).map { case (u, rs) =>
        u -> rs.map(_.n_events).max }
      assert(finals == Map(1L -> 3L, 2L -> 1L))
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("transformWithState funnel: dominance chain spans the batch boundary") {
    import graft.streaming.StreamingSessionize.{FunnelEv, FunnelStage}
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[FunnelEv]
      val q = graft.streaming.StreamingSessionize
        .funnelStream(input.toDS(), nSteps = 3, windowUs = 3600L)
        .writeStream.outputMode("append")
        .format("memory").queryName("funnel_out").start()
      // batch 1 (deliberately SHUFFLED within the batch — the processor
      // sorts): user 1's early AND late view; user 2 completes inside
      val W = 3600L
      input.addData(
        FunnelEv(1L, 3000L, 0, 2L), FunnelEv(1L, 0L, 0, 1L),
        FunnelEv(2L, 10L, 0, 1L), FunnelEv(2L, 20L, 1, 2L),
        FunnelEv(2L, 30L, 2, 3L))
      q.processAllAvailable()
      // batch 2: user 1's click + purchase — the purchase is only inside
      // the window of the LATER view (6500 − 3000 ≤ 3600 < 6500 − 0), so
      // the cross-batch state must have kept the latest start, exactly
      // the dominance case the batch spec pins
      input.addData(FunnelEv(1L, 3500L, 1, 3L), FunnelEv(1L, 6500L, 2, 4L))
      q.processAllAvailable()
      q.stop()
      val rows = spark.table("funnel_out").as[FunnelStage].collect()
      val finals = rows.groupBy(_.user_id).map { case (u, rs) =>
        u -> rs.map(_.funnel_stage).max }
      assert(finals == Map(1L -> 3L, 2L -> 3L), rows.mkString(","))
      // batch-1 emissions: user 1 at stage 1, user 2 already at 3
      assert(rows.toSet.contains(FunnelStage(1L, 1L)))
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("streaming dedup drops replayed events within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = StreamingSessionize.dedupStream(input.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    val data = evs(100)
    input.addData(data.take(60)); q.processAllAvailable()
    // replay an overlapping window (at-least-once source) + the tail
    input.addData(data.slice(30, 100)); q.processAllAvailable()
    // and replay the whole thing once more
    input.addData(data); q.processAllAvailable()
    val got = spark.table("dedup_out").select("event_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    q.stop()
    assert(got == data.map(_.event_id).sorted.toSeq) // each id exactly once
  }

  test("RocksDB state store: streaming dedup and interval join match their default-provider results") {
    // Completes the provider matrix: session-agg (kill/resume) and
    // transformWithState already run on RocksDB; this covers the two
    // remaining stateful shapes — dropDuplicates state and symmetric
    // join state — whose 100 TB deployments also run RocksDB.
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // queries stop in the finally — a provider failure mid-test must
    // not leak an active query into the suite's shared session
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    var qj: org.apache.spark.sql.streaming.StreamingQuery = null
    try {
      implicit val sqlCtx = spark.sqlContext
      // dedup: replayed events within the watermark drop exactly once
      val input = MemoryStream[Ev]
      q = StreamingSessionize.dedupStream(input.toDF())
        .writeStream.outputMode("append")
        .format("memory").queryName("dedup_rocks_out").start()
      val data = evs(100)
      input.addData(data.take(60)); q.processAllAvailable()
      input.addData(data.slice(30, 100)); q.processAllAvailable()
      input.addData(data); q.processAllAvailable()
      val got = spark.table("dedup_rocks_out").select("event_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(got == data.map(_.event_id).sorted.toSeq,
        "RocksDB dedup state must keep each id exactly once")

      // interval join: state bounded by both watermarks, equals batch
      def ts(min: Int) = new Timestamp(1700000000000L + min * 60000L)
      val impData = Seq((1L, ts(0)), (2L, ts(5)), (3L, ts(20)), (1L, ts(30)))
      val clkData = Seq((1L, ts(3)), (2L, ts(18)), (3L, ts(25)), (1L, ts(31)))
      val cond = "imp_ad = clk_ad AND clk_ts >= imp_ts AND clk_ts <= imp_ts + interval 10 minutes"
      val imp = MemoryStream[(Long, Timestamp)]
      val clk = MemoryStream[(Long, Timestamp)]
      val joined = imp.toDS().toDF("imp_ad", "imp_ts")
        .withWatermark("imp_ts", "10 seconds")
        .join(clk.toDS().toDF("clk_ad", "clk_ts")
          .withWatermark("clk_ts", "10 seconds"), expr(cond))
      qj = joined.writeStream.outputMode("append")
        .format("memory").queryName("ssj_rocks_out").start()
      imp.addData(impData); clk.addData(clkData); qj.processAllAvailable()
      imp.addData(Seq((99L, ts(600)))); clk.addData(Seq((99L, ts(600))))
      qj.processAllAvailable()
      val gotJ = spark.table("ssj_rocks_out").filter($"imp_ad" =!= 99)
        .collect().map(_.toSeq).toSeq
      assert(gotJ.length == gotJ.toSet.size,
        "RocksDB join state must not emit a matched pair twice")
      val batch = impData.toDF("imp_ad", "imp_ts")
        .join(clkData.toDF("clk_ad", "clk_ts"), expr(cond))
        .collect().map(_.toSeq).toSet
      assert(gotJ.toSet == batch,
        s"RocksDB join state diverged: stream=$gotJ batch=$batch")
    } finally {
      if (q != null) q.stop()
      if (qj != null) qj.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("multi-batch file-source dedup keeps first occurrences older than a prior batch") {
    // The hazard streaming_dedup's 90-day delay exists for: when the file
    // listing splits into several micro-batches (maxFilesPerTrigger, more
    // staged files at higher SF), a FIRST occurrence arriving in a later
    // batch but event-time-older than the advanced watermark is dropped
    // as late under a short delay — silent divergence from the batch
    // distinct. Stage the newest slice in the oldest file so the file
    // source (mod-time order) processes new-data-first, then verify the
    // corpus-span delay still reproduces the batch result exactly.
    val base = java.nio.file.Files.createTempDirectory("graft-dedup-mb").toString
    val in = s"$base/in"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
    val data = evs(200)
    val byTime = data.sortBy(_.ts.getTime)
    val old = byTime.take(100); val recent = byTime.drop(100)
    new java.io.File(in).mkdirs()
    // file 1 (oldest mod time): the RECENT half → watermark jumps ahead
    recent.toDF().coalesce(1).write.mode("append").parquet(in)
    Thread.sleep(1100) // distinct mod-time seconds so listing order is fixed
    // file 2: the OLD half (first occurrences!) + a replay of recent
    (old ++ recent).toDF().coalesce(1).write.mode("append").parquet(in)
    val schema = data.toDF().schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q = graft.streaming.StreamingSessionize.dedupStream(src, delay = "90 days")
      .writeStream.outputMode("append").format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.read.parquet(out).select("event_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == data.map(_.event_id).sorted.toSeq,
      s"multi-batch dedup diverged: got ${got.size} of ${data.size}")
  }

  test("streaming IVF assignment equals the batch assignment, across batch splits") {
    implicit val sqlCtx = spark.sqlContext
    val emb = Tables.embeddings(spark, Sf0001).select($"vec_id", $"embedding")
    val centroids = emb.filter($"vec_id" < 8)
    val input = MemoryStream[(Long, Seq[Float])]
    val q = graft.streaming.StreamingAnn
      .ivfAssignStream(input.toDF().toDF("vec_id", "embedding"), centroids)
      .writeStream.outputMode("append")
      .format("memory").queryName("ivf_assign_out").start()
    val rows = emb.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    // two micro-batches split mid-corpus: stateless assignment must not
    // care where the boundary lands
    input.addData(rows.take(rows.length / 2).toSeq); q.processAllAvailable()
    input.addData(rows.drop(rows.length / 2).toSeq); q.processAllAvailable()
    val got = spark.table("ivf_assign_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    q.stop()
    // full-row parity with the SAME operator run in batch mode...
    val batchSame = graft.streaming.StreamingAnn.ivfAssignStream(emb, centroids)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == batchSame)
    // ...and cluster parity with the independent batch argmin-window form
    val batchWindow = graft.ops.Similarity.assignClustersL2(emb, centroids)
      .select($"vec_id", $"cluster")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.map(t => t._1 -> t._2).toMap == batchWindow)
    assert(got.size == rows.length)
    // centroid vectors self-assign at distance 0
    got.filter(_._1 < 8).foreach { case (id, cl, d2) =>
      assert(cl == id && d2 == 0L, s"self-assign broken: ($id, $cl, $d2)")
    }
  }

  test("streaming index-ingest equals batch assignment JOIN batch PQ codes") {
    implicit val sqlCtx = spark.sqlContext
    val emb = Tables.embeddings(spark, Sf0001).select($"vec_id", $"embedding")
    val book = emb.filter($"vec_id" < 8)
    val input = MemoryStream[(Long, Seq[Float])]
    val q = graft.streaming.StreamingAnn
      .ivfPqIngestStream(input.toDF().toDF("vec_id", "embedding"), book, book, 4)
      .writeStream.outputMode("append")
      .format("memory").queryName("ingest_out").start()
    val rows = emb.collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    input.addData(rows.take(rows.length / 3).toSeq); q.processAllAvailable()
    input.addData(rows.drop(rows.length / 3).toSeq); q.processAllAvailable()
    val got = spark.table("ingest_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    q.stop()
    // one row per (vector, subspace); clusters equal the batch argmin;
    // codes equal the batch PQ encode — the streamed vector is exactly
    // as searchable as a batch-encoded one
    assert(got.size == rows.length * 4)
    val cluster = graft.ops.Similarity.assignClustersL2(emb, book)
      .select($"vec_id", $"cluster")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val codes = graft.ops.Similarity.pqCodes(emb, book, subspaces = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    got.foreach { case (id, cl, s, code) =>
      assert(cl == cluster(id), s"cluster mismatch for $id: $cl vs ${cluster(id)}")
      assert(code == codes((id, s)), s"code mismatch for ($id, $s)")
    }
  }

  test("streaming classifier serving scores arriving docs exactly; resumes for new files") {
    // Train-batch/serve-stream: the per-row literal-map scorer is
    // stateless, so (a) streamed scores equal the batch broadcast-join
    // form row-for-row, and (b) a SECOND launch on the same checkpoint
    // scores exactly the newly arrived files — incremental serving with
    // no rescan and no duplicates.
    val base = java.nio.file.Files.createTempDirectory("graft-classify").toString
    val in = s"$base/in"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
    val docs = Tables.documents(spark, Sf0001).select($"doc_id", $"text")
    val wave1 = docs.filter($"doc_id" % 2 === 0)
    val wave2 = docs.filter($"doc_id" % 2 === 1)
    val weights: Map[Long, Long] = (0L until 64L).map(b => b -> (b * 11L - 300L)).toMap
    wave1.write.mode("append").parquet(in)
    graft.streaming.StreamingJob.drain(spark, docs.schema, in, out, ckpt)(
      graft.ops.TextOps.linearScore(_, weights, 128))
    val n1 = spark.read.parquet(out).count()
    assert(n1 == wave1.count())
    wave2.write.mode("append").parquet(in)
    graft.streaming.StreamingJob.drain(spark, docs.schema, in, out, ckpt)(
      graft.ops.TextOps.linearScore(_, weights, 128))
    val got = spark.read.parquet(out)
      .select("doc_id", "n_tokens", "logit_micros", "keep")
      .collect().map(_.toSeq).toSet
    val batch = graft.ops.TextOps.hashedLinearScore(docs,
        weights.toSeq.toDF("bucket", "w_micros"), nBuckets = 128)
      .collect().map(_.toSeq).toSet
    assert(got == batch, s"${got.size} streamed vs ${batch.size} batch rows")
    assert(spark.read.parquet(out).count() == docs.count(), "no duplicates on resume")
  }

  test("streaming curation equals the batch gate∘redact, across batch splits") {
    // The curation ops are pure projections, so the streaming pipeline
    // is STATELESS — output must equal the batch composition however
    // the input splits into micro-batches.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val src = input.toDF().toDF("doc_id", "text")
    val gated = graft.ops.TextOps.gopherRules(src, passthroughCols = Seq("text"))
      .filter(col("keep"))
    val q = graft.ops.TextOps.redactPii(gated, passthroughCols = Seq("n_words"))
      .writeStream.outputMode("append")
      .format("memory").queryName("curate_out").start()
    val keepable = (1 to 30).map(i =>
      s"the tok$i of a value and to in is on data row table line scan key part batch col item unit" +
        f" mail u$i%d@x.example.org node 10.0.0.$i%d tel 555-0$i%03d").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val dropped = Seq((900L, "tiny doc"), (901L, "x y z"))
    input.addData(keepable.take(10) ++ dropped); q.processAllAvailable()
    input.addData(keepable.drop(10)); q.processAllAvailable()
    val got = spark.table("curate_out")
    val gotRows = got.select("doc_id", "n_emails", "n_ips", "n_phones")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    q.stop()
    // batch composition over the SAME rows
    val batchSrc = (keepable ++ dropped).toDF("doc_id", "text")
    val batch = graft.ops.TextOps.redactPii(
      graft.ops.TextOps.gopherRules(batchSrc, passthroughCols = Seq("text"))
        .filter(col("keep")), passthroughCols = Seq("n_words"))
      .select("doc_id", "n_emails", "n_ips", "n_phones")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(gotRows == batch)
    assert(gotRows.map(_._1).toSet.intersect(Set(900L, 901L)).isEmpty)
    assert(gotRows.forall(r => r._2 == 1L && r._3 == 1L && r._4 == 1L))
  }

  test("drain with maxFilesPerTrigger = 1 reads one staged file per micro-batch") {
    // streaming_funnel's cross-batch state claim rests on this option:
    // three single-file chunks must commit three batches, and the
    // funnel's state must carry the chain across them
    val base = java.nio.file.Files.createTempDirectory("graft-drain-mfpt").toString
    val in = s"$base/in"
    (0 until 3).foreach { step =>
      Seq(StreamingSessionize.FunnelEv(1L, step * 1000L, step, step.toLong)).toDS()
        .repartition(1).write.mode("append").parquet(in)
    }
    val schema = org.apache.spark.sql.Encoders.product[StreamingSessionize.FunnelEv].schema
    def drainFunnel(maxFilesPerTrigger: Int): (Int, Long) = {
      val run = s"$base/run$maxFilesPerTrigger"
      QueryHarness.withConf(spark, "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
        graft.streaming.StreamingJob.drain(spark, schema, in, s"$run/out",
            s"$run/ckpt", maxFilesPerTrigger = maxFilesPerTrigger)(ev =>
          StreamingSessionize.funnelStream(ev.as[StreamingSessionize.FunnelEv],
            nSteps = 3, windowUs = 3600L * 1000000L))
      }
      val commits = new java.io.File(s"$run/ckpt/commits").list()
        .count(_.forall(_.isDigit))
      (commits, spark.read.parquet(s"$run/out").agg(max($"funnel_stage")).head().getLong(0))
    }
    assert(drainFunnel(1) == ((3, 3L)))
    assert(drainFunnel(0) == ((1, 3L)))
  }

  test("appendParquet surfaces a failed run as StreamingQueryException, not a return") {
    val base = java.nio.file.Files.createTempDirectory("graft-stream-fail").toString
    val in = s"$base/in"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
    Seq((1L, "ok"), (2L, "poison"), (3L, "ok")).toDF("id", "tag").write.parquet(in)
    val schema = spark.read.parquet(in).schema
    val projected = spark.readStream.schema(schema).parquet(in)
      .select($"id", when($"tag" === "poison",
        raise_error(lit("poisoned row reached the sink"))).otherwise($"tag").as("tag"))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      graft.streaming.StreamingJob.appendParquet(projected, out, ckpt)
    }
    assert(e.getMessage.contains("poisoned row reached the sink"), e.getMessage)
  }
}
