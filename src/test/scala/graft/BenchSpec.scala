package graft

import org.apache.spark.sql.functions._

/** The bench's own instrumentation contract (r6 verdict item 2, r7
  * verdict item 1): task failures must be attributed to the query that
  * caused them BY JOB OWNERSHIP, and every pass must carry a host-load
  * sample. The attribution test repeats 20× because the r7 time-window
  * scheme failed exactly here, intermittently: killed-sibling TaskEnd
  * events posted after the close-of-window drain bled into the next
  * query's window. Job-ownership attribution makes that structurally
  * impossible — a late event belongs to an old job id — and 20
  * consecutive clean repeats is the verdict's stated bar.
  */
class BenchSpec extends SparkSpec {

  test("task failures are attributed to the flaky query, not its neighbors (20 repeats)") {
    val listener = new TaskFailureListener
    spark.sparkContext.addSparkListener(listener)
    try {
      for (rep <- 1 to 20) {
        // a clean query inside a measured window: zero failures attributed
        val (okSecs, okFailed, okLoad, okRecs, okTasks, okJobs) = Bench.measure(spark, listener) {
          spark.range(1000L).agg(sum(col("id"))).count(): Unit
        }
        assert(okSecs >= 0.0)
        assert(okFailed == 0L, s"rep $rep: clean query charged $okFailed task failures")
        assert(okLoad > 0.0, "loadavg sample missing on this platform")
        // work metrics ride the same ownership scheme: the aggregate's
        // partial→final exchange writes at least one shuffle record, and
        // every window owns at least its own tasks and jobs
        assert(okTasks > 0L, s"rep $rep: no tasks attributed to a query that ran")
        assert(okJobs > 0L, s"rep $rep: no jobs attributed to a query that ran")
        assert(okRecs > 0L, s"rep $rep: the aggregate's exchange wrote no attributed records")

        // the deliberately flaky query: raise_error fails its task (and in
        // local mode, with spark.task.maxFailures=1, the job) — measure
        // must record the -1.0 sentinel AND charge the failure to THIS
        // window's jobs
        // (a bare raise_error PROJECTION would be column-pruned under
        // count(); the assert_true filter is load-bearing for the count)
        val (badSecs, badFailed, _, _, _, _) = Bench.measure(spark, listener) {
          spark.range(10L).filter(assert_true(col("id") < 5L).isNull)
            .count(): Unit
        }
        assert(badSecs == -1.0, s"rep $rep: a throwing query must record the sentinel")
        assert(badFailed >= 1L, s"rep $rep: the flaky query's task failure went unattributed")

        // and the window AFTER the flaky one is clean again — a killed
        // sibling's late TaskEnd belongs to the PREVIOUS window's job id,
        // so it cannot be charged here no matter when it arrives
        val (_, afterFailed, _, _, _, _) = Bench.measure(spark, listener) {
          spark.range(1000L).agg(sum(col("id"))).count(): Unit
        }
        assert(afterFailed == 0L,
          s"rep $rep: flaky query's failures bled into the next window: $afterFailed")
      }
      // every failure found an owning job — the FIFO-bus invariant held
      assert(listener.unowned == 0L,
        s"${listener.unowned} failures had no stage-to-job mapping")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a task killed mid-write lands in the killed counter, not in failures") {
    // The r6–r8 bench tails carried anonymous FileFormatWriter ERROR
    // stacks from tasks KILLED while writing (cleanup of a cancelled
    // job) with task_failures: {} — correct (a kill is not a fault)
    // but unaccounted. The lifetime `killed` counter gives every such
    // stack a named home in the artifact (r8 verdict #1).
    val listener = new TaskFailureListener
    spark.sparkContext.addSparkListener(listener)
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("graft-killed").toString
    try {
      val killedBefore = listener.killed
      // a 32-task write whose every task sleeps, cancelled mid-flight:
      // the cancel arrives while tasks are inside the parquet writer —
      // the exact killed-mid-write shape behind the tail stacks
      import spark.implicits._
      val slow = sc.parallelize(0 until 32, 32)
        .map { i => Thread.sleep(10000); i }.toDF("v")
      sc.setJobGroup("graft-bench-kill-test", "killed-mid-write", true)
      // gate the cancel on a task ACTUALLY running — a fixed timer
      // races job startup under host contention and can cancel a job
      // with zero launched tasks (no TaskKilled to count) or miss the
      // group entirely
      val started = new java.util.concurrent.CountDownLatch(1)
      val startGate = new org.apache.spark.scheduler.SparkListener {
        override def onTaskStart(
            e: org.apache.spark.scheduler.SparkListenerTaskStart): Unit =
          started.countDown()
      }
      sc.addSparkListener(startGate)
      val canceller = new Thread(() => {
        started.await(60, java.util.concurrent.TimeUnit.SECONDS): Unit
        Thread.sleep(500) // let siblings reach their sleep (mid-"write")
        sc.cancelJobGroup("graft-bench-kill-test")
      })
      canceller.start()
      intercept[Throwable] {
        slow.write.mode("overwrite").parquet(s"$dir/out")
      }
      canceller.join()
      sc.removeSparkListener(startGate)
      sc.clearJobGroup()
      // a measured window AFTER the cancel quiesces + drains the bus;
      // the kills must be counted but NOT charged as failures there
      val (_, failed, _, _, _, _) = Bench.measure(spark, listener) {
        spark.range(1000L).agg(sum(col("id"))).count(): Unit
      }
      assert(listener.killed > killedBefore,
        s"killed-mid-write tasks went uncounted (killed=${listener.killed})")
      assert(failed == 0L,
        s"kills must not be charged as task failures, got $failed")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir)): Unit
    }
  }

  test("a STREAM stopped mid-write lands its killed tasks in the counter") {
    // The exact shape behind the r6–r8 tail stacks: an AvailableNow
    // stream's parquet-sink task killed by stop() while writing
    // (FileFormatWriter ERROR stack, no task failure). The lifetime
    // killed counter must name it.
    val listener = new TaskFailureListener
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val base = java.nio.file.Files.createTempDirectory("graft-skill").toString
    try {
      import spark.implicits._
      spark.range(0, 8, 1, 8).write.parquet(s"$base/in")
      val killedBefore = listener.killed
      val started = new java.util.concurrent.CountDownLatch(1)
      val startGate = new org.apache.spark.scheduler.SparkListener {
        override def onTaskStart(
            e: org.apache.spark.scheduler.SparkListenerTaskStart): Unit =
          started.countDown()
      }
      sc.addSparkListener(startGate)
      val q = spark.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType))))
        .parquet(s"$base/in").as[Long]
        .map { v => Thread.sleep(10000); v }
        .writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      // stop once a sink task is genuinely mid-write
      assert(started.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "no stream task started within 60s")
      Thread.sleep(500)
      q.stop()
      sc.removeSparkListener(startGate)
      // quiesce + drain via a measured window; the stream's killed
      // write tasks must be counted but never charged as failures
      val (_, failed, _, _, _, _) = Bench.measure(spark, listener) {
        spark.range(1000L).agg(sum(col("id"))).count(): Unit
      }
      assert(listener.killed > killedBefore,
        s"stream-stop kills went uncounted (killed=${listener.killed})")
      assert(failed == 0L, s"stream kills charged as failures: $failed")
    } finally {
      sc.removeSparkListener(listener)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base)): Unit
    }
  }

  test("loadAvg1m reads a plausible host load") {
    val l = Bench.loadAvg1m()
    assert(l >= 0.0 && l < 10000.0, s"loadavg $l")
  }

  test("a shuffle-free window attributes tasks but zero shuffle records") {
    // the discriminating pair for the work metric: a narrow collect runs
    // tasks with no exchange, so its window must read records == 0 —
    // anything else means records bleed across windows and the
    // cross-round record diff (the wall-immune plan adjudicator) is
    // untrustworthy
    val listener = new TaskFailureListener
    spark.sparkContext.addSparkListener(listener)
    try {
      val (_, _, _, recs, tasks, jobs) = Bench.measure(spark, listener) {
        spark.range(10L).collect(): Unit
      }
      assert(tasks > 0L, "no tasks attributed to a collect that ran")
      assert(jobs == 1L, s"a one-job collect was charged $jobs jobs")
      assert(recs == 0L, s"a scan-only collect was charged $recs shuffle records")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  // 264 queries with suite-like names and values: the inline line of a
  // full suite, about 14 KB
  private def suite(n: Int) = {
    val names = (0 until n).map(i => f"query_family_${i % 17}%02d_variant_$i%03d")
    (names.map(n => s"\"$n\":12.345").mkString("{", ",", "}"),
      names.map(n => s"\"$n\":1723386").mkString("{", ",", "}"))
  }
  private val fullSuite = suite(264)
  private val head = "\"metric\":\"total\",\"value\":227.918,\"unit\":\"sec\""
  private val rest = "\"sf\":\"/data/sf0.1\",\"n_queries\":264,\"n_errors\":0,\"cpus\":32"

  test("the total line under the cap keeps the inline maps byte-for-byte") {
    val (qs, recs) = fullSuite
    val line = Bench.totalLine(head, qs, rest, recs)
    assert(line.length > 12000 && line.length < Bench.TotalLineCap, line.length)
    assert(line == s"{$head,\"queries\":$qs,$rest,\"shuffle_records\":$recs," +
      "\"queries_file\":\"bench_out.json\"}")
  }

  test("the total line over the cap drops the inline maps and says so") {
    val (qs, recs) = fullSuite
    val full = Bench.totalLine(head, qs, rest, recs)
    val cut = Bench.totalLine(head, qs, rest, recs, cap = full.length - 1)
    assert(cut == s"{$head,$rest,\"queries_file\":\"bench_out.json\"," +
      "\"inline_maps_dropped\":true}")
    // the cap is inclusive: a line of exactly `cap` bytes is kept whole
    assert(Bench.totalLine(head, qs, rest, recs, cap = full.length) == full)
    // a suite five times larger crosses the default cap
    val (big, bigRecs) = suite(5 * 264)
    val bigLine = Bench.totalLine(head, big, rest, bigRecs)
    assert(bigLine.contains("\"inline_maps_dropped\":true") &&
      !bigLine.contains("\"queries\":") && bigLine.length < Bench.TotalLineCap)
  }

  test("a bench pass off the default 32 cores archives under a _c suffix") {
    assert(Bench.archiveName(16, "32") == "bench_out_r16.json")
    assert(Bench.archiveName(16, "8") == "bench_out_r16_c8.json")
    assert(Bench.archiveName(7, "4") == "bench_out_r07_c4.json")
  }
}
