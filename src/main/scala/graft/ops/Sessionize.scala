package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gap-based sessionization — the semantic core of the reference
  * (SessionizationBuiltIn.scala:68–113, SURVEY.md §2.6 W1–W4).
  *
  * Semantics preserved exactly from the reference:
  *  - a session breaks when the gap from the previous event of the same
  *    user is STRICTLY greater than `gapSec` (gap == gapSec continues the
  *    session — SessionizationBuiltIn.scala:89);
  *  - the session id is derived from the session's FIRST event
  *    (SessionizationBuiltIn.scala:76–77, 97–107).
  *
  * Implementation differs from the reference deliberately (SURVEY.md §7.2):
  * instead of the null-seed + `last(ignoreNulls)` forward fill, we mark
  * boundaries with lag() and assign a per-user ordinal with a running sum
  * over ROWS UNBOUNDED PRECEDING. This is the same single-shuffle plan
  * shape (one hash exchange on the user key + one sort) but deterministic
  * under ties because we always order by (ts, tieCols...).
  *
  * Scale posture: exactly one shuffle (hash exchange on `userCol`), one
  * sort per partition, no driver-side state. Skewed users are bounded by
  * per-user event counts, not table size, so the plan survives 100 TB as
  * long as no single user exceeds a partition (true for clickstreams) —
  * MEASURED boundary: a single 10^6-event user (a bot, ~100× a heavy
  * human) completes the whole W1–W4 chain in one window task in ~5 s
  * (ScaleSpec "hot user" pins this), and a 10^7-event user — past any
  * sane in-memory window buffer — completes in ~14 s WITH the buffer
  * spilling ~270 MiB to disk (ScaleSpec "window spill boundary" pins
  * disk bytes > 0). The knobs that govern that regime:
  * `spark.sql.windowExec.buffer.in.memory.threshold` (rows buffered as
  * JVM objects before switching to the unsafe sorter) and
  * `spark.sql.windowExec.buffer.spill.threshold` (sorter rows per disk
  * spill) — size them DOWN on memory-tight executors; the chain
  * degrades to disk gracefully instead of OOMing, so a bot user at
  * 100 TB is a slow task, never a dead one. Low-cardinality rollups DOWNSTREAM
  * of sessionization (histogram-style groupBys) must not re-serialize
  * the hot key into one reducer: route them through the salted
  * two-phase pre-aggregation ([[Skew.saltedSumCount]], equivalence
  * proven in the same spec).
  */
object Sessionize {
  val DefaultGapSec = 1800L

  private def userWindow(userCol: String, tsCol: String, tieCols: Seq[String]) =
    Window.partitionBy(userCol).orderBy(col(tsCol) +: tieCols.map(col): _*)

  /** Adds `session_no`: 1-based ordinal of the session within each user's
    * timeline. Gap rule: strict `> gapSec` starts a new session (W1+W2).
    * No id is minted — the lightweight form when only session counts or
    * boundaries are needed.
    */
  def withSessionNo(
      df: DataFrame,
      userCol: String = "user_id",
      tsCol: String = "ts",
      tieCols: Seq[String] = Seq("event_id"),
      gapSec: Long = DefaultGapSec): DataFrame = {
    val w = userWindow(userCol, tsCol, tieCols)
    val gapUs = gapSec * 1000000L
    df.withColumn("__prev_us", lag(unix_micros(col(tsCol)), 1).over(w))
      .withColumn(
        "__boundary",
        when(col("__prev_us").isNull ||
          unix_micros(col(tsCol)) - col("__prev_us") > gapUs, 1L).otherwise(0L))
      .withColumn(
        "session_no",
        sum(col("__boundary")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__prev_us", "__boundary")
  }

  /** Adds `session_id`: sha2-256 of "<user>-<epoch_us of session's first
    * event>" — the reference's id scheme (SessionizationBuiltIn.scala:76–77)
    * with the hash input standardized to epoch micros (SURVEY.md §8 W2: the
    * reference has two incompatible formats; we pick one explicit one).
    * No extra shuffle: min(ts) over (user, session_no) reuses the same
    * hash partitioning as session_no's window.
    */
  def withSessionId(
      df: DataFrame,
      userCol: String = "user_id",
      tsCol: String = "ts",
      tieCols: Seq[String] = Seq("event_id"),
      gapSec: Long = DefaultGapSec): DataFrame =
    assignIds(df, userCol, tsCol, tieCols, gapSec, carried = None)

  /** Shared W1–W4 chain, ONE exchange total: lag → boundary flag →
    * running-sum session_no → boundary-row id (carried if present, else
    * minted sha2 of "<user>-<epoch µs of the boundary event>") →
    * last(ignoreNulls) forward fill — the reference's own propagation
    * pattern (SBI:104–108), deterministic here because the window always
    * orders by (ts, tieCols). Every window sits on the same partitioning
    * and ordering, so Spark plans a single Exchange + Sort with chained
    * WindowExecs.
    */
  private def assignIds(df: DataFrame, userCol: String, tsCol: String,
      tieCols: Seq[String], gapSec: Long, carried: Option[String]): DataFrame = {
    val w = userWindow(userCol, tsCol, tieCols)
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gapUs = gapSec * 1000000L
    val minted = sha2(concat_ws("-", col(userCol).cast("string"),
      unix_micros(col(tsCol)).cast("string")), 256)
    val boundaryId = carried match {
      case Some(c) => coalesce(col(c), minted)
      case None => minted
    }
    df.withColumn("__prev_us", lag(unix_micros(col(tsCol)), 1).over(w))
      .withColumn(
        "__boundary",
        when(col("__prev_us").isNull ||
          unix_micros(col(tsCol)) - col("__prev_us") > gapUs, 1L).otherwise(0L))
      .withColumn("session_no", sum(col("__boundary")).over(wRun))
      .withColumn("__seed", when(col("__boundary") === 1L, boundaryId))
      .withColumn("session_id", last(col("__seed"), ignoreNulls = true).over(wRun))
      .drop("__prev_us", "__boundary", "__seed")
  }

  /** Like [[withSessionId]] but honors ids carried in from a previous
    * batch (reference W3 3-way seeding, SessionizationBuiltIn.scala:97–103):
    * rows arriving with a non-null `carryCol` keep that id for their whole
    * session; sessions with no carried row mint the sha2 id. All carried
    * rows of a user lie in one session (they are under one gap apart), so
    * the first seeds the id and `last(ignoreNulls)` carries it to the rest.
    */
  def withCarriedSessionId(
      df: DataFrame,
      userCol: String = "user_id",
      tsCol: String = "ts",
      tieCols: Seq[String] = Seq("event_id"),
      gapSec: Long = DefaultGapSec,
      carryCol: String = "session_id"): DataFrame =
    assignIds(df.withColumnRenamed(carryCol, "__carried"),
      userCol, tsCol, tieCols, gapSec, carried = Some("__carried"))
      .drop("__carried")
      .withColumnRenamed("session_id", carryCol)

  /** Latest row per session that is still active at `boundaryUs − gap`
    * (reference loadPrevActiveSessions, SessionizationBuiltIn.scala:117–134;
    * SURVEY.md W5+P5+P4). Boundary edge is INCLUSIVE (>=, SBI:129).
    */
  def activeLatestPerSession(
      df: DataFrame,
      boundaryUs: Long,
      sessionCol: String = "session_id",
      tsCol: String = "ts",
      tieCols: Seq[String] = Seq("event_id"),
      gapSec: Long = DefaultGapSec): DataFrame = {
    val cutoff = boundaryUs - gapSec * 1000000L
    val w = Window.partitionBy(sessionCol)
      .orderBy(col(tsCol).desc +: tieCols.map(col(_).desc): _*)
    df.filter(unix_micros(col(tsCol)) >= cutoff)
      .withColumn("__rank", row_number().over(w))
      .filter(col("__rank") === 1)
      .drop("__rank")
  }

  /** Time-constrained funnel (the ClickHouse `windowFunnel` shape): per
    * user, the deepest step k reachable through an ordered event chain
    * t₁ ≤ t₂ ≤ … ≤ t_k with every step inside `windowSec` of the
    * chain's FIRST step (t_k − t₁ ≤ W suffices — intermediate steps
    * precede t_k). [[graft.queries.SessionQueries]]' `session_funnel`
    * is the session-scoped cousin; this one answers "converted within
    * an hour" regardless of session boundaries.
    *
    * Exact one-pass formulation instead of per-step self-joins: chains
    * that START LATEST dominate (a later t₁ can only make t_k − t₁
    * smaller), so one conditional running max per step suffices —
    * r₁ = running max of step-1 timestamps; rₛ = running max, over
    * step-s rows, of r₍ₛ₋₁₎ at that row, kept only when the window
    * still holds (the check applies at EVERY step, which also caps
    * intermediate gaps). All k windows share ONE user-keyed sort
    * (PlanSpec: a single exchange; the final per-user max reuses the
    * partitioning). Ties on ts break by `tieCols` and a same-timestamp
    * later step counts (t₂ = t₁ is a valid chain), identically in the
    * DuckDB oracle.
    *
    * Output: (userCol, funnel_stage) with funnel_stage ∈ [0, k] — 0 =
    * the user has events but never step 1. Users with no events don't
    * appear (no rows, no stage).
    */
  def windowFunnel(
      df: DataFrame,
      steps: Seq[String],
      windowSec: Long,
      userCol: String = "user_id",
      tsCol: String = "ts",
      typeCol: String = "event_type",
      tieCols: Seq[String] = Seq("event_id")): DataFrame = {
    require(steps.nonEmpty, "windowFunnel: steps must be non-empty")
    require(steps.distinct.size == steps.size,
      "windowFunnel: repeated step types are ambiguous — a row matching " +
        "two stages would double-advance the chain; rename or dedupe steps")
    require(windowSec > 0, s"windowFunnel: windowSec must be > 0, got $windowSec")
    val wUs = windowSec * 1000000L
    val w = Window.partitionBy(userCol)
      .orderBy(col(tsCol) +: tieCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tsUs = unix_micros(col(tsCol))
    // r1: latest step-1 start seen so far; rs (s>1): latest chain start
    // among chains reaching step s by the current row
    val withStarts = steps.zipWithIndex.foldLeft(
        df.select(col(userCol) +: col(tsCol) +: col(typeCol) +:
          tieCols.map(col): _*)) { case (acc, (step, i)) =>
      val startAtRow =
        if (i == 0) when(col(typeCol) === step, tsUs)
        else when(col(typeCol) === step &&
            tsUs - col(s"__r${i - 1}") <= wUs, col(s"__r${i - 1}"))
      acc.withColumn(s"__r$i", max(startAtRow).over(w))
    }
    // deepest step with a surviving chain start, per user — the fold
    // wraps later steps OUTERMOST (when(r_k)…otherwise(when(r_{k−1})…)),
    // so the deepest reached stage wins
    val stage = steps.indices.foldLeft(lit(0)) { (acc, i) =>
      when(col(s"__r$i").isNotNull, lit(i + 1)).otherwise(acc)
    }
    withStarts
      .select(col(userCol), stage.as("__stage"))
      .groupBy(col(userCol))
      .agg(max(col("__stage")).cast("long").as("funnel_stage"))
  }
}
