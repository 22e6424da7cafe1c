package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{Sessionize, TextOps}
import graft.queries.QueryHarness.{drained, staged, tempDir, withConf}
import graft.streaming.{StreamingAnn, StreamingJob, StreamingSessionize}

/** Sessionization query surface (SURVEY.md §2.6 W1–W5, §2.2 P4–P6) over the
  * `events` testdata table, each with a DuckDB oracle.
  *
  * Portability rules used throughout the oracle pairs (SURVEY.md §7.5):
  *  - timestamps are compared as epoch microseconds (both engines read the
  *    ns parquet column truncated to µs);
  *  - money/values are converted to integer cents BEFORE aggregation so
  *    sums are exact integers in both engines (per-row IEEE-754 scalar
  *    math is engine-independent; only aggregation order is not);
  *  - every result has a deterministic total ORDER BY including a unique
  *    tie-breaker.
  */
object SessionQueries {

  /** transformWithState refuses the default HDFS-backed state store. */
  private val RocksDbProvider = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** (doc_id, text) — the schema of the staged documents input. */
  private val DocSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("text",
      org.apache.spark.sql.types.StringType)))

  /** Staged (events + watermark sentinel) parquet input for the streaming
    * query, created ONCE per sfDir per JVM. Round-4 scaffolding cost: a
    * full corpus rewrite PLUS a separate `agg(max).head()` pass on every
    * invocation — two extra corpus scans that measured the harness, not
    * the engine. Here max(ts) is observed INSIDE the single staging write
    * (`observe` rides the write job; no extra action), the sentinel row is
    * a one-row append, and an empty events table fails loudly instead of
    * NPE-ing on a null max.
    */
  private def stagedStreamInput(spark: SparkSession, dir: String): String =
    staged("stream", dir) { in =>
      import spark.implicits._
      val ev = Tables.events(spark, dir).select($"user_id", $"ts", $"event_id")
      val obs = org.apache.spark.sql.Observation()
      ev.observe(obs, max($"ts").as("max_ts")).write.parquet(in)
      val maxTs = obs.get("max_ts").asInstanceOf[java.sql.Timestamp]
      require(maxTs != null,
        s"streaming_session_agg: events at $dir is empty — cannot place a watermark sentinel")
      Seq((-999L, new java.sql.Timestamp(maxTs.getTime + 7200L * 1000L), -1L))
        .toDF("user_id", "ts", "event_id")
        .write.mode("append").parquet(in)
    }

  /** Staged DOUBLED events input for the streaming-dedup query: every
    * row written twice (two appends), so the dedup stream has real
    * replays to suppress.
    */
  private def stagedDupInput(spark: SparkSession, dir: String): String =
    staged("dedup", dir) { in =>
      import spark.implicits._
      val ev = Tables.events(spark, dir).select($"user_id", $"ts", $"event_id")
      ev.write.parquet(in)
      ev.write.mode("append").parquet(in)
    }

  /** Plain (doc_id, text) documents staged to parquet files — the
    * streaming-classify input.
    */
  private def stagedDocsInput(spark: SparkSession, dir: String): String =
    staged("docs", dir) { in =>
      graft.Tables.documents(spark, dir).select(col("doc_id"), col("text"))
        .repartition(4).write.parquet(in)
    }

  /** Staged planted-PII documents input for the streaming-curation
    * query (the pii_redact fixture: a deterministic email + IPv4 +
    * phone derived from doc_id appended to each text, so both engines
    * compute the identical input).
    */
  private def stagedCurateInput(spark: SparkSession, dir: String): String =
    staged("curate", dir) { in =>
      TextQueries.plantPii(graft.Tables.documents(spark, dir))
        .write.parquet(in)
    }

  /** Staged events input WITH event_type for the stream-stream join
    * query.
    */
  private def stagedJoinInput(spark: SparkSession, dir: String): String =
    staged("join", dir) { in =>
      import spark.implicits._
      Tables.events(spark, dir)
        .select($"user_id", $"ts", $"event_id", $"event_type")
        .write.parquet(in)
    }

  /** Staged events input for the OUTER streaming join: real events plus
    * one far-future sentinel per join branch (a 'view' and a 'purchase'
    * with distinct negative users, 90 days past max(ts)), so the final
    * watermark passes every real view's join window and the unmatched
    * views flush. max(ts) is observed inside the staging write — no
    * extra scan.
    */
  private def stagedOuterJoinInput(spark: SparkSession, dir: String): String =
    staged("ojoin", dir) { in =>
      import spark.implicits._
      val ev = Tables.events(spark, dir)
        .select($"user_id", $"ts", $"event_id", $"event_type")
      val obs = org.apache.spark.sql.Observation()
      ev.observe(obs, max($"ts").as("max_ts")).write.parquet(in)
      val maxTs = obs.get("max_ts").asInstanceOf[java.sql.Timestamp]
      require(maxTs != null,
        s"streaming_join_outer: events at $dir is empty — cannot place watermark sentinels")
      val far = new java.sql.Timestamp(maxTs.getTime + 90L * 24 * 3600 * 1000)
      Seq((-999L, far, -1L, "view"), (-998L, far, -2L, "purchase"))
        .toDF("user_id", "ts", "event_id", "event_type")
        .write.mode("append").parquet(in)
    }

  /** Staged (vec_id, embedding) input for the streaming IVF-assign
    * query — written as TWO appends (split on vec_id) so the file
    * source CAN split the listing into micro-batches; the assignment is
    * stateless, so any split must produce the identical output.
    */
  private def stagedEmbInput(spark: SparkSession, dir: String): String =
    staged("ivfassign", dir) { in =>
      import spark.implicits._
      val emb = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
      emb.filter($"vec_id" % 2 === 0).write.parquet(in)
      emb.filter($"vec_id" % 2 =!= 0).write.mode("append").parquet(in)
    }

  /** Staged (user_id, event_id, cents) input for the transformWithState
    * totals query.
    */
  private def stagedTotalsInput(spark: SparkSession, dir: String): String =
    staged("tws", dir) { in =>
      import spark.implicits._
      Tables.events(spark, dir)
        .select($"user_id", $"event_id",
          round($"value" * 100).cast("long").as("cents"))
        .write.parquet(in)
    }

  /** Two consecutive hours of the corpus picked for the production-job
    * query: the fixed mid-range boundary (same instant as [[BoundaryUs]])
    * guarantees data on both sides at every SF.
    */
  private val JobHourLoUs = 1705276800000000L // 2024-01-15 00:00:00 UTC
  private val JobHourHiUs = JobHourLoUs + 2L * 3600000000L

  /** Hour-partitioned Hive `logs/` layout for [[graft.jobs.SessionizeHour]]:
    * events in the two chosen hours are mapped onto the reference's
    * behavior schema (event_time as the literal-UTC SECOND-granularity
    * string, BS:4 — the oracle truncates to seconds to match) and
    * written partitioned by (event_date, event_hour).
    */
  private def stagedJobLogs(spark: SparkSession, dir: String): String =
    staged("hour-logs", dir) { logs =>
      import spark.implicits._
      val behaviors = Tables.events(spark, dir)
        .filter(unix_micros($"ts") >= JobHourLoUs && unix_micros($"ts") < JobHourHiUs)
        .select(
          concat(date_format($"ts", "yyyy-MM-dd HH:mm:ss"), lit(" UTC")).as("event_time"),
          $"event_type",
          $"event_id".as("product_id"),
          lit(0L).as("category_id"),
          lit("c0").as("category_code"),
          lit("b0").as("brand"),
          $"value".as("price"),
          $"user_id")
      graft.jobs.Ingest.derivePartitions(behaviors)
        .repartition(col("event_date"), col("event_hour"))
        .write.partitionBy("event_date", "event_hour")
        .mode("overwrite").parquet(logs)
    }

  /** Events up to the fixed mid-range boundary used by active-session tests. */
  private val BoundaryUs = 1705276800000000L // 2024-01-15 00:00:00 UTC

  /** Shared by `window_funnel` and `streaming_funnel`: the DuckDB
    * replay of the latest-start-dominates running-max windows — the
    * streamed form's oracle is DELIBERATELY the batch form's (state ≡
    * fold is the claim under test).
    */
  private val WindowFunnelOracle: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS tus, event_type, event_id FROM events),
      |w1 AS (SELECT *, max(CASE WHEN event_type = 'view' THEN tus END)
      |         OVER (PARTITION BY user_id ORDER BY tus, event_id
      |               ROWS UNBOUNDED PRECEDING) AS r0 FROM e),
      |w2 AS (SELECT *, max(CASE WHEN event_type = 'click' AND tus - r0 <= 3600000000 THEN r0 END)
      |         OVER (PARTITION BY user_id ORDER BY tus, event_id
      |               ROWS UNBOUNDED PRECEDING) AS r1 FROM w1),
      |w3 AS (SELECT *, max(CASE WHEN event_type = 'purchase' AND tus - r1 <= 3600000000 THEN r1 END)
      |         OVER (PARTITION BY user_id ORDER BY tus, event_id
      |               ROWS UNBOUNDED PRECEDING) AS r2 FROM w2)
      |SELECT user_id,
      |       max(CASE WHEN r2 IS NOT NULL THEN 3 WHEN r1 IS NOT NULL THEN 2
      |                WHEN r0 IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS funnel_stage
      |FROM w3 GROUP BY user_id ORDER BY user_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sessionize_counts" -> { (spark, dir) =>
      import spark.implicits._
      val s = Sessionize.withSessionNo(Tables.events(spark, dir))
      s.groupBy($"user_id", $"session_no")
        .agg(
          count(lit(1)).as("n_events"),
          min(unix_micros($"ts")).as("start_us"),
          max(unix_micros($"ts")).as("end_us"),
          sum(round($"value" * 100).cast("long")).as("value_cents"))
        .orderBy("user_id", "session_no")
    },

    "sessionize_ids" -> { (spark, dir) =>
      import spark.implicits._
      Sessionize.withSessionId(Tables.events(spark, dir))
        .select($"event_id", $"user_id", $"session_no", $"session_id")
        .orderBy("event_id")
    },

    "active_sessions" -> { (spark, dir) =>
      import spark.implicits._
      val upToBoundary = Tables.events(spark, dir)
        .filter(unix_micros($"ts") <= BoundaryUs)
      val sessions = Sessionize.withSessionId(upToBoundary)
      Sessionize.activeLatestPerSession(sessions, BoundaryUs)
        .select($"session_id", $"user_id", $"event_id",
          unix_micros($"ts").as("ts_us"))
        .orderBy("session_id")
    },

    "sessionize_hof" -> { (spark, dir) =>
      // The reference's deprecated array path (SUDF surface): groupBy +
      // collect_list(struct) + array_sort + HOFs + explode, no UDF.
      // Must produce the same session numbering as the window path.
      import spark.implicits._
      graft.ops.SessionizeArrays.sessionNumbers(Tables.events(spark, dir))
        .select($"event_id", $"user_id", $"session_no")
        .orderBy("event_id")
    },

    "session_funnel" -> { (spark, dir) =>
      // Ordered conversion funnel within sessions: view → click →
      // purchase, each stage requiring the previous stage to have
      // happened EARLIER in the same session (compared on first
      // occurrence). The commerce-analytics read on the session core.
      import spark.implicits._
      val s = Sessionize.withSessionNo(Tables.events(spark, dir))
      val per = s.groupBy($"user_id", $"session_no").agg(
        min(when($"event_type" === "view", unix_micros($"ts"))).as("t_view"),
        min(when($"event_type" === "click", unix_micros($"ts"))).as("t_click"),
        min(when($"event_type" === "purchase", unix_micros($"ts"))).as("t_buy"))
      per.select(
          ($"t_view".isNotNull).as("s1"),
          ($"t_view".isNotNull && $"t_click" > $"t_view").as("s2"),
          ($"t_view".isNotNull && $"t_click" > $"t_view" && $"t_buy" > $"t_click").as("s3"))
        .agg(count(lit(1)).as("n_sessions"),
          sum($"s1".cast("long")).as("reached_view"),
          sum($"s2".cast("long")).as("reached_click"),
          sum($"s3".cast("long")).as("reached_purchase"))
    },

    "window_funnel" -> { (spark, dir) =>
      // Time-constrained funnel (the ClickHouse windowFunnel shape):
      // per user, the deepest view → click → purchase chain whose
      // every step lands within ONE HOUR of the chain's first step —
      // session boundaries don't matter, the clock does. One exchange:
      // the chains-that-start-latest-dominate argument turns the
      // per-step self-joins into k conditional running maxes over one
      // user-keyed sort; the oracle replays the same windows, so the
      // dominance argument itself is cross-engine pinned per user.
      import spark.implicits._
      Sessionize.windowFunnel(Tables.events(spark, dir),
          Seq("view", "click", "purchase"), windowSec = 3600L)
        .orderBy($"user_id")
    },

    "bounce_rate" -> { (spark, dir) =>
      // Single-event-session fraction — the classic engagement KPI on
      // the session core: one session window chain, one aggregate,
      // rate as exact milli-units (integer cross-division).
      import spark.implicits._
      val s = Sessionize.withSessionNo(Tables.events(spark, dir))
      s.groupBy($"user_id", $"session_no")
        .agg(count(lit(1)).as("n_events"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(($"n_events" === 1).cast("long")).as("n_bounces"))
        .select($"n_sessions", $"n_bounces",
          expr("(1000 * n_bounces) DIV n_sessions").as("bounce_rate_milli"))
    },

    "weekly_cohorts" -> { (spark, dir) =>
      // Cohort retention: users grouped by first-seen week, counted
      // distinct per (cohort, weeks-since) — day arithmetic on epoch
      // micros so both engines bucket identically.
      import spark.implicits._
      // floor, not cast: Spark's double→long cast truncates while
      // DuckDB's rounds — floor is identical in both.
      val ev = Tables.events(spark, dir)
        .select($"user_id", floor(unix_micros($"ts") / lit(86400000000L)).as("day"))
      val firstDay = ev.groupBy($"user_id").agg(min($"day").as("first_day"))
      ev.join(firstDay, "user_id")
        .select($"user_id", floor($"first_day" / 7).as("cohort_week"),
          floor(($"day" - $"first_day") / 7).as("week_offset"))
        .groupBy($"cohort_week", $"week_offset")
        .agg(countDistinct($"user_id").as("n_users"))
        .orderBy("cohort_week", "week_offset")
    },

    "session_window_agg" -> { (spark, dir) =>
      // Spark's NATIVE session_window in batch mode — the declarative
      // form of the gap rule that Catalyst plans without a window
      // function (MergingSessions aggregation). Boundary semantics MATCH
      // the reference's lag-based `time_diff > 1800` rule: an event at
      // exactly window end merges (verified by SessionizeSpec t1c), so
      // the oracle splits strictly on gap > 30 min.
      import spark.implicits._
      Tables.events(spark, dir)
        .groupBy($"user_id", session_window($"ts", "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"),
          sum(round($"value" * 100).cast("long")).as("value_cents"))
        .select($"user_id", unix_micros($"sw.start").as("start_us"),
          unix_micros($"sw.end").as("end_us"), $"n_events", $"value_cents")
        .orderBy("user_id", "start_us")
    },

    "streaming_session_agg" -> { (spark, dir) =>
      // The STREAMING ENGINE PATH, driven end-to-end through the
      // driver's oracle gate: parquet file source → watermark →
      // session_window aggregation → append-mode parquet sink with
      // checkpoint (AvailableNow trigger). A sentinel event 2h past the
      // corpus maximum pushes the final watermark beyond every real
      // session's close, so append mode must emit ALL real sessions —
      // making the streaming output row-for-row comparable to the
      // batch gap-rule oracle (the StreamingSpec sf0.01 recipe).
      //
      // The input is staged ONCE per sfDir per JVM (see
      // [[stagedStreamInput]]); only the stream itself — the engine
      // path under test — re-runs per invocation, into fresh out/ckpt
      // dirs that are removed on JVM exit.
      import spark.implicits._
      val in = stagedStreamInput(spark, dir)
      val schema = Tables.events(spark, dir)
        .select($"user_id", $"ts", $"event_id").schema
      drained(spark, "graft-stream-q") { (out, ckpt) =>
        StreamingJob.run(spark, schema, in, out, ckpt)
      }.filter($"user_id" =!= -999L)
        .select($"user_id",
          unix_micros($"session_start").as("start_us"),
          unix_micros($"session_end").as("end_us"),
          $"n_events", $"first_event", $"last_event")
        .orderBy("user_id", "start_us")
    },

    "streaming_curate" -> { (spark, dir) =>
      // Streaming corpus curation — the Gopher gate + PII redaction as a
      // STATELESS streaming pipeline (pure projections: no watermark,
      // no state store; each micro-batch curates independently). Input
      // is the planted-PII corpus (the pii_redact fixture), the oracle
      // is the batch gate∘redact composition — batch/stream parity of
      // the curation ops themselves.
      import spark.implicits._
      val in = stagedCurateInput(spark, dir)
      drained(spark, "graft-curate-q") { (out, ckpt) =>
        StreamingJob.drain(spark, DocSchema, in, out, ckpt) { docs =>
          val gated = TextOps.gopherRules(docs, passthroughCols = Seq("text"))
            .filter($"keep")
          // n_words rides through the redaction as a passthrough column:
          // a join here would be stream-stream (state + watermarks) for
          // what is a straight-line projection
          TextOps.redactPii(gated, passthroughCols = Seq("n_words"))
        }
      }.select($"doc_id", $"n_words", $"n_emails", $"n_ips", $"n_phones",
          $"redacted")
        .orderBy("doc_id")
    },

    "streaming_classify" -> { (spark, dir) =>
      // Streaming classifier SERVING — the per-row literal-map scorer
      // (TextOps.linearScore) over a document file stream: zero state,
      // zero shuffle, batch-order-invariant. The weight table is the
      // same md5-derived model as classifier_score, so the oracle IS
      // classifier_score's SQL — the broadcast-join batch form, the
      // literal-map streaming form, and DuckDB all land on identical
      // integer logits.
      import spark.implicits._
      val in = stagedDocsInput(spark, dir)
      val weights: Map[Long, Long] = (0L until 1024L).map { b =>
        b -> (java.lang.Long.parseLong(
          java.security.MessageDigest.getInstance("MD5")
            .digest(b.toString.getBytes("UTF-8")).map(x => f"$x%02x").mkString
            .substring(0, 6), 16) - 8388608L)
      }.toMap
      drained(spark, "graft-classify-q") { (out, ckpt) =>
        StreamingJob.drain(spark, DocSchema, in, out, ckpt)(
          TextOps.linearScore(_, weights, 1024))
      }.select($"doc_id", $"n_tokens", $"logit_micros", $"keep")
        .orderBy("doc_id")
    },

    "streaming_dedup" -> { (spark, dir) =>
      // The SECOND streaming engine path under the driver's oracle:
      // at-least-once ingestion (every event staged TWICE) through
      // dropDuplicatesWithinWatermark → append parquet sink. The
      // output must be exactly the distinct event set — the oracle is
      // the plain events table. State is watermark-bounded (a key
      // expires once the watermark passes its time + delay), so at
      // 100 TB/day state tracks the replay horizon, not the stream.
      import spark.implicits._
      val in = stagedDupInput(spark, dir)
      val schema = Tables.events(spark, dir)
        .select($"user_id", $"ts", $"event_id").schema
      // a 90-day delay covers the staged corpus span: correctness must
      // not depend on the listing landing in ONE AvailableNow batch
      drained(spark, "graft-dedup-q") { (out, ckpt) =>
        StreamingJob.drain(spark, schema, in, out, ckpt)(
          StreamingSessionize.dedupStream(_, delay = "90 days"))
      }.select($"user_id", unix_micros($"ts").as("ts_us"), $"event_id")
        .orderBy("event_id")
    },

    "streaming_band_ingest" -> { (spark, dir) =>
      // Continuous ingest into the STORED dedup index: arriving docs →
      // shingles → PER-ROW MinHash signature (the stateless restatement
      // of the batch aggregate — array folds, no explode-groupBy, so
      // append-legal with no watermark) → the shared bandRows → append
      // (band, doc_id) parquet, i.e. BuildDedupIndex's buckets layout.
      // This is the first query that oracles the LSH BAND MATH itself
      // (dedup_* oracle only the verified pairs): DuckDB recomputes the
      // 24 universal-hash minimums and the 8 md5 band keys and must
      // hash-match every key.
      val in = stagedDocsInput(spark, dir)
      drained(spark, "graft-band-q") { (out, ckpt) =>
        StreamingJob.runBandIngest(spark, DocSchema, in, out, ckpt)
      }.orderBy("doc_id", "band")
    },

    "streaming_postings_ingest" -> { (spark, dir) =>
      // Continuous ingest into the STORED text index: arriving docs →
      // per-row postings (sorted-run-length encoding — the stateless
      // restatement of the batch groupBy, append-legal with no
      // watermark) → append (token, doc, dl, tf, positions) parquet, the row
      // shape BuildTextIndex.compactStreamed folds into the
      // bucket-partitioned store. The oracle recomputes every posting
      // row from raw text, so a drift in the run-length fold (a lost
      // run, an off-by-one length) hash-mismatches.
      val in = stagedDocsInput(spark, dir)
      // positions travel as a '|'-joined key so the ARRAY payload of
      // the positional postings is pinned cross-engine too
      drained(spark, "graft-post-q") { (out, ckpt) =>
        StreamingJob.runPostingsIngest(spark, DocSchema, in, out, ckpt)
      }.select(col("token"), col("doc_id"), col("dl"), col("tf"),
          concat_ws("|", transform(col("positions"),
            p => p.cast("string"))).as("pos_key"))
        .orderBy("token", "doc_id")
    },

    "streaming_sketch_ingest" -> { (spark, dir) =>
      // The stream → counter-store loop end-to-end: occurrences arrive
      // as files, stream out as per-row sketch cells (the stateless
      // restatement of the counter fold — append-legal, no watermark),
      // fold into a real BuildSketchStore batch via compactStreamed,
      // and the stored incremental heavy hitters must equal plain
      // GROUP BY HAVING over the raw tokens — any drift in the cell
      // restatement, the streamed fold, the supersession layout, or
      // the merge hash-mismatches.
      import spark.implicits._
      val base = tempDir("graft-sketch-q")
      val items = graft.Tables.documents(spark, dir)
        .select(explode(split(col("text"), " ")).as("item"))
      val in = s"$base/in"
      items.repartition(4).write.parquet(in)
      val streamed = s"$base/streamed"; val ckpt = s"$base/ckpt"
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("item",
          org.apache.spark.sql.types.StringType)))
      withConf(spark, "spark.sql.shuffle.partitions" -> "8") {
        StreamingJob.runSketchIngest(spark, schema,
          in, streamed, ckpt)
      }
      val out = s"$base/store"
      val empty = s"$base/empty"
      items.limit(0).write.parquet(empty)
      graft.jobs.BuildSketchStore.run(spark, empty, out)
      graft.jobs.BuildSketchStore.compactStreamed(spark, streamed, out)
      graft.jobs.BuildSketchStore.heavyHitters(spark, out, items, 40L)
        .orderBy(col("n_occurrences").desc, col("item"))
    },

    "streaming_profile_ingest" -> { (spark, dir) =>
      // The stream → profile-store loop: event cents stream out as
      // per-row (bucket, cnt=1) cells, fold into a BuildProfileStore
      // batch, and the stored quantile bounds must equal the one-shot
      // histogram derivation — recomputed from raw values in the
      // oracle, so any drift in the per-row restatement, the streamed
      // fold, or the width discipline hash-mismatches.
      import spark.implicits._
      val base = tempDir("graft-prof-stream-q")
      val cents = graft.Tables.events(spark, dir)
        .select(round(col("value") * 100).cast("long").as("cents"))
      val in = s"$base/in"
      cents.repartition(4).write.parquet(in)
      val streamed = s"$base/streamed"; val ckpt = s"$base/ckpt"
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cents",
          org.apache.spark.sql.types.LongType)))
      withConf(spark, "spark.sql.shuffle.partitions" -> "8") {
        StreamingJob.runProfileIngest(spark, schema,
          in, streamed, ckpt, valueCol = "cents", width = 100L)
      }
      val out = s"$base/store"
      val empty = s"$base/empty"
      cents.limit(0).write.parquet(empty)
      graft.jobs.BuildProfileStore.run(spark, empty, out, "cents", 100L)
      graft.jobs.BuildProfileStore.compactStreamed(spark, streamed, out)
      graft.jobs.BuildProfileStore.quantiles(spark, out,
          Seq((1, 2), (9, 10), (99, 100), (999, 1000)))
        .orderBy("rank", "q_den")
    },

    "streaming_ivf_assign" -> { (spark, dir) =>
      // Streaming ingestion into the IVF index, closing the loop between
      // the batch ANN stack and the streaming surface: new vectors
      // arrive as files and are coarse-assigned to the trained centroids
      // (broadcast as ONE array row) by a per-row array_min fold — the
      // batch argmin window restated stateless, so it is append-legal
      // and needs no watermark. Exact integer L2 with centroid-id
      // tie-break; the oracle is the batch assignment itself.
      import spark.implicits._
      val in = stagedEmbInput(spark, dir)
      val emb = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
      val centroids = emb.filter($"vec_id" < 8)
      drained(spark, "graft-ivfassign-q") { (out, ckpt) =>
        StreamingJob.drain(spark, emb.schema, in, out, ckpt)(
          StreamingAnn.ivfAssignStream(_, centroids))
      }.orderBy("vec_id")
    },

    "streaming_index_ingest" -> { (spark, dir) =>
      // The streaming ANN capstone: coarse IVF assignment AND the four
      // PQ codes per arriving vector in ONE stateless pass — everything
      // ivfpq_topk's ADC search needs, so newly streamed vectors are
      // searchable without touching the batch corpus again. Centroids
      // and sub-codebook are the vec_id < 8 vectors (the same
      // deterministic devices as ivf_topk / pq_codes); the oracle is
      // the batch assignment joined to the batch codes.
      import spark.implicits._
      val in = stagedEmbInput(spark, dir)
      val emb = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
      val book = emb.filter($"vec_id" < 8)
      drained(spark, "graft-ingest-q") { (out, ckpt) =>
        StreamingJob.drain(spark, emb.schema, in, out, ckpt)(
          StreamingAnn.ivfPqIngestStream(_, book, book, 4))
      }.orderBy("vec_id", "subspace")
    },

    "streaming_join" -> { (spark, dir) =>
      // The THIRD streaming engine path under the driver's oracle, and
      // the remaining streaming operator class: a stream-stream
      // event-time interval join (purchase ↔ views within the prior
      // hour, per user). Inner join → every qualifying pair is emitted
      // exactly once; the 90-day watermark covers the corpus' 30-day
      // span, so state is horizon-bounded and nothing is late-dropped —
      // the oracle is the plain batch interval self-join.
      import spark.implicits._
      val in = stagedJoinInput(spark, dir)
      val schema = Tables.events(spark, dir)
        .select($"user_id", $"ts", $"event_id", $"event_type").schema
      drained(spark, "graft-join-q") { (out, ckpt) =>
        StreamingJob.drain(spark, schema, in, out, ckpt)(
          StreamingSessionize.attributionJoin(_))
      }.select($"user_id", $"view_id", $"purchase_id")
        .orderBy("view_id", "purchase_id")
    },

    "streaming_join_outer" -> { (spark, dir) =>
      // The LEFT OUTER stream-stream join under the driver's oracle —
      // the variant where results are only flushed by watermark
      // movement: a view with no purchase in its hour must emit with a
      // null purchase once no match can arrive. Far-future sentinels on
      // both branches provide the no-more-data signal; the sentinel
      // view's own outer row is excluded by its negative user_id. The
      // oracle is the plain batch LEFT JOIN.
      import spark.implicits._
      val in = stagedOuterJoinInput(spark, dir)
      val schema = Tables.events(spark, dir)
        .select($"user_id", $"ts", $"event_id", $"event_type").schema
      drained(spark, "graft-ojoin-q") { (out, ckpt) =>
        StreamingJob.drain(spark, schema, in, out, ckpt)(
          StreamingSessionize.attributionJoinOuter(_))
      }.filter($"user_id" >= 0)
        .select($"user_id", $"view_id", $"purchase_id")
        .orderBy("view_id", "purchase_id")
    },

    "streaming_tws_totals" -> { (spark, dir) =>
      // Spark 4's transformWithState (the arbitrary-state successor to
      // flatMapGroupsWithState: typed named state, TTL, RocksDB) under
      // the driver's oracle: per-user running (count, cents) totals.
      // Each micro-batch emits the UPDATED running totals, which are
      // monotonic — so max per user is the final figure no matter how
      // the file source split into batches, and the oracle is the plain
      // batch groupBy.
      import spark.implicits._
      val in = stagedTotalsInput(spark, dir)
      val schema = org.apache.spark.sql.Encoders
        .product[StreamingSessionize.EvCents].schema
      drained(spark, "graft-tws-q", RocksDbProvider) { (out, ckpt) =>
        StreamingJob.drain(spark, schema, in, out, ckpt)(ev =>
          StreamingSessionize.runningTotals(ev.as[StreamingSessionize.EvCents]))
      }.groupBy($"user_id")
        .agg(max($"n_events").as("n_events"), max($"cents_sum").as("cents_sum"))
        .orderBy("user_id")
    },

    "streaming_funnel" -> { (spark, dir) =>
      // The windowFunnel fold as transformWithState STATE: per-user
      // latest-chain-starts (k longs — never an event buffer) carried
      // across micro-batches. Events stage as three time-ordered
      // single-file chunks consumed at maxFilesPerTrigger = 1, so the
      // state genuinely crosses batch boundaries; within-batch rows
      // fold in (ts, event_id) order regardless of file order. Emitted
      // stages are monotone, so max per user is the final answer — and
      // the oracle is the BATCH funnel's oracle verbatim: state ≡ fold
      // is the claim under test.
      import spark.implicits._
      val base = tempDir("graft-sfun-q")
      val in = s"$base/in"
      val ev = Tables.events(spark, dir)
        .select($"user_id", unix_micros($"ts").as("ts_us"),
          when($"event_type" === "view", 0)
            .when($"event_type" === "click", 1)
            .when($"event_type" === "purchase", 2)
            .otherwise(-1).cast("int").as("step"),
          $"event_id")
      val b1 = 1704931200000000L // 2024-01-11 UTC
      val b2 = 1705795200000000L // 2024-01-21 UTC
      ev.filter($"ts_us" < b1).repartition(1)
        .write.mode("append").parquet(in)
      ev.filter($"ts_us" >= b1 && $"ts_us" < b2).repartition(1)
        .write.mode("append").parquet(in)
      ev.filter($"ts_us" >= b2).repartition(1)
        .write.mode("append").parquet(in)
      val schema = org.apache.spark.sql.Encoders
        .product[StreamingSessionize.FunnelEv].schema
      drained(spark, "graft-sfun-q", RocksDbProvider) { (out, ckpt) =>
        StreamingJob.drain(spark, schema, in, out, ckpt, maxFilesPerTrigger = 1)(
          ev => StreamingSessionize.funnelStream(
            ev.as[StreamingSessionize.FunnelEv], nSteps = 3,
            windowUs = 3600L * 1000000L))
      }.groupBy($"user_id")
        .agg(max($"funnel_stage").as("funnel_stage"))
        .orderBy($"user_id")
    },

    "sessionize_hour_job" -> { (spark, dir) =>
      // The reference's PRODUCTION JOB (SessionizationBuiltIn.scala:31-66
      // parity) under the driver's DuckDB oracle — not just its operator
      // pieces: events → hour-partitioned Hive logs (staged once per
      // sfDir), then TWO consecutive hourly SessionizeHour runs via
      // `backfill` (hour 01 reads hour 00's still-active sessions as
      // carry state: S2→U1→W3), then the sessions table is read back
      // through the imposed session schema. The oracle is the batch gap
      // rule over the same two hours on second-truncated timestamps
      // (the behavior schema's event_time carries second granularity) —
      // incremental-with-carry must equal one batch pass.
      import spark.implicits._
      val logs = stagedJobLogs(spark, dir)
      val base = tempDir("graft-hour-sess")
      val sessions = s"$base/sessions"
      graft.jobs.SessionizeHour.backfill(spark, logs, sessions,
        Seq(("2024-01-15", "00"), ("2024-01-15", "01")))
      spark.read.schema(graft.schema.Schemas.session).parquet(sessions)
        .select($"product_id".as("event_id"), $"user_id",
          unix_micros(to_timestamp($"event_time",
            graft.schema.Schemas.EventTimeFormat)).as("ts_us"),
          $"session_id", $"event_hour")
        .orderBy("event_id")
    },

    "concurrent_sessions" -> { (spark, dir) =>
      // Peak simultaneously-open sessions per day, by SWEEP LINE: each
      // session (native session_window) becomes a +1 at its start and a
      // -1 at its end, a per-day running sum counts the open intervals,
      // and max(running) is the peak. Sessions are exploded onto the
      // days they span and clipped at midnight, so the running-sum
      // window partitions by DAY — fully parallel, no global ordering
      // (the naive all-pairs interval self-join is quadratic; a single
      // un-partitioned running sum would serialize). Tie rule: -1 sorts
      // before +1 at the same microsecond, so back-to-back sessions
      // never double-count (half-open intervals).
      import spark.implicits._
      val sess = Tables.events(spark, dir)
        .groupBy($"user_id", session_window($"ts", "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n"))
        .select(unix_micros($"sw.start").as("s_us"), unix_micros($"sw.end").as("e_us"))
      val days = sess.withColumn("day",
        explode(sequence(to_date(timestamp_micros($"s_us")), to_date(timestamp_micros($"e_us")))))
      val dayStart = unix_micros(to_timestamp($"day"))
      val clipped = days.select($"day",
        greatest($"s_us", dayStart).as("cs"),
        least($"e_us", dayStart + 86400000000L).as("ce"))
      val deltas = clipped.select($"day", $"cs".as("ts_us"), lit(1L).as("delta"))
        .union(clipped.select($"day", $"ce".as("ts_us"), lit(-1L).as("delta")))
      val w = Window.partitionBy($"day").orderBy($"ts_us", $"delta")
      deltas.withColumn("c", sum($"delta").over(w))
        .groupBy($"day").agg(max($"c").as("peak_concurrency"))
        .select(date_format($"day", "yyyy-MM-dd").as("day"), $"peak_concurrency")
        .orderBy("day")
    },

    "event_transitions" -> { (spark, dir) =>
      // First-order Markov transition counts between consecutive event
      // types per user timeline: one window pass + one hash aggregate.
      import spark.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      Tables.events(spark, dir)
        .withColumn("prev_type", lag($"event_type", 1).over(w))
        .filter($"prev_type".isNotNull)
        .groupBy($"prev_type", $"event_type")
        .agg(count(lit(1)).as("n"))
        .orderBy("prev_type", "event_type")
    },

    "session_paths" -> { (spark, dir) =>
      // Per-session ordered event-type path string. Ordering inside the
      // aggregate is made deterministic by sorting collected
      // (ts, event_id, type) structs — collect_list alone has no order.
      import spark.implicits._
      val s = Sessionize.withSessionNo(Tables.events(spark, dir))
      s.groupBy($"user_id", $"session_no")
        .agg(array_join(transform(
          array_sort(collect_list(struct(unix_micros($"ts").as("t"),
            $"event_id", $"event_type"))),
          x => x.getField("event_type")), ">").as("path"))
        .orderBy("user_id", "session_no")
    },

    "session_gaps" -> { (spark, dir) =>
      // W1 surface in isolation: per-event lag + gap, first event NULL.
      import spark.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      Tables.events(spark, dir)
        .withColumn("gap_us", unix_micros($"ts") - lag(unix_micros($"ts"), 1).over(w))
        .select($"event_id", $"user_id", $"gap_us")
        .orderBy("event_id")
    })

  val oracles: Map[String, String] = Map(
    // the streaming literal-map scorer must land on the identical
    // integer logits as the batch broadcast-join form — one oracle
    "streaming_classify" -> graft.queries.TextQueries.oracles("classifier_score"),

    // the LSH band math itself, recomputed end-to-end: 24 universal-hash
    // minimums over md5 shingle hashes, 8 md5 band keys — every key must
    // hash-match the streaming per-row fold
    "streaming_band_ingest" -> {
      val P = 999999937L
      val mins = (0 until 24).map { i =>
        val a = 2L * i + 1; val b = 7919L * (i + 1)
        s"min((x * $a + $b) % $P) AS h$i"
      }.mkString(",\n             ")
      val bandExprs = (0 until 8).map { b =>
        val hs = (b * 3 until b * 3 + 3).map(i => s"h$i::VARCHAR")
          .mkString(" || '|' || ")
        s"md5('$b' || '|' || $hs)"
      }.mkString(",\n        ")
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks,
         |                  len(string_split(text, ' ')) AS nt FROM documents),
         |sh AS (SELECT doc_id,
         |              list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
         |                             for i in range(1, nt - 1)]) AS s
         |       FROM d),
         |x AS (SELECT doc_id,
         |             ('0x' || substr(md5(shingle), 1, 15))::BIGINT % $P AS x
         |      FROM (SELECT doc_id, unnest(s) AS shingle FROM sh)),
         |h AS (SELECT doc_id,
         |             $mins
         |      FROM x GROUP BY doc_id)
         |SELECT doc_id, band FROM (
         |  SELECT doc_id, unnest([
         |        $bandExprs]) AS band
         |  FROM h)
         |ORDER BY doc_id, band""".stripMargin
    },

    // every posting row recomputed from raw text — a drift in the
    // streaming run-length fold hash-mismatches
    "streaming_postings_ingest" ->
      """WITH t AS (SELECT doc_id, len(s)::INTEGER AS dl,
        |                  generate_subscripts(s, 1) - 1 AS pos,
        |                  unnest(s) AS token
        |           FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents))
        |SELECT token, doc_id, dl, count(*) AS tf,
        |       string_agg(pos::VARCHAR, '|' ORDER BY pos) AS pos_key
        |FROM t GROUP BY token, doc_id, dl
        |ORDER BY token, doc_id""".stripMargin,

    "streaming_sketch_ingest" ->
      """WITH b AS (SELECT unnest(string_split(text, ' ')) AS item FROM documents)
        |SELECT item, count(*) AS n_occurrences
        |FROM b GROUP BY item
        |HAVING count(*) >= 40
        |ORDER BY n_occurrences DESC, item""".stripMargin,

    "streaming_profile_ingest" ->
      """WITH b AS (SELECT round(value * 100)::BIGINT AS cents FROM events),
        |h AS (SELECT (cents - ((cents % 100 + 100) % 100)) // 100 AS bucket,
        |             count(*)::BIGINT AS cnt
        |      FROM b GROUP BY 1),
        |c AS (SELECT bucket, cnt, sum(cnt) OVER (ORDER BY bucket)::BIGINT AS cum FROM h),
        |n AS (SELECT sum(cnt)::BIGINT AS n_total FROM h),
        |t AS (SELECT q_num::INTEGER AS q_num, q_den::INTEGER AS q_den
        |      FROM (VALUES (1, 2), (9, 10), (99, 100), (999, 1000)) AS v(q_num, q_den))
        |SELECT q_num, q_den, n_total,
        |       (q_num * n_total + q_den - 1) // q_den AS rank, bucket,
        |       (bucket * 100)::BIGINT AS lo, (bucket * 100 + 99)::BIGINT AS hi
        |FROM t CROSS JOIN n JOIN c
        |  ON (c.cum - c.cnt) < ((q_num * n_total + q_den - 1) // q_den)
        | AND ((q_num * n_total + q_den - 1) // q_den) <= c.cum
        |ORDER BY rank, q_den""".stripMargin,

    "sessionize_counts" ->
      """WITH d AS (
        |  SELECT event_id, user_id, ts, value,
        |         epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        |  FROM events),
        |s AS (
        |  SELECT *, SUM(CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END)
        |            OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_no
        |  FROM d)
        |SELECT user_id, session_no::BIGINT AS session_no, count(*) AS n_events,
        |       min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us,
        |       SUM(round(value * 100)::BIGINT)::BIGINT AS value_cents
        |FROM s GROUP BY user_id, session_no ORDER BY user_id, session_no""".stripMargin,

    "sessionize_ids" ->
      """WITH d AS (
        |  SELECT event_id, user_id, ts,
        |         epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        |  FROM events),
        |s AS (
        |  SELECT *, SUM(CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END)
        |            OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_no
        |  FROM d),
        |t AS (
        |  SELECT *, min(epoch_us(ts)) OVER (PARTITION BY user_id, session_no) AS start_us
        |  FROM s)
        |SELECT event_id, user_id, session_no::BIGINT AS session_no,
        |       sha256(user_id::VARCHAR || '-' || start_us::VARCHAR) AS session_id
        |FROM t ORDER BY event_id""".stripMargin,

    "active_sessions" ->
      """WITH e AS (SELECT * FROM events WHERE epoch_us(ts) <= 1705276800000000),
        |d AS (
        |  SELECT event_id, user_id, ts,
        |         epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        |  FROM e),
        |s AS (
        |  SELECT *, SUM(CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END)
        |            OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_no
        |  FROM d),
        |t AS (
        |  SELECT *, sha256(user_id::VARCHAR || '-' ||
        |            (min(epoch_us(ts)) OVER (PARTITION BY user_id, session_no))::VARCHAR) AS session_id
        |  FROM s)
        |SELECT session_id, user_id, event_id, epoch_us(ts) AS ts_us
        |FROM t
        |WHERE epoch_us(ts) >= 1705276800000000 - 1800000000
        |QUALIFY row_number() OVER (PARTITION BY session_id ORDER BY ts DESC, event_id DESC) = 1
        |ORDER BY session_id""".stripMargin,

    "sessionize_hof" ->
      """WITH d AS (
        |  SELECT event_id, user_id, ts,
        |         epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        |  FROM events)
        |SELECT event_id, user_id,
        |       (SUM(CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END)
        |        OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING))::BIGINT AS session_no
        |FROM d ORDER BY event_id""".stripMargin,

    "session_funnel" ->
      """WITH d AS (
        |  SELECT event_id, user_id, ts, event_type,
        |         epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        |  FROM events),
        |s AS (
        |  SELECT *, SUM(CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END)
        |            OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_no
        |  FROM d),
        |per AS (
        |  SELECT user_id, session_no,
        |         min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t_view,
        |         min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS t_click,
        |         min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t_buy
        |  FROM s GROUP BY user_id, session_no)
        |SELECT count(*) AS n_sessions,
        |       SUM((t_view IS NOT NULL)::BIGINT)::BIGINT AS reached_view,
        |       SUM((t_view IS NOT NULL AND t_click > t_view)::BIGINT)::BIGINT AS reached_click,
        |       SUM((t_view IS NOT NULL AND t_click > t_view AND t_buy > t_click)::BIGINT)::BIGINT AS reached_purchase
        |FROM per""".stripMargin,

    "window_funnel" -> WindowFunnelOracle,

    // the same oracle: streamed-with-state ≡ batch IS the claim
    "streaming_funnel" -> WindowFunnelOracle,

    "bounce_rate" ->
      """WITH d AS (
        |  SELECT event_id, user_id, ts,
        |         epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        |  FROM events),
        |s AS (
        |  SELECT *, SUM(CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END)
        |            OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_no
        |  FROM d),
        |per AS (SELECT user_id, session_no, count(*) AS n_events
        |        FROM s GROUP BY 1, 2)
        |SELECT count(*) AS n_sessions,
        |       SUM((n_events = 1)::BIGINT)::BIGINT AS n_bounces,
        |       ((1000 * SUM((n_events = 1)::BIGINT)) // count(*))::BIGINT AS bounce_rate_milli
        |FROM per""".stripMargin,

    "weekly_cohorts" ->
      """WITH ev AS (
        |  SELECT user_id, floor(epoch_us(ts) / 86400000000)::BIGINT AS day FROM events),
        |fd AS (SELECT user_id, min(day) AS first_day FROM ev GROUP BY user_id)
        |SELECT floor(first_day / 7)::BIGINT AS cohort_week,
        |       floor((day - first_day) / 7)::BIGINT AS week_offset,
        |       count(DISTINCT user_id) AS n_users
        |FROM ev JOIN fd USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin,

    "event_transitions" ->
      """WITH d AS (
        |  SELECT event_type,
        |         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events)
        |SELECT prev_type, event_type, count(*) AS n
        |FROM d WHERE prev_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY prev_type, event_type""".stripMargin,

    "session_paths" ->
      """WITH d AS (
        |  SELECT event_id, user_id, ts, event_type,
        |         epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        |  FROM events),
        |s AS (
        |  SELECT *, SUM(CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END)
        |            OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_no
        |  FROM d)
        |SELECT user_id, session_no::BIGINT AS session_no,
        |       string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        |FROM s GROUP BY user_id, session_no ORDER BY user_id, session_no""".stripMargin,

    "session_gaps" ->
      """SELECT event_id, user_id,
        |       epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        |FROM events ORDER BY event_id""".stripMargin,

    // the doubled input must collapse back to exactly the events table
    "streaming_dedup" ->
      """SELECT user_id, epoch_us(ts) AS ts_us, event_id
        |FROM events ORDER BY event_id""".stripMargin,

    // batch gate∘redact over the same planted-PII input the stream saw:
    // the Gopher CTEs, keep conjunction, plant and redaction columns are
    // the SHARED fragments gopher_rules/pii_redact use (OracleFragments
    // — one string to edit, no drift between the three oracles)
    "streaming_curate" ->
      s"""WITH ${PiiOracle.plantedCte},
         |${GopherOracle.ctes("p")},
         |kept AS (SELECT doc_id, text, n FROM d
         |         WHERE ${GopherOracle.keepCondition})
         |SELECT doc_id, n AS n_words,
         |       ${PiiOracle.selectColumns}
         |FROM kept ORDER BY doc_id""".stripMargin,

    // the streamed coarse-assignment equals the batch integer-L2 argmin
    // (nearest centroid, centroid-id tie-break) over the same vectors
    "streaming_ivf_assign" ->
      """WITH qe AS (SELECT vec_id,
        |                   list_transform(embedding::DOUBLE[], x -> floor(x * 1000000)::BIGINT) AS q
        |            FROM embeddings),
        |cent AS (SELECT vec_id AS centroid_id, q AS cv FROM qe WHERE vec_id < 8),
        |s AS (SELECT a.vec_id, centroid_id,
        |             list_sum(list_transform(range(1, 65), i -> (a.q[i] - c.cv[i]) * (a.q[i] - c.cv[i]))) AS d2
        |      FROM qe a CROSS JOIN cent c)
        |SELECT vec_id, centroid_id AS cluster, d2::BIGINT AS d2 FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, centroid_id) AS rk
        |  FROM s) WHERE rk = 1
        |ORDER BY vec_id""".stripMargin,

    // coarse assignment JOIN pq codes — the streamed ingest must equal
    // both batch chains at once
    "streaming_index_ingest" ->
      """WITH qe AS (SELECT vec_id,
        |                   list_transform(embedding::DOUBLE[], x -> floor(x * 1000000)::BIGINT) AS q
        |            FROM embeddings),
        |cent AS (SELECT vec_id AS centroid_id, q AS cv FROM qe WHERE vec_id < 8),
        |asg AS (SELECT vec_id, centroid_id AS cluster FROM (
        |  SELECT a.vec_id, centroid_id,
        |         row_number() OVER (PARTITION BY a.vec_id ORDER BY
        |           list_sum(list_transform(range(1, 65), i -> (a.q[i] - c.cv[i]) * (a.q[i] - c.cv[i]))),
        |           centroid_id) AS rk
        |  FROM qe a CROSS JOIN cent c) WHERE rk = 1),
        |sub AS (SELECT vec_id, s, q[s * 16 + 1 : (s + 1) * 16] AS qs
        |        FROM (SELECT vec_id, q, unnest(range(0, 4)) AS s FROM qe)),
        |bk AS (SELECT s, vec_id AS code, qs AS cs FROM sub WHERE vec_id < 8),
        |d AS (SELECT a.vec_id, a.s, code,
        |             list_sum(list_transform(range(1, 17),
        |               i -> (a.qs[i] - c.cs[i]) * (a.qs[i] - c.cs[i])))::BIGINT AS dist
        |      FROM sub a JOIN bk c ON a.s = c.s),
        |codes AS (SELECT vec_id, s, code FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, code) AS rk
        |  FROM d) WHERE rk = 1)
        |SELECT codes.vec_id, cluster, s::BIGINT AS subspace, code
        |FROM codes JOIN asg ON codes.vec_id = asg.vec_id
        |ORDER BY codes.vec_id, subspace""".stripMargin,

    // the final running totals equal the plain batch groupBy
    "streaming_tws_totals" ->
      """SELECT user_id, count(*)::BIGINT AS n_events,
        |       sum(round(value * 100)::BIGINT)::BIGINT AS cents_sum
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    // every view emits; unmatched views carry a NULL purchase
    "streaming_join_outer" ->
      """SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id
        |FROM (SELECT * FROM events WHERE event_type = 'view') v
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON p.user_id = v.user_id
        | AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
        |ORDER BY view_id, purchase_id""".stripMargin,

    // the streamed interval join must equal the batch self-join
    "streaming_join" ->
      """SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id
        |FROM events v JOIN events p
        |  ON p.user_id = v.user_id
        | AND v.event_type = 'view' AND p.event_type = 'purchase'
        | AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
        |ORDER BY view_id, purchase_id""".stripMargin,

    "sessionize_hour_job" ->
      """WITH e AS (
        |  SELECT user_id, event_id, date_trunc('second', ts) AS ts2
        |  FROM events
        |  WHERE epoch_us(ts) >= 1705276800000000
        |    AND epoch_us(ts) <  1705276800000000 + 7200000000),
        |d AS (
        |  SELECT *, epoch_us(ts2) - lag(epoch_us(ts2))
        |            OVER (PARTITION BY user_id ORDER BY ts2, event_id) AS gap_us
        |  FROM e),
        |s AS (
        |  SELECT *, SUM(CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END)
        |            OVER (PARTITION BY user_id ORDER BY ts2, event_id ROWS UNBOUNDED PRECEDING) AS session_no
        |  FROM d),
        |t AS (
        |  SELECT *, min(epoch_us(ts2)) OVER (PARTITION BY user_id, session_no) AS start_us
        |  FROM s)
        |SELECT event_id, user_id, epoch_us(ts2) AS ts_us,
        |       sha256(user_id::VARCHAR || '-' || start_us::VARCHAR) AS session_id,
        |       strftime(ts2, '%H') AS event_hour
        |FROM t ORDER BY event_id""".stripMargin,

    "concurrent_sessions" ->
      """WITH d AS (
        |  SELECT user_id, ts,
        |         epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS gap_us
        |  FROM events),
        |s AS (
        |  SELECT *, SUM(CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END)
        |            OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sw_no
        |  FROM d),
        |sess AS (SELECT min(epoch_us(ts)) AS s_us, max(epoch_us(ts)) + 1800000000 AS e_us
        |         FROM s GROUP BY user_id, sw_no),
        |days AS (SELECT s_us, e_us,
        |                unnest(generate_series(date_trunc('day', make_timestamp(s_us)),
        |                                       date_trunc('day', make_timestamp(e_us)),
        |                                       INTERVAL 1 DAY)) AS day
        |         FROM sess),
        |clip AS (SELECT day, greatest(s_us, epoch_us(day)) AS cs,
        |                least(e_us, epoch_us(day) + 86400000000) AS ce
        |         FROM days),
        |deltas AS (SELECT day, cs AS ts_us, 1 AS delta FROM clip
        |           UNION ALL SELECT day, ce, -1 FROM clip),
        |run AS (SELECT day, SUM(delta) OVER (PARTITION BY day ORDER BY ts_us, delta) AS c
        |        FROM deltas)
        |SELECT strftime(day, '%Y-%m-%d') AS day, max(c)::BIGINT AS peak_concurrency
        |FROM run GROUP BY day ORDER BY day""".stripMargin,

    "streaming_session_agg" ->
      """WITH d AS (
        |  SELECT user_id, ts, event_id,
        |         epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS gap_us
        |  FROM events),
        |s AS (
        |  SELECT *, SUM(CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END)
        |            OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sw_no
        |  FROM d)
        |SELECT user_id, min(epoch_us(ts)) AS start_us,
        |       max(epoch_us(ts)) + 1800000000 AS end_us,
        |       count(*) AS n_events,
        |       min(event_id) AS first_event, max(event_id) AS last_event
        |FROM s GROUP BY user_id, sw_no ORDER BY user_id, start_us""".stripMargin,

    "session_window_agg" ->
      """WITH d AS (
        |  SELECT user_id, ts, value,
        |         epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS gap_us
        |  FROM events),
        |s AS (
        |  SELECT *, SUM(CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END)
        |            OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sw_no
        |  FROM d)
        |SELECT user_id, min(epoch_us(ts)) AS start_us,
        |       max(epoch_us(ts)) + 1800000000 AS end_us,
        |       count(*) AS n_events,
        |       SUM(round(value * 100)::BIGINT)::BIGINT AS value_cents
        |FROM s GROUP BY user_id, sw_no ORDER BY user_id, start_us""".stripMargin)
}
