package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.Hll
import graft.queries.QueryHarness.{tempDir, withConf}

/** Deterministic-HyperLogLog queries ([[graft.ops.Hll]]) — the sketch
  * state AND the estimate cross-engine pinned. `approx_distinct_parts`
  * (Spark's own approx_count_distinct) is rows-only in the driver gate
  * because its xxhash + float harmonic mean can never reproduce in
  * DuckDB; this family's md5 register device and integer-rational
  * estimator hash-match, so distinct-count sketching graduates from
  * "bounds-checked" to "oracled".
  */
object HllQueries {

  /** DuckDB twin of [[Hll.registers]] over `src(grpExpr, itemExpr)`:
    * CTE `r(grp, reg, rho)`. One definition shared by every oracle so
    * the device cannot drift between them.
    */
  private def registersCte(src: String, grpExpr: String,
      itemExpr: String): String =
    s"""h AS (SELECT $grpExpr AS grp,
       |         ('0x' || substr(md5('hllreg:' || $itemExpr), 1, 15))::BIGINT % 256 AS reg,
       |         ('0x' || substr(md5('hllrho:' || $itemExpr), 1, 15))::BIGINT AS hr
       |      FROM $src WHERE $itemExpr IS NOT NULL),
       |r AS (SELECT grp, reg,
       |         max(CASE WHEN hr = 0 THEN 61
       |             ELSE 61 - length(bin(hr)) END)::BIGINT AS rho
       |      FROM h GROUP BY grp, reg)""".stripMargin

  /** DuckDB twin of [[Hll.estimate]] over the `r` CTE: CTE
    * `e(grp, est_distinct, n_zero_regs)` at p = 8 (m = 256).
    */
  private val estimateCte: String =
    """g AS (SELECT grp, count(*) AS n_regs,
      |         sum((1::BIGINT << (61 - rho))::HUGEINT) AS s_present
      |      FROM r GROUP BY grp),
      |e AS (SELECT grp,
      |         ((7213::HUGEINT * 256 * 256 * 256 * (1::BIGINT << 61)::HUGEINT) //
      |          (10::HUGEINT * (1000 * 256 + 1079) *
      |           (s_present + (256 - n_regs)::HUGEINT * (1::BIGINT << 61)::HUGEINT)))::BIGINT
      |           AS est_distinct,
      |         (256 - n_regs)::BIGINT AS n_zero_regs
      |      FROM g)""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "hll_registers" -> { (spark, dir) =>
      // The sketch STATE itself, cross-engine pinned: per-event-type
      // HLL register tables over user_id — every (reg, max-rho) cell
      // must match DuckDB's recomputation from the same md5 device, so
      // a drifted hash salt, rho convention, or fold hash-mismatches
      // cell-by-cell. ≤ 5 types × 256 registers however large events
      // grows (the map-side-combine bound made visible).
      import spark.implicits._
      Hll.registers(Tables.events(spark, dir), "user_id",
          groupCols = Seq("event_type"))
        .orderBy($"event_type", $"reg")
    },

    "hll_distinct_users" -> { (spark, dir) =>
      // The integer-rational raw-HLL estimate next to the exact
      // distinct count, per event type: (est, V, exact). Both engines
      // run the identical 2^61-scaled harmonic sum and one exact floor
      // division — a single bit of float anywhere would eventually
      // hash-mismatch. n_exact rides along as the accuracy witness in
      // the artifact itself.
      import spark.implicits._
      val ev = Tables.events(spark, dir)
      val est = Hll.distinctEstimate(ev, "user_id",
        groupCols = Seq("event_type"))
      val exact = ev.groupBy($"event_type")
        .agg(countDistinct($"user_id").as("n_exact"))
      est.join(exact, "event_type")
        .select($"event_type", $"est_distinct", $"n_zero_regs", $"n_exact")
        .orderBy($"event_type")
    },

    "hll_merge_slices" -> { (spark, dir) =>
      // The merge law, cross-engine: three DISJOINT event slices folded
      // independently (the hourly-shard shape), merged by cell-wise
      // max, then estimated — the oracle folds the UNION directly, so
      // merge(fold(A), fold(B), fold(C)) = fold(A ∪ B ∪ C) is pinned
      // across engines, not just in the spec. Any merge that lost or
      // doubled a cell would shift the harmonic sum and mismatch.
      import spark.implicits._
      val ev = Tables.events(spark, dir)
      val slices = (0 until 3).map(k =>
        Hll.registers(ev.filter(pmod($"event_id", lit(3)) === k), "user_id"))
      Hll.estimate(Hll.mergeRegisters(slices))
        .select($"est_distinct", $"n_zero_regs")
    },

    "hll_intersect_types" -> { (spark, dir) =>
      // Set algebra on sketches: |view ∩ purchase| by inclusion-
      // exclusion over three estimates (A, B, and the merged A ∪ B —
      // registers union by max, never a rescan of both streams
      // together). All integer arithmetic, so the derived intersection
      // estimate is cross-engine exact too.
      import spark.implicits._
      val ev = Tables.events(spark, dir)
      val a = Hll.registers(ev.filter($"event_type" === "view"), "user_id")
      val b = Hll.registers(ev.filter($"event_type" === "purchase"), "user_id")
      val estA = Hll.estimate(a).select($"est_distinct".as("est_view"))
      val estB = Hll.estimate(b).select($"est_distinct".as("est_purchase"))
      val estU = Hll.estimate(Hll.mergeRegisters(Seq(a, b)))
        .select($"est_distinct".as("est_union"))
      estA.crossJoin(estB).crossJoin(estU)
        .withColumn("est_intersect",
          $"est_view" + $"est_purchase" - $"est_union")
    },

    "hll_stored" -> { (spark, dir) =>
      // The DURABLE form: three per-batch register folds persisted to a
      // real BuildHllStore (registers/batch=<id>/ + per-batch geometry
      // meta), max-merged at read through the loud geometry gate. The
      // slices OVERLAP deliberately — event_id % 3 ∈ {0,1}, {1,2},
      // {2,0} — because max-fold idempotence makes overlap harmless,
      // the property the additive CMS store must forbid; the oracle
      // estimates over ALL events directly, so a store that
      // double-weighted (or lost) an overlapping slice hash-mismatches.
      import spark.implicits._
      val base = tempDir("graft-hll-store-q")
      val ev = Tables.events(spark, dir)
      def slice(ks: Seq[Int], p: String): String = {
        ev.filter(pmod($"event_id", lit(3)).isin(ks.map(_.toLong): _*))
          .select($"user_id".as("item"))
          .write.mode("overwrite").parquet(p); p
      }
      val out = s"$base/store"
      // overlap the independent slice stagings and the disjoint-batch
      // appends (guide §2.6); run-before-append stays ordered
      graft.jobs.Overlap.all(
        () => slice(Seq(0, 1), s"$base/s0"): Unit,
        () => slice(Seq(1, 2), s"$base/s1"): Unit,
        () => slice(Seq(2, 0), s"$base/s2"): Unit)
      graft.jobs.BuildHllStore.run(spark, s"$base/s0", out)
      graft.jobs.Overlap.all(
        () => graft.jobs.BuildHllStore.append(spark, s"$base/s1", out, "b"),
        () => graft.jobs.BuildHllStore.append(spark, s"$base/s2", out, "c"))
      graft.jobs.BuildHllStore.estimate(spark, out)
        .select($"est_distinct", $"n_zero_regs")
    },

    "streaming_hll_ingest" -> { (spark, dir) =>
      // The stream → register-store loop end-to-end: tokens arrive as
      // files, stream out as per-occurrence (reg, rho) cells (stateless
      // restatement — append-legal, no watermark, p taken FROM the
      // target store), max-fold into a real BuildHllStore batch via
      // compactStreamed, and the stored estimate must equal the direct
      // register fold the oracle recomputes from raw text. No sidecar,
      // no supersession — the idempotent-fold contrast made runnable.
      import spark.implicits._
      val baseDir = tempDir("graft-hll-stream-q")
      val items = Tables.documents(spark, dir)
        .select(explode(split($"text", " ")).as("item"))
      val in = s"$baseDir/in"
      items.repartition(4).write.parquet(in)
      val out = s"$baseDir/store"
      val empty = s"$baseDir/empty"
      items.limit(0).write.parquet(empty)
      graft.jobs.BuildHllStore.run(spark, empty, out)
      val streamed = s"$baseDir/streamed"; val ckpt = s"$baseDir/ckpt"
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("item",
          org.apache.spark.sql.types.StringType)))
      withConf(spark, "spark.sql.shuffle.partitions" -> "8") {
        graft.streaming.StreamingJob.runHllIngest(spark, schema,
          in, streamed, ckpt, storePath = out)
      }
      graft.jobs.BuildHllStore.compactStreamed(spark, streamed, out)
      graft.jobs.BuildHllStore.estimate(spark, out)
        .select($"est_distinct", $"n_zero_regs")
    },

    "hll_sliding_users" -> { (spark, dir) =>
      // Sliding-window distinct counts WITHOUT rescans — the register-
      // reuse pattern: fold once per day (≤ m rows each), then every
      // 3-day window is a max-merge of three tiny tables + one
      // estimate. At 100 TB the daily fold is the only corpus pass;
      // 30/90/365-day windows all read the same persisted folds. The
      // oracle recomputes the window merge from scratch, so the whole
      // day-bucket + merge + estimate composition is pinned.
      import spark.implicits._
      val ev = Tables.events(spark, dir)
        .withColumn("day", date_format($"ts", "yyyy-MM-dd"))
      val daily = Hll.registers(ev, "user_id", groupCols = Seq("day"))
      val days = daily.select($"day".as("window_end")).distinct()
      val merged = daily.join(broadcast(days),
          datediff(to_date($"window_end"), to_date($"day"))
            .between(0, 2))
        .groupBy($"window_end", $"reg").agg(max($"rho").as("rho"))
      Hll.estimate(merged, groupCols = Seq("window_end"))
        .orderBy($"window_end")
    },

    "hll_distinct_tokens" -> { (spark, dir) =>
      // The corpus-shaped use: distinct-token cardinality of the
      // documents table — the vocabulary-size probe a tokenizer-
      // training pipeline runs per shard before deciding merges. One
      // explode + the bounded register fold; at 100 TB the shuffle is
      // still ≤ 256 rows per task.
      import spark.implicits._
      val toks = Tables.documents(spark, dir)
        .select(explode(split($"text", " ")).as("token"))
      Hll.distinctEstimate(toks, "token")
        .select($"est_distinct", $"n_zero_regs")
    })

  def oracles: Map[String, String] = Map(

    "hll_registers" ->
      s"""WITH ${registersCte("events", "event_type", "user_id")}
         |SELECT grp AS event_type, reg, rho
         |FROM r ORDER BY event_type, reg""".stripMargin,

    "hll_distinct_users" ->
      s"""WITH ${registersCte("events", "event_type", "user_id")},
         |$estimateCte,
         |x AS (SELECT event_type AS grp,
         |             count(DISTINCT user_id) AS n_exact
         |      FROM events GROUP BY 1)
         |SELECT grp AS event_type, est_distinct, n_zero_regs,
         |       n_exact::BIGINT AS n_exact
         |FROM e JOIN x USING (grp) ORDER BY event_type""".stripMargin,

    // the oracle folds the UNION directly — equality with the Spark
    // side's three-slice merge IS the cross-engine merge law
    "hll_merge_slices" ->
      s"""WITH ${registersCte("events", "1", "user_id")},
         |$estimateCte
         |SELECT est_distinct, n_zero_regs FROM e""".stripMargin,

    "hll_intersect_types" ->
      s"""WITH ${registersCte(
             "(SELECT CASE WHEN event_type = 'view' THEN 'a' ELSE 'b' END AS side, user_id " +
               "FROM events WHERE event_type IN ('view', 'purchase'))",
             "side", "user_id")},
         |ru AS (SELECT 'u' AS grp, reg, max(rho) AS rho FROM r GROUP BY 2),
         |r3 AS (SELECT * FROM r UNION ALL SELECT * FROM ru),
         |g AS (SELECT grp, count(*) AS n_regs,
         |         sum((1::BIGINT << (61 - rho))::HUGEINT) AS s_present
         |      FROM r3 GROUP BY grp),
         |e AS (SELECT grp,
         |         ((7213::HUGEINT * 256 * 256 * 256 * (1::BIGINT << 61)::HUGEINT) //
         |          (10::HUGEINT * (1000 * 256 + 1079) *
         |           (s_present + (256 - n_regs)::HUGEINT * (1::BIGINT << 61)::HUGEINT)))::BIGINT
         |           AS est
         |      FROM g)
         |SELECT a.est AS est_view, b.est AS est_purchase, u.est AS est_union,
         |       (a.est + b.est - u.est)::BIGINT AS est_intersect
         |FROM (SELECT est FROM e WHERE grp = 'a') a,
         |     (SELECT est FROM e WHERE grp = 'b') b,
         |     (SELECT est FROM e WHERE grp = 'u') u""".stripMargin,

    // overlapping slices union to ALL events — the direct estimate IS
    // the idempotence law, cross-engine
    "hll_stored" ->
      s"""WITH ${registersCte("events", "1", "user_id")},
         |$estimateCte
         |SELECT est_distinct, n_zero_regs FROM e""".stripMargin,

    "streaming_hll_ingest" ->
      s"""WITH ${registersCte(
             "(SELECT unnest(string_split(text, ' ')) AS token FROM documents)",
             "1", "token")},
         |$estimateCte
         |SELECT est_distinct, n_zero_regs FROM e""".stripMargin,

    "hll_sliding_users" ->
      s"""WITH ${registersCte(
             "(SELECT strftime(ts, '%Y-%m-%d') AS day, user_id FROM events)",
             "day", "user_id")},
         |days AS (SELECT DISTINCT grp AS window_end FROM r),
         |w AS (SELECT d.window_end AS grp, r.reg, max(r.rho) AS rho
         |      FROM days d JOIN r
         |        ON r.grp::DATE BETWEEN d.window_end::DATE - 2 AND d.window_end::DATE
         |      GROUP BY 1, 2),
         |g AS (SELECT grp, count(*) AS n_regs,
         |         sum((1::BIGINT << (61 - rho))::HUGEINT) AS s_present
         |      FROM w GROUP BY grp),
         |e AS (SELECT grp,
         |         ((7213::HUGEINT * 256 * 256 * 256 * (1::BIGINT << 61)::HUGEINT) //
         |          (10::HUGEINT * (1000 * 256 + 1079) *
         |           (s_present + (256 - n_regs)::HUGEINT * (1::BIGINT << 61)::HUGEINT)))::BIGINT
         |           AS est_distinct,
         |         (256 - n_regs)::BIGINT AS n_zero_regs
         |      FROM g)
         |SELECT grp AS window_end, est_distinct, n_zero_regs
         |FROM e ORDER BY window_end""".stripMargin,

    "hll_distinct_tokens" ->
      s"""WITH ${registersCte(
             "(SELECT unnest(string_split(text, ' ')) AS token FROM documents)",
             "1", "token")},
         |$estimateCte
         |SELECT est_distinct, n_zero_regs FROM e""".stripMargin)
}
