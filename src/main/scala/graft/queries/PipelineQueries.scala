package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{Cdc, DataQuality, Diff, Entity}
import graft.queries.QueryHarness.{staged, tempDir}

/** Pipeline-maintenance surface: CDC apply (merge/upsert), incremental
  * SCD2 merge, snapshot diff + column drift, a declarative
  * data-quality constraint suite, and entity resolution. The operators
  * a warehouse team runs DAILY around the analytics queries — at 100 TB
  * "rebuild from raw" stops being an option, so apply/merge/diff are
  * the load-bearing maintenance path.
  *
  * All oracles follow the repo portability rules (SURVEY.md §7.5):
  * integer cents, epoch-µs timestamps, md5 content hashes, total ORDER
  * BY with unique tie-breakers.
  */
object PipelineQueries {

  private def cents(c: Column): Column = round(c * 100).cast("long")

  /** Mid-range o_orderdate boundary (same instant scd2_snapshot probes):
    * changes before it are "the snapshot's past", at-or-after it are
    * "the incoming batch" — guaranteed non-empty on both sides at every
    * SF.
    */
  private val BoundaryUs = 891388800000000L

  /** orders recast as a CDC stream of customer purchase state: key
    * o_custkey, attrs (priority, price), ts o_orderdate, tie o_orderkey,
    * every 10th order a delete.
    */
  private def orderLog(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).select(
      col("o_custkey"), col("o_orderpriority"),
      cents(col("o_totalprice")).as("price_cents"),
      unix_micros(col("o_orderdate").cast("timestamp")).as("ts_us"),
      col("o_orderkey"),
      when(col("o_orderkey") % 10 === 0, "D").otherwise("U").as("op"))

  /** Staged post-boundary change files for the streaming upsert query:
    * TWO parity-split files (deliberately ts-INTERLEAVED — each file
    * spans the whole suffix), so with maxFilesPerTrigger=1 the stream
    * applies two out-of-order batches and the commutativity of
    * upsertLatest is what makes the result match the batch oracle.
    */
  private def stagedCdcInput(spark: SparkSession, dir: String): String =
    staged("cdc", dir) { in =>
      val suffix = orderLog(spark, dir).drop("op")
        .filter(col("ts_us") >= BoundaryUs)
      suffix.filter(col("o_orderkey") % 2 === 0).repartition(1).write.parquet(in)
      suffix.filter(col("o_orderkey") % 2 =!= 0).repartition(1)
        .write.mode("append").parquet(in)
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "streaming_cdc_upsert" -> { (spark, dir) =>
      // The STREAMING form of cdc_apply's upsert half: change files →
      // foreachBatch merge into a materialized snapshot
      // (StreamingJob.runCdcUpsert). The staged input forces two
      // ts-interleaved micro-batches; upsertLatest's semilattice
      // property (max by (ts, tie) per key) makes the final snapshot
      // equal the batch latest-state regardless of the split — the
      // oracle is one QUALIFY over the whole log.
      val log = orderLog(spark, dir).drop("op")
      val snap0 = Cdc.latestPerKey(log.filter(col("ts_us") < BoundaryUs),
        Seq("o_custkey"), "ts_us", "o_orderkey")
      val in = stagedCdcInput(spark, dir)
      val base = tempDir("graft-cdc-q")
      val finalSnap = graft.streaming.StreamingJob.runCdcUpsert(
        spark, snap0.schema, in, snap0, Seq("o_custkey"),
        "ts_us", "o_orderkey", s"$base/work", s"$base/ckpt")
      spark.read.parquet(finalSnap).orderBy("o_custkey")
    },

    "cdc_apply" -> { (spark, dir) =>
      // MERGE INTO, batch form: latest-change-wins upsert + delete of a
      // changelog onto a snapshot. The snapshot is the changelog's own
      // prefix applied to empty state (latest pre-boundary change per
      // key, deletes absent); the batch is the suffix. One shuffle of
      // the changes + one key join — never a rebuild from history.
      val log = orderLog(spark, dir)
      val snap = Cdc.latestPerKey(log.filter(col("ts_us") < BoundaryUs),
          Seq("o_custkey"), "ts_us", "o_orderkey")
        .filter(col("op") =!= "D")
        .select(col("o_custkey"), col("o_orderpriority"),
          col("price_cents"), col("ts_us"))
      Cdc.applyChangelog(snap, log.filter(col("ts_us") >= BoundaryUs),
          Seq("o_custkey"), Seq("o_orderpriority", "price_cents", "ts_us"),
          "op", "ts_us", "o_orderkey")
        .orderBy("o_custkey")
    },

    "scd2_merge" -> { (spark, dir) =>
      // INCREMENTAL SCD2: merge the post-boundary change batch into the
      // pre-boundary history without touching closed intervals. The
      // oracle is the FULL REBUILD over the whole log — gating the
      // merge's defining invariant (incremental ≡ rebuild) end-to-end.
      val log = Tables.orders(spark, dir).select(
        col("o_custkey"), col("o_orderpriority"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("ts_us"),
        col("o_orderkey"))
      val hist = graft.ops.Dimensions.scd2(log.filter(col("ts_us") < BoundaryUs),
        "o_custkey", "o_orderpriority", "ts_us", "o_orderkey")
      Cdc.scd2Merge(hist, log.filter(col("ts_us") >= BoundaryUs),
          "o_custkey", "o_orderpriority", "ts_us", "o_orderkey")
        .orderBy("o_custkey", "valid_from", "o_orderpriority")
    },

    "incremental_agg" -> { (spark, dir) =>
      // Materialized-aggregate REFRESH: the per-customer order stats
      // table is built from the pre-boundary prefix, then the
      // post-boundary batch's partial aggregate merges in — count/sum
      // by SUM, min/max by MIN/MAX, avg derived AFTER the merge. The
      // oracle is the full recompute over all orders, gating the merge
      // laws end-to-end. At 100 TB the refresh touches |agg| + |delta|
      // rows; the fact table is never rescanned.
      val log = orderLog(spark, dir).drop("op")
      val keys = Seq("o_custkey")
      val sums = Seq("price_cents")
      val mm = Seq("price_cents")
      val base = graft.ops.Incremental.partialAggregate(
        log.filter(col("ts_us") < BoundaryUs), keys, sums, mm, mm)
      val delta = graft.ops.Incremental.partialAggregate(
        log.filter(col("ts_us") >= BoundaryUs), keys, sums, mm, mm)
      graft.ops.Incremental.mergeAggregates(base, delta, keys, sums, mm, mm)
        .withColumn("avg_price_cents",
          col("sum_price_cents").cast("double") / col("n_rows"))
        .orderBy("o_custkey")
    },

    "table_diff" -> { (spark, dir) =>
      // Row-level diff of two table versions (the post-backfill audit):
      // version A drops every 7th order, version B drops every 5th and
      // bumps every 11th price — diff classifies added/removed/changed
      // from one full-outer key join over (key, md5(content)) tuples.
      val o = Tables.orders(spark, dir).select(col("o_orderkey"),
        col("o_orderstatus"), cents(col("o_totalprice")).as("price_cents"))
      val a = o.filter(col("o_orderkey") % 7 =!= 3)
      val b = o.filter(col("o_orderkey") % 5 =!= 2)
        .withColumn("price_cents",
          when(col("o_orderkey") % 11 === 0, col("price_cents") + 100)
            .otherwise(col("price_cents")))
      Diff.tableDiff(a, b, Seq("o_orderkey"), Seq("o_orderstatus", "price_cents"))
        .orderBy("o_orderkey")
    },

    "column_drift" -> { (spark, dir) =>
      // Column-level drift between the same two versions: row/null/
      // distinct counts side by side plus deltas, one single-pass
      // profile aggregate per side. Catches the "price cardinality
      // moved" class of silent corruption without paying the row diff.
      val o = Tables.orders(spark, dir).select(col("o_orderkey"),
        col("o_orderstatus"), cents(col("o_totalprice")).as("price_cents"))
      val a = o.filter(col("o_orderkey") % 7 =!= 3)
      val b = o.filter(col("o_orderkey") % 5 =!= 2)
        .withColumn("price_cents",
          when(col("o_orderkey") % 11 === 0, col("price_cents") + 100)
            .otherwise(col("price_cents")))
      Diff.columnDrift(a, b, Seq("o_orderkey", "o_orderstatus", "price_cents"))
        .orderBy("col_name")
    },

    "dq_checks" -> { (spark, dir) =>
      // Declarative constraint suite over a deliberately corrupted
      // orders variant (every 500th key re-appended with null FK, bogus
      // status, negative price): all row-level checks fold into ONE
      // aggregate pass; uniqueness adds one partial-agg groupBy;
      // referential integrity one anti-join against customer. Four
      // checks report planted violations, the FK check proves 0.
      val o = Tables.orders(spark, dir)
      val bad = o.filter(col("o_orderkey") % 500 === 7).select(
        col("o_orderkey"),
        lit(null).cast("long").as("o_custkey"),
        lit("X").as("o_orderstatus"),
        lit(-1.0).as("o_totalprice"))
      val checked = o.select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice")).unionByName(bad)
      DataQuality.runChecks(checked, Seq(
        DataQuality.Satisfies("accepted_status",
          col("o_orderstatus").isin("O", "F", "P")),
        DataQuality.RefIntegrity("fk_custkey", "o_custkey",
          Tables.customer(spark, dir), "c_custkey"),
        DataQuality.NotNull("not_null_custkey", "o_custkey"),
        DataQuality.Satisfies("positive_price", col("o_totalprice") > 0),
        DataQuality.Unique("unique_orderkey", Seq("o_orderkey"))))
        .orderBy("check_name")
    },

    "interval_merge" -> { (spark, dir) =>
      // Interval union: each event opens a 30-minute exposure window;
      // overlapping/touching windows per user merge into maximal
      // islands (one key-partitioned exchange for the whole
      // detect-flag-aggregate chain). The islands ARE gap-rule sessions
      // computed by interval algebra instead of lag — a deliberate
      // cross-check of two formulations on different engine paths.
      val iv = Tables.events(spark, dir).select(col("user_id"),
        unix_micros(col("ts")).as("s_us"),
        (unix_micros(col("ts")) + 1800000000L).as("e_us"))
      graft.ops.Intervals.merge(iv, "user_id", "s_us", "e_us")
        .orderBy("user_id", "start_us")
    },

    "interval_coverage" -> { (spark, dir) =>
      // Per-user covered wall-clock: the union length of the same
      // exposure windows — the metric a naive sum-of-durations
      // double-counts wherever events cluster. Rolls the islands up by
      // the key they are already partitioned on (no extra exchange).
      val iv = Tables.events(spark, dir).select(col("user_id"),
        unix_micros(col("ts")).as("s_us"),
        (unix_micros(col("ts")) + 1800000000L).as("e_us"))
      graft.ops.Intervals.coverage(iv, "user_id", "s_us", "e_us")
        .orderBy("user_id")
    },

    "entity_pairs" -> { (spark, dir) =>
      // Record-linkage candidate pairs: same brand (blocking), ≥2 of 3
      // shared (name ∪ type) tokens — Jaccard > 2/5 as an integer
      // cross-product. The fuzzy-match stage on its own, before any
      // transitive closure.
      val p = Tables.part(spark, dir)
        .withColumn("nm", concat_ws(" ", col("p_name"), col("p_type")))
      Entity.matchPairs(p, "p_partkey", "nm", Seq("p_brand"), 2, 5)
        .select(col("id_a"), col("id_b"),
          col("inter").cast("long").as("inter"), col("uni").cast("long").as("uni"))
        .orderBy("id_a", "id_b")
    },

    "entity_clusters" -> { (spark, dir) =>
      // Full entity resolution: pairs → connected components → every
      // part labeled with its entity (min member id) + member count.
      // The threshold here is the STRICT identical-token-set one (1/2
      // on 2+1 tokens): under the loose 2/5 threshold transitive
      // closure chains every brand into one entity — the classic ER
      // transitivity collapse, which is why match strictness must rise
      // when closure follows (kept loose in entity_pairs, where no
      // closure happens).
      val p = Tables.part(spark, dir)
        .withColumn("nm", concat_ws(" ", col("p_name"), col("p_type")))
      Entity.resolve(p, "p_partkey", "nm", Seq("p_brand"), 1, 2)
        .orderBy("p_partkey")
    })

  /** Shared SQL: orders → CDC log (mirrors [[orderLog]]). */
  private val LogCte =
    """log AS (SELECT o_custkey AS k, o_orderpriority AS prio,
      |               round(o_totalprice * 100)::BIGINT AS price_cents,
      |               epoch_us(o_orderdate) AS ts_us, o_orderkey AS tie,
      |               CASE WHEN o_orderkey % 10 = 0 THEN 'D' ELSE 'U' END AS op
      |        FROM orders)""".stripMargin

  /** Shared SQL: the two diffed order versions. */
  private val VersionsCte =
    """o AS (SELECT o_orderkey, o_orderstatus,
      |             round(o_totalprice * 100)::BIGINT AS price_cents FROM orders),
      |va AS (SELECT * FROM o WHERE o_orderkey % 7 <> 3),
      |vb AS (SELECT o_orderkey, o_orderstatus,
      |              price_cents + CASE WHEN o_orderkey % 11 = 0 THEN 100 ELSE 0 END AS price_cents
      |       FROM o WHERE o_orderkey % 5 <> 2)""".stripMargin

  val oracles: Map[String, String] = Map(
    "streaming_cdc_upsert" ->
      s"""WITH $LogCte
         |SELECT k AS o_custkey, prio AS o_orderpriority, price_cents, ts_us,
         |       tie AS o_orderkey
         |FROM log
         |QUALIFY row_number() OVER (PARTITION BY k ORDER BY ts_us DESC, tie DESC) = 1
         |ORDER BY o_custkey""".stripMargin,

    "cdc_apply" ->
      s"""WITH $LogCte,
         |s AS (SELECT * FROM log WHERE ts_us < 891388800000000
         |      QUALIFY row_number() OVER (PARTITION BY k ORDER BY ts_us DESC, tie DESC) = 1),
         |snap AS (SELECT k, prio, price_cents, ts_us FROM s WHERE op <> 'D'),
         |b AS (SELECT * FROM log WHERE ts_us >= 891388800000000
         |      QUALIFY row_number() OVER (PARTITION BY k ORDER BY ts_us DESC, tie DESC) = 1)
         |SELECT coalesce(b.k, snap.k) AS o_custkey,
         |       CASE WHEN b.k IS NOT NULL THEN b.prio ELSE snap.prio END AS o_orderpriority,
         |       CASE WHEN b.k IS NOT NULL THEN b.price_cents ELSE snap.price_cents END AS price_cents,
         |       CASE WHEN b.k IS NOT NULL THEN b.ts_us ELSE snap.ts_us END AS ts_us
         |FROM snap FULL JOIN b ON snap.k = b.k
         |WHERE b.op IS NULL OR b.op <> 'D'
         |ORDER BY o_custkey""".stripMargin,

    // the FULL REBUILD — identical to scd2_history's oracle; the Spark
    // side computes it incrementally (prefix history + batch merge)
    "scd2_merge" ->
      """WITH o AS (SELECT o_custkey, o_orderpriority,
        |                  epoch_us(o_orderdate) AS ts_us, o_orderkey FROM orders),
        |c AS (SELECT *, lag(o_orderpriority) OVER
        |        (PARTITION BY o_custkey ORDER BY ts_us, o_orderkey) AS prev FROM o),
        |chg AS (SELECT * FROM c WHERE prev IS NULL OR prev <> o_orderpriority)
        |SELECT o_custkey, o_orderpriority, ts_us AS valid_from,
        |       lead(ts_us) OVER (PARTITION BY o_custkey ORDER BY ts_us, o_orderkey) AS valid_to
        |FROM chg ORDER BY o_custkey, valid_from, o_orderpriority""".stripMargin,

    // the full recompute — the Spark side gets here by merging the
    // delta's partial aggregate into the materialized base aggregate
    "incremental_agg" ->
      s"""WITH $LogCte
         |SELECT k AS o_custkey, count(*)::BIGINT AS n_rows,
         |       sum(price_cents)::BIGINT AS sum_price_cents,
         |       min(price_cents)::BIGINT AS min_price_cents,
         |       max(price_cents)::BIGINT AS max_price_cents,
         |       sum(price_cents)::DOUBLE / count(*) AS avg_price_cents
         |FROM log GROUP BY k ORDER BY o_custkey""".stripMargin,

    "table_diff" ->
      s"""WITH $VersionsCte,
         |ha AS (SELECT o_orderkey, md5(concat_ws('|',
         |         coalesce(CAST(o_orderstatus AS VARCHAR), ' null'),
         |         coalesce(CAST(price_cents AS VARCHAR), ' null'))) AS hash_a FROM va),
         |hb AS (SELECT o_orderkey, md5(concat_ws('|',
         |         coalesce(CAST(o_orderstatus AS VARCHAR), ' null'),
         |         coalesce(CAST(price_cents AS VARCHAR), ' null'))) AS hash_b FROM vb),
         |j AS (SELECT coalesce(ha.o_orderkey, hb.o_orderkey) AS o_orderkey, hash_a, hash_b,
         |             CASE WHEN hash_a IS NULL THEN 'added'
         |                  WHEN hash_b IS NULL THEN 'removed'
         |                  WHEN hash_a <> hash_b THEN 'changed' END AS change
         |      FROM ha FULL JOIN hb ON ha.o_orderkey = hb.o_orderkey)
         |SELECT o_orderkey, change, hash_a, hash_b FROM j
         |WHERE change IS NOT NULL ORDER BY o_orderkey""".stripMargin,

    "column_drift" ->
      s"""WITH $VersionsCte,
         |pa AS (SELECT 'o_orderkey' AS col_name, count(*) AS n_rows_a,
         |              count(o_orderkey) AS n_nonnull_a, count(DISTINCT o_orderkey) AS n_distinct_a FROM va
         |       UNION ALL SELECT 'o_orderstatus', count(*), count(o_orderstatus), count(DISTINCT o_orderstatus) FROM va
         |       UNION ALL SELECT 'price_cents', count(*), count(price_cents), count(DISTINCT price_cents) FROM va),
         |pb AS (SELECT 'o_orderkey' AS col_name, count(*) AS n_rows_b,
         |              count(o_orderkey) AS n_nonnull_b, count(DISTINCT o_orderkey) AS n_distinct_b FROM vb
         |       UNION ALL SELECT 'o_orderstatus', count(*), count(o_orderstatus), count(DISTINCT o_orderstatus) FROM vb
         |       UNION ALL SELECT 'price_cents', count(*), count(price_cents), count(DISTINCT price_cents) FROM vb)
         |SELECT col_name, n_rows_a, n_nonnull_a, n_distinct_a,
         |       n_rows_b, n_nonnull_b, n_distinct_b,
         |       n_rows_b - n_rows_a AS rows_delta,
         |       (n_rows_b - n_nonnull_b) - (n_rows_a - n_nonnull_a) AS nulls_delta,
         |       n_distinct_b - n_distinct_a AS distinct_delta
         |FROM pa JOIN pb USING (col_name) ORDER BY col_name""".stripMargin,

    "dq_checks" ->
      """WITH checked AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, NULL, 'X', -1.0 FROM orders WHERE o_orderkey % 500 = 7),
        |r AS (
        |  SELECT 'accepted_status' AS check_name,
        |         count(*) FILTER (WHERE o_orderstatus IS NULL
        |                             OR o_orderstatus NOT IN ('O', 'F', 'P'))::BIGINT AS n_violations
        |  FROM checked
        |  UNION ALL
        |  SELECT 'fk_custkey',
        |         count(*) FILTER (WHERE o_custkey IS NOT NULL
        |                            AND o_custkey NOT IN (SELECT c_custkey FROM customer))::BIGINT
        |  FROM checked
        |  UNION ALL
        |  SELECT 'not_null_custkey', count(*) FILTER (WHERE o_custkey IS NULL)::BIGINT FROM checked
        |  UNION ALL
        |  SELECT 'positive_price',
        |         count(*) FILTER (WHERE NOT coalesce(o_totalprice > 0, FALSE))::BIGINT FROM checked
        |  UNION ALL
        |  SELECT 'unique_orderkey',
        |         (SELECT coalesce(sum(n - 1), 0)::BIGINT
        |          FROM (SELECT count(*) AS n FROM checked GROUP BY o_orderkey)))
        |SELECT check_name, n_violations,
        |       (CASE WHEN n_violations = 0 THEN 1 ELSE 0 END)::BIGINT AS passed
        |FROM r ORDER BY check_name""".stripMargin,

    "interval_merge" ->
      """WITH iv AS (SELECT user_id, epoch_us(ts) AS s,
        |                   epoch_us(ts) + 1800000000 AS e FROM events),
        |m AS (SELECT *, max(e) OVER (PARTITION BY user_id ORDER BY s, e
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS rm FROM iv),
        |f AS (SELECT *, CASE WHEN rm IS NULL OR s > rm THEN 1 ELSE 0 END AS ni FROM m),
        |g AS (SELECT *, sum(ni) OVER (PARTITION BY user_id ORDER BY s, e
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM f)
        |SELECT user_id, island::BIGINT AS island, min(s) AS start_us, max(e) AS end_us,
        |       count(*) AS n_merged
        |FROM g GROUP BY user_id, island ORDER BY user_id, start_us""".stripMargin,

    "interval_coverage" ->
      """WITH iv AS (SELECT user_id, epoch_us(ts) AS s,
        |                   epoch_us(ts) + 1800000000 AS e FROM events),
        |m AS (SELECT *, max(e) OVER (PARTITION BY user_id ORDER BY s, e
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS rm FROM iv),
        |f AS (SELECT *, CASE WHEN rm IS NULL OR s > rm THEN 1 ELSE 0 END AS ni FROM m),
        |g AS (SELECT *, sum(ni) OVER (PARTITION BY user_id ORDER BY s, e
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM f),
        |isl AS (SELECT user_id, island, min(s) AS s, max(e) AS e
        |        FROM g GROUP BY user_id, island)
        |SELECT user_id, sum(e - s)::BIGINT AS covered_us, count(*) AS n_islands
        |FROM isl GROUP BY user_id ORDER BY user_id""".stripMargin,

    "entity_pairs" ->
      """WITH t AS (SELECT p_partkey, p_brand,
        |             list_distinct(string_split(p_name || ' ' || p_type, ' ')) AS toks
        |           FROM part)
        |SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
        |       len(list_intersect(a.toks, b.toks))::BIGINT AS inter,
        |       len(list_distinct(list_concat(a.toks, b.toks)))::BIGINT AS uni
        |FROM t a JOIN t b ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        |WHERE len(list_intersect(a.toks, b.toks)) * 5
        |    > len(list_distinct(list_concat(a.toks, b.toks))) * 2
        |ORDER BY id_a, id_b""".stripMargin,

    "entity_clusters" ->
      """WITH RECURSIVE t AS (SELECT p_partkey, p_brand,
        |             list_distinct(string_split(p_name || ' ' || p_type, ' ')) AS toks
        |           FROM part),
        |p AS (SELECT a.p_partkey AS id_a, b.p_partkey AS id_b
        |      FROM t a JOIN t b ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        |      WHERE len(list_intersect(a.toks, b.toks)) * 2
        |          > len(list_distinct(list_concat(a.toks, b.toks)))),
        |ed AS (SELECT id_a AS src, id_b AS dst FROM p
        |       UNION SELECT id_b, id_a FROM p),
        |n AS (SELECT DISTINCT src AS node FROM ed),
        |reach(node, lbl) AS (
        |  SELECT node, node FROM n
        |  UNION
        |  SELECT ed.dst, r.lbl FROM reach r JOIN ed ON ed.src = r.node),
        |cl AS (SELECT node AS id, min(lbl) AS cluster_id FROM reach GROUP BY node),
        |lab AS (SELECT p_partkey, coalesce(cl.cluster_id, p_partkey) AS entity_id
        |        FROM part LEFT JOIN cl ON cl.id = p_partkey)
        |SELECT p_partkey, entity_id,
        |       (count(*) OVER (PARTITION BY entity_id))::BIGINT AS n_members
        |FROM lab ORDER BY p_partkey""".stripMargin)
}
