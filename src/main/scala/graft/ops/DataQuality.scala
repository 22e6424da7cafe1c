package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Post-write validation checks, engine-side (reference runs these from
  * Airflow after each hour: sessionization_batch_test.py:39–87):
  * row-count parity between input and output partitions, and non-null
  * session ids. Single-action implementations (one aggregate each) so a
  * 100 TB check is one scan, not a collect.
  */
object DataQuality {

  /** (input rows, output rows, parity) — DAGT:59–60 invariant. */
  def rowCountParity(in: DataFrame, out: DataFrame): (Long, Long, Boolean) = {
    val a = in.count(); val b = out.count()
    (a, b, a == b)
  }

  /** Number of NULLs in a column — must be 0 for session_id
    * (DAGT:69–71 invariant).
    */
  def nullCount(df: DataFrame, column: String): Long =
    df.agg(sum(col(column).isNull.cast("long"))).head().getLong(0)

  /** Attach free validation metrics to a job's existing action via
    * `Dataset.observe`: row count and null count ride along with whatever
    * the pipeline already executes (e.g. the write), so the audit costs
    * ZERO extra scans — versus [[rowCountParity]]/[[nullCount]] which
    * each run their own aggregate. Read results from `obs.get` after any
    * action on the returned frame.
    */
  /** Single-pass column profile — the first audit run against any new
    * table: per column, row count, non-null count, exact distinct
    * count, and min/max (as strings, so one long output schema covers
    * every column type). ONE aggregate over one scan produces all
    * columns' stats (Spark plans the multi-distinct via expand — c×
    * shuffle rows, still one pass over storage); the wide one-row
    * result is exploded to a (col_name, stats) row per column.
    * Portability note: profile integer/string/epoch columns — float
    * min/max string formatting is engine-specific.
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty)
    val aggs = count(lit(1)).as("__n") +: cols.flatMap { c => Seq(
      count(col(c)).as(s"__nn_$c"),
      countDistinct(col(c)).as(s"__nd_$c"),
      min(col(c)).cast("string").as(s"__min_$c"),
      max(col(c)).cast("string").as(s"__max_$c")) }
    val row = df.agg(aggs.head, aggs.tail: _*)
    val entries = array(cols.map { c => struct(
      lit(c).as("col_name"), col("__n").as("n_rows"),
      col(s"__nn_$c").as("n_nonnull"), col(s"__nd_$c").as("n_distinct"),
      col(s"__min_$c").as("min_repr"), col(s"__max_$c").as("max_repr")) }: _*)
    row.select(explode(entries).as("p")).select(col("p.*"))
  }

  /** [[profile]] at WIDTH: the single-aggregate form plans c distinct
    * aggregates as one expand whose grouping tuple carries ALL c
    * columns — measured 37 s at 50 columns × 2·10^5 rows (ScaleSpec)
    * vs ~1 s at the 5-column audit width, because every expanded row
    * hauls the full 50-column null-padded tuple through the shuffle.
    * This variant profiles `batchSize` columns per aggregate and unions
    * the per-batch results: each batch's expand tuple is `batchSize`
    * wide, and over a columnar source each batch scan prunes to its own
    * columns, so total bytes read stay ~one full scan of the profiled
    * columns. Use it past ~15 columns; results are identical to
    * [[profile]] (same per-column aggregates, verified in ScaleSpec).
    */
  def profileBatched(df: DataFrame, cols: Seq[String],
      batchSize: Int = 12): DataFrame = {
    require(batchSize > 0)
    cols.grouped(batchSize).map(b => profile(df, b)).reduce(_.unionAll(_))
  }

  def observed(df: DataFrame, nullCheckCol: String): (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation()
    (df.observe(obs, count(lit(1)).as("n_rows"),
      sum(col(nullCheckCol).isNull.cast("long")).as("n_nulls")), obs)
  }

  /** A declarative table constraint (the Deequ/dbt-tests shape): each
    * check evaluates to a violation count over the table.
    */
  sealed trait Check { def name: String }
  /** Column must have no NULLs. */
  final case class NotNull(name: String, column: String) extends Check
  /** Column tuple must be unique; violations = rows beyond the first in
    * each duplicated group.
    */
  final case class Unique(name: String, columns: Seq[String]) extends Check
  /** Row-level predicate that every row must satisfy (NULL predicate
    * result counts as a violation — unknown is not a pass).
    */
  final case class Satisfies(name: String, predicate: org.apache.spark.sql.Column)
    extends Check
  /** Referential integrity: every non-null `column` value must appear in
    * `dim`'s `dimColumn` (SQL FK semantics — NULL FKs pass).
    */
  final case class RefIntegrity(name: String, column: String,
      dim: DataFrame, dimColumn: String) extends Check

  /** Run a constraint suite: one row per check — (check_name,
    * n_violations, passed 0/1). ALL row-level checks (NotNull /
    * Satisfies) fold into a SINGLE aggregate pass over the table
    * (conditional sums — one scan no matter how many constraints);
    * each Unique adds one partial-agg groupBy and each RefIntegrity one
    * anti-join (broadcast when the dimension is small). At 100 TB a
    * 20-constraint suite is therefore ~one scan plus one shuffle per
    * uniqueness key — not 20 scans.
    */
  def runChecks(df: DataFrame, checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty, "runChecks: empty constraint suite")
    require(checks.map(_.name).distinct.size == checks.size,
      "runChecks: duplicate check names")
    val rowLevel = checks.collect {
      case NotNull(n, c) => n -> col(c).isNull
      case Satisfies(n, p) => n -> !coalesce(p, lit(false))
    }
    val rowFrames: Seq[DataFrame] =
      if (rowLevel.isEmpty) Nil
      else {
        val aggs = rowLevel.map { case (n, viol) =>
          coalesce(sum(viol.cast("long")), lit(0L)).as(n) }
        val one = df.agg(aggs.head, aggs.tail: _*)
        Seq(one.select(explode(array(rowLevel.map { case (n, _) => struct(
          lit(n).as("check_name"), col(n).as("n_violations")) }: _*)).as("c"))
          .select(col("c.*")))
      }
    val others: Seq[DataFrame] = checks.collect {
      case Unique(n, cols) =>
        df.groupBy(cols.map(col): _*).agg(count(lit(1)).as("__n"))
          .agg(lit(n).as("check_name"),
            coalesce(sum(col("__n") - 1), lit(0L)).as("n_violations"))
      case RefIntegrity(n, c, dim, dc) =>
        df.filter(col(c).isNotNull)
          .join(dim.select(col(dc).as(c)), Seq(c), "left_anti")
          .agg(lit(n).as("check_name"),
            count(lit(1)).as("n_violations"))
    }
    (rowFrames ++ others).reduce(_.unionByName(_))
      .withColumn("passed", (col("n_violations") === 0).cast("long"))
  }
}
