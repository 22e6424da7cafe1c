package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Commerce-analytics composites over the relational core. */
object Commerce {

  /** RFM segmentation the way it survives 100 TB: quartile thresholds
    * come from the mergeable bucket histograms
    * ([[Sketches.bucketedQuantiles]] — nearest-rank hi bounds by pure
    * integer arithmetic over ≤ range/width rows), NEVER a global ntile
    * sort (a single-task sort of every customer is the classic RFM
    * scale trap); each customer's (recency, frequency, monetary) then
    * scores 1–4 by three broadcast threshold comparisons. Threshold
    * error < the metric's bucket width — pass width 1 where the metric
    * is small-ranged and exactness matters (frequency). The
    * per-customer table is computed ONCE into a registered cache; the
    * three histograms, the max-date scalar, and the scoring pass all
    * read it, so the orders table is scanned exactly once.
    *
    * Output: (custCol, recency_days, n_orders, monetary_cents,
    * recency_q, frequency_q, monetary_q, segment) with q ∈ [1, 4]
    * ascending by VALUE (recency_q = 4 is the most stale customer —
    * consumers wanting "4 = best" flip with 5 − q) and
    * segment = recency_q·100 + frequency_q·10 + monetary_q.
    */
  def rfmSegments(orders: DataFrame,
      custCol: String = "o_custkey",
      dateCol: String = "o_orderdate",
      priceCol: String = "o_totalprice",
      recencyWidthDays: Long = 30L,
      frequencyWidth: Long = 1L,
      monetaryWidthCents: Long = 1000000L): DataFrame = {
    val perCust = Caches.register(orders.groupBy(col(custCol)).agg(
        max(floor(unix_micros(col(dateCol)) / lit(86400000000L)))
          .as("last_day"),
        count(lit(1)).as("n_orders"),
        sum(round(col(priceCol) * 100).cast("long")).as("monetary_cents"))
      .cache())
    val maxDay = perCust.agg(max(col("last_day")).as("max_day"))
    val m = Caches.register(perCust.crossJoin(broadcast(maxDay))
      .select(col(custCol), (col("max_day") - col("last_day")).as("recency_days"),
        col("n_orders"), col("monetary_cents"))
      .cache())
    def thresholds(valueCol: String, width: Long, tag: String): DataFrame = {
      val hist = Sketches.bucketHistogram(m, valueCol, width)
      Sketches.bucketedQuantiles(hist, width, Seq((1, 4), (1, 2), (3, 4)))
        .agg(max(when(col("q_num") === 1 && col("q_den") === 4, col("hi")))
            .as(s"${tag}25"),
          max(when(col("q_num") === 1 && col("q_den") === 2, col("hi")))
            .as(s"${tag}50"),
          max(when(col("q_num") === 3 && col("q_den") === 4, col("hi")))
            .as(s"${tag}75"))
    }
    def score(v: Column, t: String): Column =
      lit(1L) + (v > col(s"${t}25")).cast("long") +
        (v > col(s"${t}50")).cast("long") +
        (v > col(s"${t}75")).cast("long")
    m.crossJoin(broadcast(thresholds("recency_days", recencyWidthDays, "r")))
      .crossJoin(broadcast(thresholds("n_orders", frequencyWidth, "f")))
      .crossJoin(broadcast(thresholds("monetary_cents", monetaryWidthCents, "m")))
      .select(col(custCol), col("recency_days"), col("n_orders"),
        col("monetary_cents"),
        score(col("recency_days"), "r").as("recency_q"),
        score(col("n_orders"), "f").as("frequency_q"),
        score(col("monetary_cents"), "m").as("monetary_q"))
      .withColumn("segment",
        col("recency_q") * 100 + col("frequency_q") * 10 + col("monetary_q"))
  }
}
