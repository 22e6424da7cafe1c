package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Market-basket association mining (Agrawal & Srikant, "Fast
  * algorithms for mining association rules", VLDB 1994 — the a-priori
  * support lattice, specialized to pair rules): co-occurrence counts,
  * and directed rules a → b with exact integer confidence and lift.
  * The commerce twin of the dedup stack's "prune cheap, verify exact"
  * discipline: support counting prunes the pair lattice before any
  * per-rule statistics are computed.
  *
  * Scale shape (the `coPurchaseEdges` lesson,
  * `queries/RelationalQueries.scala`): pair counting is ONE groupBy
  * shuffle of the fact table + an in-row pair expansion —
  * `collect_set` dedupes (basket, item) map-side and k items expand to
  * k·(k−1)/2 ordered pairs inside the row — never a two-sided
  * self-join that shuffles the fact twice. The in-row k² expansion
  * assumes bounded baskets (carts are; a "basket" with 10⁵ members is
  * a data-model bug), enforced by a LOUD in-row cap rather than a
  * silent truncation or an extra census pass.
  *
  * Exactness: support counts are plain integers; confidence
  * (n_both/n_ante) ships milli-scaled and lift
  * (N·n_both/(n_ante·n_cons)) micro-scaled, both through
  * [[Search.idiv]]'s decimal floor division with decimal NUMERATORS —
  * 10⁶·n_both·N overflows int64 at ~10⁹ baskets, so the products are
  * formed in decimal(38), exact at any real scale. Everything
  * reproduces bit-for-bit in the DuckDB oracle.
  */
object Associations {

  private val Dec = "decimal(38,0)"

  /** The (basket, item) projection, null-dropped — NOT yet deduped:
    * [[pairsFromBasketItems]] dedupes via collect_set and [[rules]]
    * dedupes once into its cache, so a distinct here would just add an
    * exchange to the standalone [[pairCounts]] path.
    */
  private def basketItems(df: DataFrame, basketCol: String,
      itemCol: String): DataFrame =
    df.select(col(basketCol).as("b"), col(itemCol).as("i"))
      .filter(col("b").isNotNull && col("i").isNotNull)

  /** Pair co-occurrence counts: (item_a, item_b, n_both) with
    * item_a < item_b, n_both = baskets containing BOTH. One fact
    * shuffle (the groupBy), map-side-deduped sets, in-row expansion.
    * Baskets larger than `maxBasket` raise in-row — the k² expansion
    * is the cost model's one assumption, so breaking it is loud.
    */
  private def pairsFromBasketItems(bi: DataFrame,
      maxBasket: Int): DataFrame = {
    require(maxBasket >= 2, s"pairCounts: maxBasket must be >= 2, got $maxBasket")
    val guarded: Column = when(size(col("ps")) > maxBasket,
      raise_error(concat(lit("pairCounts: basket "), col("b").cast("string"),
        lit(s" holds more than $maxBasket distinct items — the in-row " +
          "pair expansion is quadratic in basket size; raise maxBasket " +
          "only with a measured cost model, or pre-split the basket"))))
      .otherwise(col("ps"))
    bi.groupBy(col("b"))
      .agg(collect_set(col("i")).as("ps"))
      .select(explode(flatten(transform(guarded, a =>
        transform(filter(col("ps"), bb => a < bb),
          bb => struct(a.as("x"), bb.as("y")))))).as("e"))
      .groupBy(col("e.x").as("item_a"), col("e.y").as("item_b"))
      .agg(count(lit(1)).as("n_both"))
  }

  def pairCounts(df: DataFrame, basketCol: String, itemCol: String,
      maxBasket: Int = 1024): DataFrame =
    pairsFromBasketItems(basketItems(df, basketCol, itemCol), maxBasket)

  /** Directed association rules with support ≥ `minSupport`:
    * (antecedent, consequent, n_both, n_ante, n_cons, n_baskets,
    * confidence_milli, lift_micro). Both directions of every
    * supported pair are emitted (confidence is asymmetric; lift is
    * shared). The support filter applies BEFORE the per-item joins —
    * the a-priori prune: only surviving pairs pay for statistics.
    * Item supports and N are one aggregate each over the deduped
    * (basket, item) base; the per-item support table joins broadcast
    * (it is at most the catalog, and only supported items survive
    * the semi-ish join anyway).
    */
  def rules(df: DataFrame, basketCol: String, itemCol: String,
      minSupport: Long, maxBasket: Int = 1024): DataFrame = {
    require(minSupport >= 1,
      s"rules: minSupport must be >= 1, got $minSupport")
    // dedupe ONCE and cache: the pair fold, the per-item supports, and
    // the basket count all read the cached distinct (basket, item)
    // pairs — the fact table is scanned exactly once however many
    // statistics the rule shape needs (registry-freed between queries)
    val base = Caches.register(
      basketItems(df, basketCol, itemCol).distinct().cache())
    val supported = pairsFromBasketItems(base, maxBasket)
      .filter(col("n_both") >= minSupport)
    // both directions (confidence is asymmetric) via ONE in-row explode
    // — a unionAll of two selects would evaluate the whole pair-count
    // subtree twice (measured: 14 exchanges instead of 9)
    val directed = supported.select(explode(array(
        struct(col("item_a").as("antecedent"),
          col("item_b").as("consequent")),
        struct(col("item_b").as("antecedent"),
          col("item_a").as("consequent")))).as("r"), col("n_both"))
      .select(col("r.antecedent"), col("r.consequent"), col("n_both"))
    // one PLAN-IDENTICAL support subtree on both join sides (aliases
    // applied above the join, not inside it) so Spark's exchange reuse
    // evaluates the per-item aggregate once, not twice
    // base is distinct, so plain counts ARE the distinct-basket supports
    val itemSupport = base.groupBy(col("i"))
      .agg(count(lit(1)).as("n_item"))
    val nBaskets = base.agg(countDistinct(col("b")).as("n_baskets"))
    directed
      .join(broadcast(itemSupport), col("i") === col("antecedent"))
      .withColumnRenamed("n_item", "n_ante").drop("i")
      .join(broadcast(itemSupport), col("i") === col("consequent"))
      .withColumnRenamed("n_item", "n_cons").drop("i")
      .crossJoin(broadcast(nBaskets))
      .select(col("antecedent"), col("consequent"), col("n_both"),
        col("n_ante"), col("n_cons"), col("n_baskets"),
        Search.idiv(lit(1000L).cast(Dec) * col("n_both").cast(Dec),
          col("n_ante").cast(Dec)).as("confidence_milli"),
        Search.idiv(
          lit(1000000L).cast(Dec) * col("n_both").cast(Dec) *
            col("n_baskets").cast(Dec),
          col("n_ante").cast(Dec) * col("n_cons").cast(Dec))
          .as("lift_micro"))
  }
}
