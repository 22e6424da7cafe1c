package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Full-text retrieval over a tokenized corpus — the query side of a
  * training-data platform (find the documents that mention X, pull the
  * passages for a RAG eval set, audit what the corpus says about a
  * topic). Tokenization is the repo-wide whitespace convention
  * (`split(text, ' ')` ≡ DuckDB `string_split`), so every operator here
  * oracles exactly.
  *
  * Design for 100 TB:
  *   - The index unit is the (token, doc, tf) POSTING ROW, never a
  *     materialized per-token posting list: rows partition by token
  *     hash like any fact table, a mega-token (stopword) is just a
  *     skewed key the usual remedies apply to (AQE skew split, or
  *     [[Dedup.stripBoilerplate]] upstream), and Parquet+bucketing by
  *     token makes term lookup a pruned scan.
  *   - Query terms are a tiny literal set: every search is
  *     postings-side `isin` filter (codegen'd, pushed to the scan) →
  *     partial-agg per doc → TakeOrdered(k). The corpus never
  *     re-shuffles for a query.
  *   - Scoring is exact int64 fixed-point (micros), the repo's
  *     established device ([[TextOps.hashedLinearScore]]): no
  *     transcendental functions, so Spark and DuckDB agree bit-for-bit
  *     and rank ties break deterministically.
  */
object Search {

  /** Exact floor division of two non-negative longs as Columns —
    * through DECIMAL, never double: `a - pmod(a, b)` makes the
    * dividend exactly divisible, and decimal division of an exactly
    * divisible pair is exact at any int64 magnitude. The earlier
    * double form happened to be exact for in-domain inputs, but only
    * by ACCIDENT: past a 2^53 dividend, double(D) stays exact solely
    * because every scale constant in this file (22·10⁹, 10⁶, 9·10⁶,
    * 10³) carries enough trailing-zero binary factors to out-pace the
    * growing ulp — a property no caller should have to re-derive, and
    * one that genuinely runs out for a >2^56-token corpus in
    * avgdl_milli (≈350 TB of text) or N > 5·10¹¹ docs in the rarity
    * weight. The decimal form is exact unconditionally; SearchSpec
    * pins a 1000-value band past 2^53 against BigInt arithmetic.
    */
  private[graft] def idiv(a: Column, b: Column): Column =
    ((a - pmod(a, b)).cast("decimal(38,0)") / b.cast("decimal(38,0)"))
      .cast("long")

  /** Frequency postings — the inverted-index core: one row per
    * (token, doc) with the term frequency. One explode + one
    * partial-agg groupBy; at rest, write this bucketed by `token` and
    * term lookups become pruned scans.
    */
  def postings(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    df.select(col(idCol), explode(split(col(textCol), " ")).as("token"))
      .groupBy(col("token"), col(idCol))
      .agg(count(lit(1)).as("tf"))

  /** Positional postings (token, doc, pos) with pos the 0-based token
    * index — the structure phrase and proximity queries consume.
    * Pure map-side (posexplode of the split array); no shuffle.
    */
  def positionalPostings(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    df.select(col(idCol),
        posexplode(split(col(textCol), " ")).as(Seq("pos", "token")))
      .select(col("token"), col(idCol), col("pos"))

  /** [[postings]] restated as a PURE PER-ROW computation — no
    * cross-row aggregate, so it is append-legal on a stream with no
    * watermark (the [[Dedup.perRowSignature]] precedent; feeds
    * [[graft.streaming.StreamingJob.runPostingsIngest]]). Exactly
    * equals the batch groupBy form, pinned in SearchSpec.
    *
    * Per row: sort the (token, pos) pairs, find each run's start
    * (`filter` over the index sequence — position 0 or a token
    * change), pair starts with the next start (`zip_with` against the
    * shifted starts) to get run lengths and each run's original
    * position slice. Linear HOF passes over MATERIALIZED columns plus
    * one O(n log n) sort — never the O(n·distinct) shape of probing
    * `filter(arr, equals-token)` per distinct token, which degrades
    * to O(n²) on high-entropy docs. Output (token, idCol, dl, tf,
    * positions) — [[graft.jobs.BuildTextIndex.postingsTable]]'s full
    * positional payload.
    */
  def perRowPostings(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // sort (token, pos) PAIRS, not bare tokens: struct ordering is
    // field-lexicographic, so runs group by token while each run's
    // slice carries the ORIGINAL ascending positions — which is what
    // makes the output carry the same positional payload as the batch
    // collect_list + sort_array
    val arr = df.select(col(idCol), split(col(textCol), " ").as("__arr"))
      .select(col(idCol), size(col("__arr")).as("dl"), col("__arr"))
      .select(col(idCol), col("dl"),
        array_sort(transform(sequence(lit(0), col("dl") - 1),
          i => struct(element_at(col("__arr"), i + 1).as("token"),
            i.as("pos")))).as("__srt"))
    val starts = arr.withColumn("__starts",
      filter(sequence(lit(0), col("dl") - 1),
        i => (i === 0) ||
          element_at(col("__srt"), i + 1).getField("token") =!=
            element_at(col("__srt"), i).getField("token")))
    starts
      .select(col(idCol), col("dl"),
        explode(zip_with(
          col("__starts"),
          concat(slice(col("__starts"), lit(2), size(col("__starts")) - 1),
            array(col("dl"))),
          (s, e) => struct(
            element_at(col("__srt"), s + 1).getField("token").as("token"),
            (e - s).cast("long").as("tf"),
            transform(slice(col("__srt"), s + 1, e - s),
              p => p.getField("pos")).as("positions")))).as("__run"))
      .select(col("__run.token").as("token"), col(idCol), col("dl"),
        col("__run.tf").as("tf"), col("__run.positions").as("positions"))
  }

  /** Per-document token length — `dl` in ranking formulas. Map-side. */
  def docLengths(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    df.select(col(idCol), size(split(col(textCol), " ")).as("dl"))

  /** Ranked retrieval with BM25's term-saturation and length
    * normalization (k1 = 1.2, b = 0.75 — Robertson et al., Okapi at
    * TREC-3) and an exact RATIONAL rarity weight in place of the
    * log-idf: rarity(t) = (N − df + 1)/(N + 1), the fraction of the
    * corpus NOT containing the term. The log is the one BM25 component
    * that cannot be computed identically across engines (libm vs
    * java.lang.Math differ in the last ulp, and one ulp breaks a
    * hash-match); the rational weight is monotone in df like the log,
    * bounded in (0, 1], and keeps every score an exact integer, so
    * ranking is bit-reproducible anywhere. Scores are
    * micro·micro = pico units:
    *
    *   tfsat_micros = 22·10⁹·tf DIV (10⁴·tf + 3·10³ + (9·10⁶·dl) DIV avgdl_milli)
    *     — exactly tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl)) in micros,
    *       with avgdl_milli = 10³·T DIV N (T total tokens, N docs)
    *   score_pico(d) = Σ_terms rarity_micros · tfsat_micros
    *
    * Overflow bounds (int64): tf, dl < 4·10⁸ (a 400M-token single doc),
    * N − df + 1 < 9·10¹², |terms| ≤ 4000 — all far past any real input;
    * the corpus-size terms (T, N) only ever meet each other inside
    * avgdl_milli.
    *
    * Plan shape: the corpus aggregates once into two broadcast scalars
    * (N, T); postings filter to the literal term set BEFORE any join
    * (pushed to the scan); df-per-term and the final top-k are
    * partial-agg + TakeOrdered. Duplicate query terms are collapsed —
    * a repeated term must not double-score.
    */
  def rankedSearch(df: DataFrame, terms: Seq[String], k: Int = 10,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val q = terms.distinct
    require(q.nonEmpty && q.forall(t => t.nonEmpty && !t.contains(" ")),
      "rankedSearch: terms must be non-empty single tokens")
    val toks = df.select(col(idCol), col(textCol))
    val stats = toks.agg(count(lit(1)).as("n_docs"),
      sum(size(split(col(textCol), " "))).as("n_tokens"))
      .select(col("n_docs"), col("n_tokens"),
        idiv(lit(1000L) * col("n_tokens"), col("n_docs")).as("avgdl_milli"))
    // dl rides the postings pass (it is functionally dependent on the
    // doc, so adding it to the grouping keys is free) — a separate
    // docLengths join would shuffle one row per CORPUS doc to score a
    // handful of matching ones
    val post = toks
      .select(col(idCol), split(col(textCol), " ").as("__arr"))
      .select(col(idCol), size(col("__arr")).as("dl"),
        explode(col("__arr")).as("token"))
      .filter(col("token").isin(q: _*))
      .groupBy(col("token"), col(idCol), col("dl"))
      .agg(count(lit(1)).as("tf"))
    scoredTopK(post, stats, k, idCol)
  }

  /** The ONE scoring body (see [[rankedSearch]] for the formula) —
    * shared by the in-memory path and the stored-index path
    * ([[graft.jobs.BuildTextIndex.searchStored]]) so the two cannot
    * drift. `post` must be the query terms' (token, idCol, dl, tf)
    * rows (one per token × doc); `stats` one row of (n_docs,
    * avgdl_milli). Caches `post`: two consumers (the per-term df and
    * the score join) would otherwise each re-run its lineage.
    */
  private[graft] def scoredTopK(post0: DataFrame, stats: DataFrame,
      k: Int, idCol: String): DataFrame = {
    val post = Caches.register(post0.cache())
    val dfreq = post.groupBy(col("token"))
      .agg(count(lit(1)).as("df"))
    // loud NAMED overflow guard (the guardedWeight posture): 22·10⁹·tf
    // and 9·10⁶·dl are exact LONG arithmetic, so a tf or dl past 4·10⁸
    // (a 400M-token single document) cannot score. ANSI mode would
    // throw its own ARITHMETIC_OVERFLOW — correct but anonymous, and
    // gone if a caller's session disables ANSI (then it wraps NEGATIVE
    // and silently corrupts the ranking). The guard wraps tf at its
    // FIRST use so the named error — which identifies the document and
    // the remedy — wins the evaluation order. One branch per MATCHING
    // posting row, not per corpus token.
    val tfG = when(col("dl").cast("long") > lit(400000000L) ||
        col("tf") > lit(400000000L),
      raise_error(concat(lit("rankedSearch: doc "),
        col(idCol).cast("string"),
        lit(" has tf/dl past 4e8 — the int64 fixed-point score would " +
          "overflow; chunk the document first"))))
      .otherwise(col("tf"))
    post
      .join(broadcast(dfreq), "token")
      .crossJoin(broadcast(stats))
      .select(col(idCol),
        (idiv(lit(1000000L) * (col("n_docs") - col("df") + lit(1L)),
          col("n_docs") + lit(1L)) *
          idiv(lit(22000000000L) * tfG,
            lit(10000L) * tfG + lit(3000L) +
              idiv(lit(9000000L) * col("dl"), col("avgdl_milli"))))
          .as("term_score"))
      .groupBy(col(idCol))
      .agg(sum(col("term_score")).as("score_pico"),
        count(lit(1)).as("n_terms_hit"))
      .orderBy(col("score_pico").desc, col(idCol))
      .limit(k)
  }

  /** Passage extraction — the RAG pull: for every occurrence of `term`,
    * the ±`window`-token context around it, clamped to the document.
    * Entirely MAP-SIDE: the occurrence positions come from the same
    * row that holds the token array, so there is no join and no
    * shuffle at all — the corpus streams through one projection and
    * only matching rows emit. Output (idCol, center, passage), center
    * the 0-based occurrence position.
    */
  def passages(df: DataFrame, term: String, window: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(term.nonEmpty && !term.contains(" "),
      "passages: term must be a non-empty single token")
    require(window >= 0, "passages: window must be >= 0")
    val start = greatest(col("pos") - window, lit(0))
    df.select(col(idCol), split(col(textCol), " ").as("__arr"))
      .select(col(idCol), col("__arr"), size(col("__arr")).as("dl"),
        posexplode(col("__arr")).as(Seq("pos", "token")))
      .filter(col("token") === lit(term))
      .select(col(idCol), col("pos").as("center"),
        array_join(slice(col("__arr"), start + 1,
          least(col("pos") + window, col("dl") - 1) - start + 1), " ")
          .as("passage"))
  }

  /** Conjunctive boolean retrieval with negation: documents containing
    * EVERY `all` term and NONE of the `none` terms, with the summed
    * term frequency of the required terms as a relevance hint. One
    * postings pass filtered to the literal term set, one partial-agg
    * groupBy — the corpus never shuffles.
    */
  def booleanSearch(df: DataFrame, all: Seq[String],
      none: Seq[String] = Seq.empty, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val (need, ban) = booleanTerms(all, none)
    booleanFromPostings(
      postings(df, idCol, textCol)
        .filter(col("token").isin((need ++ ban): _*)),
      need, ban, idCol)
  }

  /** Shared guards of the two boolean entry points; returns the
    * distinct (required, banned) term lists.
    */
  private[graft] def booleanTerms(all: Seq[String],
      none: Seq[String]): (Seq[String], Seq[String]) = {
    val need = all.distinct
    val ban = none.distinct
    require(need.nonEmpty,
      "booleanSearch: `all` must be non-empty (a pure negation would " +
        "return the whole corpus — filter that explicitly)")
    require((need ++ ban).forall(t => t.nonEmpty && !t.contains(" ")),
      "booleanSearch: terms must be non-empty single tokens")
    require(need.intersect(ban).isEmpty,
      s"booleanSearch: terms ${need.intersect(ban).mkString(",")} are " +
        "both required and banned")
    (need, ban)
  }

  /** The ONE boolean body over any (token, idCol, tf) frame already
    * filtered to the query's tokens — shared by the corpus path and
    * the stored index so the two cannot drift.
    */
  private[graft] def booleanFromPostings(post: DataFrame,
      need: Seq[String], ban: Seq[String], idCol: String): DataFrame =
    post
      .groupBy(col(idCol))
      .agg(
        count(when(col("token").isin(need: _*), 1)).as("__hit"),
        count(when(col("token").isin(ban: _*), 1)).as("__ban"),
        sum(when(col("token").isin(need: _*), col("tf"))
          .otherwise(0L)).as("tf_sum"))
      .filter(col("__hit") === lit(need.size.toLong) &&
        col("__ban") === lit(0L))
      .select(col(idCol), col("tf_sum"))

  /** Exact phrase occurrences: every (doc, start_pos) where the tokens
    * `phrase(0) … phrase(m−1)` appear consecutively (0-based start).
    * Positions for the phrase's (few, literal) tokens are joined
    * term-by-term on (doc, pos + i) — each side is a scan-pruned
    * filter, the join keys are fine-grained (doc, position), and the
    * candidate volume after the first join is bounded by the rarer
    * term's postings. A stopword inside the phrase fattens one input
    * but never squares anything.
    */
  /** Proximity (NEAR) retrieval: documents where `termA` and `termB`
    * occur within `window` token positions of each other, with the
    * co-occurrence count and the closest distance. The position join
    * keys on the doc with the distance bound as a residual predicate —
    * both inputs are scan-pruned literal filters, and the per-doc pair
    * fan-out is bounded by that doc's own occurrence counts (a
    * stopword term fattens one input linearly; nothing squares across
    * docs). With termA == termB the pair is unordered (pos_a < pos_b),
    * so a single occurrence never matches itself.
    */
  def proximitySearch(df: DataFrame, termA: String, termB: String,
      window: Int, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    proximityFromPositions(
      positionalPostings(df, idCol, textCol)
        .filter(col("token").isin(Seq(termA, termB).distinct: _*)),
      termA, termB, window, idCol)

  /** The ONE proximity body over any (token, idCol, pos) frame already
    * filtered to the two terms — shared by the corpus path and the
    * stored positional index ([[graft.jobs.BuildTextIndex
    * .searchProximity]]) so the two cannot drift.
    */
  private[graft] def proximityFromPositions(pos0: DataFrame, termA: String,
      termB: String, window: Int, idCol: String): DataFrame = {
    require(window >= 1, "proximitySearch: window must be >= 1")
    require(Seq(termA, termB).forall(t => t.nonEmpty && !t.contains(" ")),
      "proximitySearch: terms must be non-empty single tokens")
    val pos = Caches.register(pos0.cache())
    val a = pos.filter(col("token") === lit(termA))
      .select(col(idCol), col("pos").as("__pa"))
    val b = pos.filter(col("token") === lit(termB))
      .select(col(idCol), col("pos").as("__pb"))
    val dist =
      if (termA == termB) col("__pb") - col("__pa")
      else abs(col("__pa") - col("__pb"))
    val pairCond =
      if (termA == termB) col("__pa") < col("__pb") && dist <= window
      else dist <= window
    a.join(b, Seq(idCol)).filter(pairCond)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_pairs"),
        min(dist).cast("long").as("min_dist"))
  }

  /** Exact phrase occurrences: every (doc, start_pos) where the tokens
    * `phrase(0) … phrase(m−1)` appear consecutively (0-based start).
    * Positions for the phrase's (few, literal) tokens are joined
    * term-by-term on (doc, pos + i) — each side is a scan-pruned
    * filter, the join keys are fine-grained (doc, position), and the
    * candidate volume after the first join is bounded by the rarer
    * term's postings. A stopword inside the phrase fattens one input
    * but never squares anything.
    */
  def phraseSearch(df: DataFrame, phrase: Seq[String],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(phrase.nonEmpty &&
      phrase.forall(t => t.nonEmpty && !t.contains(" ")),
      "phraseSearch: phrase must be non-empty single tokens")
    phraseFromPositions(
      positionalPostings(df, idCol, textCol)
        .filter(col("token").isin(phrase.distinct: _*)),
      phrase, idCol)
  }

  /** The ONE phrase body over any (token, idCol, pos) frame already
    * filtered to the phrase's tokens — shared by the corpus path and
    * the stored positional index so the two cannot drift. Cached: each
    * of the m phrase terms re-filters the frame, which holds only the
    * phrase tokens' positions.
    */
  private[graft] def phraseFromPositions(pos0: DataFrame,
      phrase: Seq[String], idCol: String): DataFrame = {
    val pos = Caches.register(pos0.cache())
    val first = pos.filter(col("token") === lit(phrase.head))
      .select(col(idCol), col("pos").as("start_pos"))
    phrase.zipWithIndex.drop(1).foldLeft(first) { case (acc, (t, i)) =>
      acc.join(
        pos.filter(col("token") === lit(t))
          .select(col(idCol), (col("pos") - lit(i)).as("start_pos")),
        Seq(idCol, "start_pos"))
    }
  }
}
