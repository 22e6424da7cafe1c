package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: quality scoring,
  * token statistics, heuristic language ID, and document fingerprinting.
  * All built from codegen'd built-ins (split/regexp/HOFs) — no UDFs — and
  * all per-row scalar math, so they parallelize embarrassingly and oracle
  * exactly.
  */
object TextOps {

  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is", "on")

  /** Sliding-window document chunking — split long documents into
    * fixed-size token windows with overlap (the complement of sequence
    * packing: packing concatenates SHORT docs into bins, chunking splits
    * LONG docs so no window boundary loses context). The last window may
    * run short; every document emits at least one chunk. Pure per-row
    * explode — zero shuffle, embarrassingly parallel at any scale.
    * Output: (id, chunk_no, start_tok, n_chunk_tokens, chunk_text).
    */
  def chunkDocs(df: DataFrame, windowTokens: Int = 32, strideTokens: Int = 24,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(windowTokens > 0 && strideTokens > 0 && strideTokens <= windowTokens)
    val toks = split(col(textCol), " ")
    val n = size(toks)
    val nChunks = lit(1L) + greatest(lit(0L),
      ceil((n.cast("double") - windowTokens) / strideTokens).cast("long"))
    df.select(col(idCol), toks.as("__toks"), n.as("__n"), nChunks.as("__nc"))
      .select(col(idCol), col("__toks"), col("__n"),
        explode(sequence(lit(0L), col("__nc") - 1)).as("chunk_no"))
      .select(col(idCol), col("chunk_no"),
        (col("chunk_no") * strideTokens).as("start_tok"),
        least(lit(windowTokens.toLong), col("__n") - col("chunk_no") * strideTokens)
          .as("n_chunk_tokens"),
        array_join(slice(col("__toks"),
          (col("chunk_no") * strideTokens + 1).cast("int"), lit(windowTokens)), " ")
          .as("chunk_text"))
  }

  /** Per-group frequency capping: keep the `k` rows with the lowest
    * md5(id) in each group — crawl pipelines cap any one domain's
    * contribution to the corpus, and the hash order makes the kept
    * sample deterministic across runs and engines (unlike rand()-based
    * sampling). The rank<=k filter rides Spark's WindowGroupLimit
    * pushdown: per-partition k-row heaps run BEFORE the exchange, so a
    * giant group ships only k·partitions candidate rows.
    */
  def groupQuota(df: DataFrame, k: Int, groupCol: String = "source",
      idCol: String = "doc_id"): DataFrame = {
    require(k > 0)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(groupCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.withColumn("quota_rk", row_number().over(w))
      .filter(col("quota_rk") <= k)
  }

  /** Sequence packing, single-window form: documents concatenate per
    * source shard in id order; each doc's bin is the `binTokens` window
    * its first token lands in (sequential fill, no doc splitting). ONE
    * exchange — shards pack independently. Assumes no single shard
    * outgrows a window task (the ScaleSpec-measured boundary: 10^6 docs
    * ≈ 0.7 s); past that, use [[packSequencesTwoPhase]].
    * Input: (id, src, tokens) columns; output adds (bin_no, offset_tokens).
    */
  def packSequences(df: DataFrame, binTokens: Int = 4096,
      idCol: String = "doc_id", srcCol: String = "source",
      tokCol: String = "n_tokens"): DataFrame = {
    require(binTokens > 0)
    val W = org.apache.spark.sql.expressions.Window
    val w = W.partitionBy(col(srcCol)).orderBy(col(idCol))
      .rowsBetween(W.unboundedPreceding, 0)
    df.withColumn("__cum", sum(col(tokCol)).over(w))
      .select(col(idCol), col(srcCol), col(tokCol),
        ((col("__cum") - col(tokCol)) / binTokens).cast("long").as("bin_no"),
        (col("__cum") - col(tokCol)).as("offset_tokens"))
  }

  /** Two-phase sequence packing — the escape hatch for a shard that
    * outgrows a single window task (the hot-shard boundary pinned in
    * ScaleSpec). Docs bucket by id RANGE (order-preserving, so
    * bucket-local order + bucket order = shard order):
    *   phase 1: running sum WITHIN each (source, bucket) — parallel
    *            across buckets, the serialized span shrinks from the
    *            whole shard to one bucket;
    *   phase 2: per-bucket token totals prefix-sum into per-bucket base
    *            offsets (a window over #buckets rows per source — tiny)
    *            and join back (small side, broadcastable by stats).
    * Output is IDENTICAL to [[packSequences]]: offset = bucket base +
    * local running sum − own tokens. One extra narrow shuffle (the
    * totals aggregate) buys per-bucket parallelism — at 100 TB a
    * pathological single-source corpus packs at bucket granularity
    * instead of serializing into one task.
    */
  def packSequencesTwoPhase(df: DataFrame, binTokens: Int = 4096,
      bucketWidth: Long = 65536L, idCol: String = "doc_id",
      srcCol: String = "source", tokCol: String = "n_tokens"): DataFrame = {
    require(binTokens > 0 && bucketWidth > 0)
    val W = org.apache.spark.sql.expressions.Window
    val bucketed = df.withColumn("__bucket",
      floor(col(idCol) / bucketWidth).cast("long"))
    val w1 = W.partitionBy(col(srcCol), col("__bucket")).orderBy(col(idCol))
      .rowsBetween(W.unboundedPreceding, 0)
    val local = bucketed.withColumn("__cum", sum(col(tokCol)).over(w1))
    val w2 = W.partitionBy(col(srcCol)).orderBy(col("__bucket"))
      .rowsBetween(W.unboundedPreceding, -1)
    val bases = bucketed.groupBy(col(srcCol), col("__bucket"))
      .agg(sum(col(tokCol)).as("__btotal"))
      .withColumn("__base", coalesce(sum(col("__btotal")).over(w2), lit(0L)))
      .select(col(srcCol), col("__bucket"), col("__base"))
    local.join(bases, Seq(srcCol, "__bucket"))
      .withColumn("__off", col("__base") + col("__cum") - col(tokCol))
      .select(col(idCol), col(srcCol), col(tokCol),
        (col("__off") / binTokens).cast("long").as("bin_no"),
        col("__off").as("offset_tokens"))
  }

  /** Per-document quality metrics: token counts, distinct ratio, stopword
    * ratio, punctuation count and a simple keep/drop flag. Ratios are
    * int/int double divisions (bit-identical across engines).
    */
  def qualityMetrics(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val toks = split(col(textCol), " ")
    val nToks = size(toks)
    val stopArr = array(Stopwords.map(lit): _*)
    val nStop = size(filter(toks, t => array_contains(stopArr, t)))
    val nPunct = size(regexp_extract_all(col(textCol), lit("[^a-z0-9 ]"), lit(0)))
    df.select(
      col(idCol),
      length(col(textCol)).as("n_chars"),
      nToks.as("n_tokens"),
      size(array_distinct(toks)).as("n_distinct"),
      nStop.as("n_stopwords"),
      nPunct.as("n_punct"),
      (size(array_distinct(toks)).cast("double") / nToks).as("distinct_ratio"),
      (nStop.cast("double") / nToks).as("stopword_ratio"),
      (nToks >= 10 && nStop * 20 < nToks * 7).as("keep"))
  }

  /** Word 3-grams of a MATERIALIZED token-array column, built from
    * slice + zip_with. The input must be a bound column (not an inline
    * `split(...)`): Catalyst does not common-subexpression-eliminate
    * through lambda bodies, so the transform-over-index-sequence form
    * (`transform(sequence(...), i => element_at(toks, i))` with `toks`
    * an inline split) re-splits the whole string for EVERY gram —
    * O(n²) string work per document. slice reads the bound array three
    * times (cheap) and zip_with walks the slices pairwise.
    */
  private def wordTrigrams(ts: Column): Column = {
    val n = size(ts)
    when(n >= 3, zip_with(
        zip_with(slice(ts, lit(1), n - 2), slice(ts, lit(2), n - 2),
          (a, b) => concat_ws(" ", a, b)),
        slice(ts, lit(3), n - 2),
        (ab, c) => concat_ws(" ", ab, c)))
      .otherwise(array().cast("array<string>"))
  }

  /** Gopher-style repetition quality signal: the fraction of a
    * document's word 3-grams that are duplicates of an earlier 3-gram
    * in the SAME document (boilerplate, keyword stuffing, degenerate
    * generations all spike it). Pure per-row projection — 3-grams are
    * assembled positionally inside Catalyst ([[wordTrigrams]] over a
    * materialized token array — NOT an inline-split transform, which
    * would be O(n²) per doc), counted with size/array_distinct; no
    * explode, no shuffle, so at 100 TB this is a free pass over the
    * scan. The ratio divides two exact integers, reproducible across
    * engines.
    */
  def repetitionStats(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val n = size(col("__grams"))
    val nd = size(array_distinct(col("__grams")))
    df.select(col(idCol), split(col(textCol), " ").as("__toks"))
      .select(col(idCol), wordTrigrams(col("__toks")).as("__grams"))
      .select(
        col(idCol),
        n.cast("long").as("n_grams"),
        nd.cast("long").as("n_distinct"),
        when(n > 0, (n - nd).cast("double") / n.cast("double"))
          .otherwise(lit(0.0)).as("dup_frac"))
  }

  /** Global token frequency: explode + hash aggregate (partial+final, so
    * the shuffle carries one row per distinct token per partition).
    */
  def tokenCounts(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    df.select(col(idCol), explode(split(col(textCol), " ")).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col(idCol)).as("n_docs"))

  /** Deterministic MLM masking — the BERT pretraining data-prep recipe
    * (Devlin et al. 2018, arXiv:1810.04805 §3.1): select `perMille`/1000
    * of token positions, and of those give 80% the [MASK] token, 10% a
    * pseudo-random vocabulary token, 10% the original (so the encoder
    * cannot rely on [MASK] marking every corrupted slot). Every choice
    * is a pure function of (doc_id, position) via DISJOINT md5 hex
    * slices — selection h1 (chars 1-4), action h2 (5-8), random-token
    * draw h3 (9-12) — so masking a growing corpus never re-masks old
    * documents differently (the splitCol determinism argument), re-runs
    * are byte-identical, and a SQL oracle reproduces every row. The
    * 80/10/10 split compares as integer cross-products (h2·10 <
    * 65536·8), never float thresholds. Positions are 1-based (matching
    * SQL ordinality). Output: (idCol, pos, token, action ∈
    * mask|random|keep, replacement) for SELECTED positions only —
    * per-row explode + filter, zero shuffle before the caller's sort;
    * at 100 TB this is a free pass over the scan like [[gopherRules]].
    */
  def mlmMask(df: DataFrame, perMille: Int = 150,
      maskToken: String = "[MASK]", randomVocab: Int = 1000,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(perMille >= 1 && perMille <= 1000,
      s"mlmMask: perMille must be 1..1000, got $perMille")
    require(randomVocab >= 1, s"mlmMask: randomVocab must be >= 1")
    val toks = df.select(col(idCol),
        posexplode(split(col(textCol), " ")).as(Seq("__p0", "token")))
      .select(col(idCol), (col("__p0") + 1).cast("long").as("pos"),
        col("token"))
    def slice(from: Int): Column =
      conv(substring(md5(concat_ws("#", col(idCol).cast("string"),
        col("pos").cast("string"))), from, 4), 16, 10).cast("long")
    val h1 = slice(1); val h2 = slice(5); val h3 = slice(9)
    toks.filter(h1 * 1000 < lit(65536L) * perMille)
      .withColumn("action",
        when(h2 * 10 < lit(65536L) * 8, "mask")
          .when(h2 * 10 < lit(65536L) * 9, "random")
          .otherwise("keep"))
      .withColumn("replacement",
        when(col("action") === "mask", lit(maskToken))
          .when(col("action") === "random",
            concat(lit("tok"), pmod(h3, lit(randomVocab.toLong))))
          .otherwise(col("token")))
  }

  /** Deterministic T5-style span corruption (Raffel et al. 2020,
    * arXiv:1910.10683 §3.1.4): select span START positions at
    * `perMille`/1000 of token positions (the [[mlmMask]] md5 slice
    * discipline — a pure function of doc_id#pos, so corpus growth and
    * re-runs never re-corrupt old documents differently), extend each
    * to `spanLen` tokens clamped at the document end, and MERGE
    * overlapping-or-adjacent spans per document (a contiguous corrupted
    * run collapses to one sentinel at training time, so it is one span
    * here). At the defaults (5% starts × 3 tokens) ≈ 15% of tokens are
    * corrupted — the T5 baseline.
    *
    * The merge is the island device: a span opens a new island iff its
    * start exceeds (running max of prior ends) + 1, islands are numbered
    * by a running sum, and each island aggregates to one
    * (span_start, span_end). Both windows partition by DOCUMENT —
    * fully parallel, no global ordering — and the whole op is one
    * explode + two per-doc windows + one groupBy: no self-join, no
    * quadratic interval pairing. Output: (idCol, span_start, span_end,
    * n_corrupted), 1-based inclusive positions, ordered by caller.
    */
  def corruptionSpans(df: DataFrame, perMille: Int = 50, spanLen: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(perMille >= 1 && perMille <= 1000,
      s"corruptionSpans: perMille must be 1..1000, got $perMille")
    require(spanLen >= 1, s"corruptionSpans: spanLen must be >= 1")
    import org.apache.spark.sql.expressions.Window
    // __nt is computed in its OWN projection BEFORE the generate: with
    // size(split(text)) in the same select as posexplode, the count was
    // re-derived per EXPLODED row — O(n²) per document (measured 33 s
    // on a 10^5-token doc; sub-second after). The materialized array is
    // consumed by the generator, never replicated per output row.
    val withN = df.select(col(idCol), split(col(textCol), " ").as("__toks"))
      .select(col(idCol), size(col("__toks")).cast("long").as("__nt"),
        col("__toks"))
    val toks = withN.select(col(idCol), col("__nt"),
        posexplode(col("__toks")).as(Seq("__p0", "__tok")))
      .select(col(idCol), col("__nt"),
        (col("__p0") + 1).cast("long").as("s"))
    val h1 = conv(substring(md5(concat_ws("#", col(idCol).cast("string"),
      col("s").cast("string"))), 1, 4), 16, 10).cast("long")
    val sel = toks.filter(h1 * 1000 < lit(65536L) * perMille)
      .select(col(idCol), col("s"),
        least(col("s") + (spanLen - 1), col("__nt").cast("long")).as("e"))
    val prior = Window.partitionBy(col(idCol)).orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ordered = Window.partitionBy(col(idCol)).orderBy(col("s"))
    sel
      .withColumn("__brk",
        when(col("s") > coalesce(max(col("e")).over(prior), lit(-1L)) + 1, 1L)
          .otherwise(0L))
      .withColumn("__island", sum(col("__brk")).over(ordered))
      .groupBy(col(idCol), col("__island"))
      .agg(min(col("s")).as("span_start"), max(col("e")).as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("n_corrupted"))
  }

  /** Deterministic fill-in-the-middle transform (Bavarian et al. 2022,
    * arXiv:2207.14255): for `perMille`/1000 of documents, two
    * md5-derived token cuts split the doc into prefix/middle/suffix and
    * the output is re-serialized PSM-style — sentinel, prefix,
    * sentinel, suffix, sentinel, middle — so an autoregressive model
    * learns infilling from plain left-to-right prediction. Selection
    * and both cuts are pure functions of doc_id (the [[mlmMask]]
    * determinism discipline: corpus growth and re-runs never re-cut old
    * documents). Serialization goes through ONE array concat +
    * array_join, so empty prefixes/suffixes introduce no stray spaces
    * and the output oracles byte-exactly. Pure per-row projection,
    * zero shuffle. Output: (idCol, fim_applied, text_out) — text_out is
    * the original text for unselected docs.
    */
  def fimTransform(df: DataFrame, perMille: Int = 500,
      preTok: String = "<PRE>", sufTok: String = "<SUF>",
      midTok: String = "<MID>", idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(perMille >= 0 && perMille <= 1000,
      s"fimTransform: perMille must be 0..1000, got $perMille")
    val base = df.select(col(idCol), col(textCol),
        split(col(textCol), " ").as("__toks"))
      .select(col(idCol), col(textCol), col("__toks"),
        size(col("__toks")).cast("long").as("__nt"))
    def slice4(from: Int): Column =
      conv(substring(md5(concat_ws("#", col(idCol).cast("string"),
        lit("fim"))), from, 4), 16, 10).cast("long")
    val applied = slice4(1) * 1000 < lit(65536L) * perMille
    val c1r = pmod(slice4(5), col("__nt")) + 1
    val c2r = pmod(slice4(9), col("__nt")) + 1
    val c1 = least(c1r, c2r); val c2 = greatest(c1r, c2r)
    // prefix [1, c1-1], middle [c1, c2], suffix [c2+1, n] — 1-based
    // inclusive token spans; the three sentinels ride the same array
    // so the join handles empty segments uniformly
    val psm = array_join(concat(
      array(lit(preTok)), slice(col("__toks"), lit(1), c1 - 1),
      array(lit(sufTok)), slice(col("__toks"), c2 + 1, col("__nt") - c2),
      array(lit(midTok)), slice(col("__toks"), c1, c2 - c1 + 1)), " ")
    base.select(col(idCol), applied.as("fim_applied"),
      when(applied, psm).otherwise(col(textCol)).as("text_out"))
  }

  /** Deterministic per-source data EPOCHS — the mixture upsampling
    * every LLM run applies (small high-quality sources repeat; the big
    * crawl passes once). Each row replicates `epochs(source)` times
    * (default 1 for unlisted sources) with an `epoch` column 0..k-1 —
    * downstream shuffling/packing treats (doc, epoch) as the training
    * unit. A pure per-row explode of a literal-map lookup: zero
    * shuffle, and the replication factor is bounded by the map the
    * caller ships, never by data.
    */
  def epochMix(df: DataFrame, epochs: Map[String, Int],
      sourceCol: String = "source", idCol: String = "doc_id"): DataFrame = {
    require(epochs.values.forall(k => k >= 1 && k <= 1000),
      "epochMix: epochs per source must be 1..1000")
    val k =
      if (epochs.isEmpty) lit(1)
      else coalesce(element_at(
        typedLit(epochs), col(sourceCol)), lit(1))
    df.select(col(idCol), col(sourceCol),
        explode(sequence(lit(0L), k.cast("long") - 1)).as("epoch"))
  }

  /** Heuristic language ID: score = marker-token hit count per language;
    * prediction = argmax score with lexicographic tie-break. Markers are
    * n-gram-style surface cues; deterministic and engine-portable.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "und", "nicht"),
    "en" -> Seq("the", "a", "of"),
    "es" -> Seq("el", "la", "que"),
    "fr" -> Seq("le", "la", "et"),
    "zh" -> Seq("de5", "shi4", "le5"))

  def languageId(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val toks = split(col(textCol), " ")
    val scored = LangMarkers.foldLeft(df) { case (acc, (lang, markers)) =>
      val arr = array(markers.map(lit): _*)
      acc.withColumn(s"score_$lang", size(filter(toks, t => array_contains(arr, t))))
    }
    // argmax over the scores; iterating in alphabetical lang order with a
    // STRICT > keeps the earliest lang on ties — matched in the oracle by
    // a CASE … >= greatest(rest) chain.
    val predicted = LangMarkers.map(_._1)
      .foldLeft((lit(""), lit(-1))) { case ((bestLang, bestScore), lang) =>
        val s = col(s"score_$lang")
        (when(s > bestScore, lit(lang)).otherwise(bestLang),
          when(s > bestScore, s).otherwise(bestScore))
      }._1
    scored.select(col(idCol) +: col("lang").as("label") +: predicted.as("predicted") +:
      LangMarkers.map { case (l, _) => col(s"score_$l") }: _*)
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken): k-gram hashes →
    * sliding window of w → keep each window's minimum → the distinct set
    * of selected hashes fingerprints the document, robust to local edits.
    * The per-gram hash is md5-derived (engine-portable) rather than a
    * sequential Rabin-Karp rolling hash: same output contract, but every
    * gram hashes independently so the operator parallelizes by position
    * instead of forcing a per-document sequential scan.
    *
    * One explode + one window + one aggregate; shuffles on doc_id only.
    */
  def winnow(df: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      k: Int = 8, w: Int = 4, withSet: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = length(col(textCol))
    val grams = Layout.spreadIfNarrow(df)
      .select(col(idCol), col(textCol),
        explode(when(n >= k, sequence(lit(1), n - (k - 1)))).as("__i"))
      .select(col(idCol), col("__i"),
        (conv(substring(md5(col(textCol).substr(col("__i"), lit(k))), 1, 15), 16, 10)
          .cast("long") % 999999937L).as("__h"))
    val wWin = Window.partitionBy(col(idCol)).orderBy(col("__i"))
      .rowsBetween(0, w - 1)
    val winmins = grams.withColumn("__winmin", min(col("__h")).over(wWin))
    if (withSet)
      winmins.groupBy(col(idCol))
        .agg(countDistinct(col("__winmin")).as("n_fingerprints"),
          min(col("__winmin")).as("fp_min"),
          max(col("__winmin")).as("fp_max"),
          collect_set(col("__winmin")).as("fingerprints"))
    else
      winmins.groupBy(col(idCol))
        .agg(countDistinct(col("__winmin")).as("n_fingerprints"),
          min(col("__winmin")).as("fp_min"),
          max(col("__winmin")).as("fp_max"))
  }

  /** Data-driven language ID: learn a top-N token profile per language
    * from the labeled corpus (one aggregation), score every document
    * against every profile (broadcast join + aggregation), predict the
    * argmax with deterministic tie-breaks. Two shuffles total, profile
    * broadcast — scales as corpus × avg_tokens. A real (if simple)
    * trainable classifier, versus the fixed-marker heuristic above.
    */
  def languageIdTrained(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", labelCol: String = "lang",
      profileSize: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol), col(labelCol),
      explode(split(col(textCol), " ")).as("token"))
    val wProf = Window.partitionBy(col(labelCol)).orderBy(col("cnt").desc, col("token"))
    val profile = toks.groupBy(col(labelCol), col("token"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(wProf))
      .filter(col("rk") <= profileSize)
      .select(col(labelCol).as("plang"), col("token"))
    val scores = toks.join(broadcast(profile), Seq("token"))
      .groupBy(col(idCol), col("plang"))
      .agg(count(lit(1)).as("score"))
    val wBest = Window.partitionBy(col(idCol)).orderBy(col("score").desc, col("plang"))
    val best = scores.withColumn("brk", row_number().over(wBest)).filter(col("brk") === 1)
    df.select(col(idCol), col(labelCol).as("label"))
      .join(best.select(col(idCol), col("plang").as("predicted"), col("score")), Seq(idCol), "left")
  }

  /** BPE-style pre-tokenization: letter runs, digit runs, and single
    * punctuation marks as separate tokens (the shape GPT-2's pattern
    * produces on ASCII), via one codegen'd regexp_extract_all. RE2-safe
    * pattern so the oracle is the same regex in DuckDB.
    */
  val BpeTokenPattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"

  /** Adds `out`: the [[BpeTokenPattern]] tokens of `textCol`. */
  def tokenizeRegex(df: DataFrame, textCol: String = "text",
      out: String = "tokens"): DataFrame =
    df.withColumn(out,
      regexp_extract_all(col(textCol), lit(BpeTokenPattern), lit(0)))

  /** Per-document token counts under the BPE-ish regex tokenizer:
    * total tokens, distinct tokens, letter/digit/punct breakdown.
    */
  def tokenCountsRegex(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val toks = col("tokens")
    tokenizeRegex(df, textCol).select(
      col(idCol),
      size(toks).as("n_tokens"),
      size(array_distinct(toks)).as("n_distinct"),
      size(filter(toks, t => t.rlike("^[a-zA-Z]+$"))).as("n_word"),
      size(filter(toks, t => t.rlike("^[0-9]+$"))).as("n_number"),
      size(filter(toks, t => t.rlike("^[^a-zA-Z0-9]$"))).as("n_punct"))
  }

  /** TF-IDF components per (doc, token): term frequency, document
    * frequency, corpus size — two hash aggregates and one broadcast-able
    * join, all exact integers (the caller multiplies tf · ln(N/df)
    * itself; keeping floats out of the operator keeps it oracle-exact
    * and lets users pick their idf flavour).
    */
  def tfidf(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val toks = df.select(col(idCol), explode(split(col(textCol), " ")).as("token"))
    val tf = toks.groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n = df.select(countDistinct(col(idCol)).as("n_docs"))
    tf.join(dfreq, "token").crossJoin(broadcast(n))
      .select(col(idCol), col("token"), col("tf"), col("df"), col("n_docs"))
  }

  /** Top-k TF-IDF keywords per document — [[tfidf]]'s exact-integer
    * components ranked with the repo's fixed-point idf: score_micro =
    * ⌊10⁶ · tf · N / df⌋ (the raw N/df rarity ratio in place of the
    * log — ln is monotone in N/df, so the RANKING is the classic
    * TF-IDF one while every score stays cross-engine exact; the ranked
    * search op makes the same trade, `Search.rankedSearch`). The
    * rank ≤ k filter rides WindowGroupLimit (map-side prune before the
    * per-doc exchange); the df join shuffles by token — the vocabulary
    * is not assumed broadcastable. Deterministic tie-break on token.
    */
  def docKeywords(df: DataFrame, k: Int = 3, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(k >= 1, s"docKeywords: k must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val scored = tfidf(df, idCol, textCol)
      .withColumn("score_micro", graft.ops.Search.idiv(
        lit(1000000L).cast(dec) * col("tf").cast(dec) * col("n_docs").cast(dec),
        col("df").cast(dec)))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score_micro").desc, col("token"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col(idCol), col("token"), col("tf"), col("df"),
        col("score_micro"), col("rk").cast("long").as("rk"))
  }

  /** Collocation extraction (Church & Hanks 1990 pointwise mutual
    * information, made integer-exact): adjacent token pairs scored by
    * the PMI RATIO c(ab)·N / (c(a)·c(b)) — log is monotone in the
    * ratio, so the ranking is the classic PMI one while every score
    * stays cross-engine exact (micro-scaled through the shared decimal
    * floor division; the doc-keywords / BM25-rarity trade). `minCount`
    * is load-bearing twice: statistically (PMI explodes on hapax
    * pairs) and numerically (the guard below — 10⁶·c(ab)·N/(c(a)c(b))
    * exceeds int64 only for pairs far rarer than any sane minCount at
    * any corpus size; it refuses loudly rather than truncating).
    * Shape: one bigram aggregate + one unigram aggregate; the unigram
    * table joins twice through ONE plan-identical subtree. Output:
    * (token_a, token_b, n_pair, n_a, n_b, n_tokens, pmi_ratio_micro).
    */
  def collocations(df: DataFrame, minCount: Long = 5L,
      textCol: String = "text"): DataFrame = {
    require(minCount >= 1, s"collocations: minCount must be >= 1, got $minCount")
    val dec = "decimal(38,0)"
    val toks = df.select(explode(split(col(textCol), " ")).as("token"))
    val unigrams = toks.groupBy(col("token")).agg(count(lit(1)).as("n_tok"))
    val nTokens = toks.agg(count(lit(1)).as("n_tokens"))
    val pairs = df
      .select(split(col(textCol), " ").as("s"))
      .filter(size(col("s")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(s) - 2), i -> struct(s[i] AS a, s[i + 1] AS b))"))
        .as("p"))
      .groupBy(col("p.a").as("token_a"), col("p.b").as("token_b"))
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minCount)
    val num = lit(1000000L).cast(dec) * col("n_pair").cast(dec) *
      col("n_tokens").cast(dec)
    val den = col("n_a").cast(dec) * col("n_b").cast(dec)
    val qdec = (num - pmod(num, den)) / den // exact (Search.idiv device)
    val score = when(qdec > lit(Long.MaxValue).cast(dec),
        raise_error(concat(lit("collocations: pmi ratio for pair ("),
          col("token_a"), lit(", "), col("token_b"),
          lit(") exceeds 2^63 micro-units — the pair is far rarer than " +
            "minCount should allow at this corpus size; raise minCount " +
            "or drop the 10^6 scale"))))
      .otherwise(qdec.cast("long"))
    pairs
      .join(unigrams, col("token") === col("token_a")).drop("token")
      .withColumnRenamed("n_tok", "n_a")
      .join(unigrams, col("token") === col("token_b")).drop("token")
      .withColumnRenamed("n_tok", "n_b")
      .crossJoin(broadcast(nTokens))
      .select(col("token_a"), col("token_b"), col("n_pair"),
        col("n_a"), col("n_b"), col("n_tokens"),
        score.as("pmi_ratio_micro"))
  }

  /** Text normalization for training corpora: lowercase, strip
    * non-alphanumerics to spaces, collapse runs, trim. Pure per-row
    * string ops (codegen'd, embarrassingly parallel).
    */
  def normalize(df: DataFrame, textCol: String = "text",
      out: String = "text_norm"): DataFrame =
    df.withColumn(out,
      trim(regexp_replace(regexp_replace(lower(col(textCol)),
        "[^a-z0-9 ]", " "), " +", " ")))

  /** PII scrubbing: redact email-shaped and long-digit-run substrings.
    * Patterns stay in the RE2-compatible subset so the same regex means
    * the same thing in Spark (java.util.regex) and DuckDB (RE2). The
    * counting, typed-placeholder redaction is [[redactPii]].
    */
  def scrubPii(df: DataFrame, textCol: String = "text",
      out: String = "text_clean"): DataFrame =
    df.withColumn(out,
      regexp_replace(
        regexp_replace(col(textCol),
          "[a-zA-Z0-9._]+@[a-zA-Z0-9.]+\\.[a-zA-Z]+", "<EMAIL>"),
        "[0-9]{7,}", "<NUM>"))

  /** Character-n-gram language ID: like [[languageIdTrained]] but the
    * profile unit is a char k-gram, not a whitespace token — robust to
    * languages without whitespace tokenization and to morphology (the
    * standard n-gram text-categorization design). Grams come from the
    * same explode-positions pattern as [[fingerprint]] (codegen'd substr
    * per row, no interpreted HOF); the per-language profile is a
    * two-level aggregate + window top-N; scoring is one broadcast join.
    */
  def languageIdChargram(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", labelCol: String = "lang",
      k: Int = 3, profileSize: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = length(col(textCol))
    val grams = Layout.spreadIfNarrow(df)
      .select(col(idCol), col(labelCol), col(textCol),
        explode(when(n >= k, sequence(lit(1), n - (k - 1)))).as("__i"))
      .select(col(idCol), col(labelCol),
        col(textCol).substr(col("__i"), lit(k)).as("gram"))
    val wProf = Window.partitionBy(col(labelCol)).orderBy(col("cnt").desc, col("gram"))
    val profile = grams.groupBy(col(labelCol), col("gram"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(wProf))
      .filter(col("rk") <= profileSize)
      .select(col(labelCol).as("plang"), col("gram"))
    val scores = grams.join(broadcast(profile), Seq("gram"))
      .groupBy(col(idCol), col("plang"))
      .agg(count(lit(1)).as("score"))
    val wBest = Window.partitionBy(col(idCol)).orderBy(col("score").desc, col("plang"))
    val best = scores.withColumn("brk", row_number().over(wBest)).filter(col("brk") === 1)
    df.select(col(idCol), col(labelCol).as("label"))
      .join(best.select(col(idCol), col("plang").as("predicted"), col("score")), Seq(idCol), "left")
  }

  /** Document fingerprint from character k-gram md5s: the min (a 1-hash
    * MinHash), max, and distinct-gram count — a rolling-hash style content
    * signature that is stable under document reordering of duplicates.
    */
  def fingerprint(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 8): DataFrame = {
    val n = length(col(textCol))
    // explode gram POSITIONS, then md5(substr) per row: every step stays
    // in whole-stage codegen (a `transform` HOF building the gram array
    // would be interpreted per element), each md5 runs exactly once, and
    // the groupBy partial-aggregates before its shuffle — scales to any
    // corpus. Docs shorter than k chars are restored with a left join.
    val spread = Layout.spreadIfNarrow(df) // corpus exchange only when the input is narrow (guide §2.4)
    val agg = spread
      .select(col(idCol), col(textCol),
        // `when` guard: sequence(1, x<1) counts DOWN in Spark; null → dropped
        explode(when(n >= k, sequence(lit(1), n - (k - 1)))).as("__i"))
      .select(col(idCol), md5(col(textCol).substr(col("__i"), lit(k))).as("__g"))
      .groupBy(col(idCol))
      .agg(min(col("__g")).as("fp_min"), max(col("__g")).as("fp_max"),
        countDistinct(col("__g")).as("n_grams"))
    spread.select(col(idCol)).join(agg, Seq(idCol), "left")
      .withColumn("n_grams", coalesce(col("n_grams"), lit(0L)).cast("int"))
  }

  /** Deterministic downsample to a UNIFORM per-group mixture — the
    * pretraining data-mixing step (rebalance a source-skewed corpus so
    * every source contributes ~equally). Each group keeps rows at rate
    * min_count/count_g via the md5-threshold device: keep when
    * hash16 · count_g < 65536 · min_count — an INTEGER cross-multiply,
    * so the keep decision is exact in any engine, reproducible across
    * runs, and requires no RNG state (same family as hash_sample /
    * stratified_sample, but with rates DERIVED from the observed
    * mixture rather than given).
    *
    * Scale posture: the per-group counts and the global min are two tiny
    * broadcast aggregates; the keep decision is a pure per-row filter on
    * the corpus scan — no corpus shuffle at all.
    */
  /** Corpus-fit quality score — the exact-arithmetic stand-in for the
    * classic LM-perplexity filter (score each document by how typical
    * its character n-grams are of the corpus; garbage/OCR-noise/ wrong-
    * charset docs are built from grams the corpus rarely produces and
    * score low). The score is the AVERAGE corpus frequency of the doc's
    * char trigrams: an integer sum / integer count — no log, no float
    * accumulation order, bit-identical across engines (a real LM score
    * sums log-probs; the rank order of avg-frequency is the same signal
    * for filtering and keeps the oracle exact).
    *
    * Scale posture: gram explode is map-side; the corpus frequency is a
    * count window over the gram (one shuffle, partial-aggregated); the
    * per-doc rollup is the second shuffle. Nothing is joined twice.
    */
  def lmScore(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = length(col(textCol))
    val g = df.select(col(idCol), col(textCol),
        explode(when(n >= 3, sequence(lit(1), n - 2))).as("__i"))
      .select(col(idCol), col(textCol).substr(col("__i"), lit(3)).as("gram"))
    g.withColumn("gram_freq", count(lit(1)).over(Window.partitionBy(col("gram"))))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"), sum(col("gram_freq")).as("freq_sum"))
      .withColumn("avg_gram_freq", col("freq_sum") / col("n_grams"))
  }

  /** Hashed linear text-classifier INFERENCE at corpus scale — the
    * quality-classifier scoring stage of modern pretraining pipelines
    * (a fastText/CCNet-style model applied to every document before the
    * quality gate): features are hashed unigrams (portable md5 bucket),
    * the model is a (bucket → w_micros) table small enough to
    * broadcast, and the score is the exact integer logit
    * Σ_t w_micros[bucket(t)] + bias — summed over token OCCURRENCES
    * (bag-of-words). Classification is logit ≥ 0: sigmoid is monotone,
    * so thresholding the logit IS thresholding the probability with no
    * float-parity hazard, and the whole op oracles exactly.
    *
    * Weights are int64 MICRO-units (the similarity stack's convention):
    * training happens elsewhere (a driver-side LBFGS over a sampled
    * feature matrix, or any external trainer); inference is where the
    * 100 TB is, and it is one explode → broadcast join → per-doc
    * partial-agg sum — the shuffle carries (doc, bucket) pairs only.
    * Bucketing uses the first 15 md5 nibbles (sign bit clear in both
    * engines) mod `nBuckets`, the repo's portable-hash device.
    * Output: (idCol, n_tokens, logit_micros, keep).
    */
  /** The ONE hashed-feature bucket definition for the classifier chain
    * (train / batch score / serve / every DuckDB oracle): first 15 md5
    * nibbles (sign bit clear in both engines) mod `nBuckets`. A single
    * definition because cross-form parity IS the contract — three
    * hand-copied variants drifting apart would silently break whichever
    * path the tests don't pin for that input shape.
    */
  private def bucketCol(t: Column, nBuckets: Int): Column =
    pmod(conv(substring(md5(t), 1, 15), 16, 10).cast("long"),
      lit(nBuckets.toLong))

  /** Per-row classifier scoring for a model that fits in a LITERAL —
    * the serving form of [[hashedLinearScore]]: the weight map rides
    * the plan as one `typedlit`, and the logit is an `aggregate` fold
    * over the token array, so scoring is a pure projection — zero
    * shuffle, zero state, streaming-safe (the batch form's doc-keyed
    * aggregation would be a stateful streaming agg needing a watermark
    * that per-row scoring simply doesn't have). Use the broadcast-join
    * form for models too large for a literal (10⁶+ buckets); both
    * produce identical numbers (OpsSpec pins the parity).
    */
  def linearScore(docs: DataFrame, weights: Map[Long, Long],
      nBuckets: Int = 1024, biasMicros: Long = 0L, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(nBuckets > 0, s"linearScore: nBuckets must be > 0, got $nBuckets")
    val wMap = typedlit(weights)
    // null text folds to (n_tokens 0, logit = bias) — the same row
    // hashedLinearScore's explode_outer path produces, so the two forms
    // stay bit-identical on EVERY input, including corpora with null
    // docs (a null keep here would let a downstream filter silently
    // drop rows the batch scorer keeps)
    val logit = coalesce(
      aggregate(split(col(textCol), " "), lit(biasMicros),
        (acc, t) => acc + coalesce(
          element_at(wMap, bucketCol(t, nBuckets)), lit(0L))),
      lit(biasMicros))
    docs.select(col(idCol),
        coalesce(size(split(col(textCol), " ")).cast("long"), lit(0L))
          .as("n_tokens"),
        logit.as("logit_micros"))
      .withColumn("keep", col("logit_micros") >= 0)
  }

  /** Distributed batch-PERCEPTRON trainer for the hashed linear
    * classifier — the text twin of [[Similarity.kmeansTrain]]: a round
    * scores every document against the current weights (the
    * [[hashedLinearScore]] device), finds the misclassified set
    * ((logit ≥ 0) ≠ (y > 0)), and folds Σ y·count per bucket back into
    * the weights. Everything is exact int64 arithmetic (order-free
    * sums), so the whole training loop oracles through unrolled SQL —
    * the property float gradient descent cannot give. `labelCol` is
    * ±1; weights start at zero; training stops early when a round
    * misclassifies nothing.
    *
    * Scale posture: the bucketized feature table (doc, y, bucket, cnt)
    * is built ONCE and cached (registered with [[Caches]]);
    * per round: one broadcast weight join + doc-keyed partial-agg for
    * logits, one doc-keyed join + bucket-keyed partial-agg for the
    * delta. Driver state per round is ≤ `nBuckets` (bucket, delta)
    * rows — a learned-parameter pull, the kmeans-centroid contract,
    * never corpus rows. Output: (bucket, w_micros), nonzero rows only.
    */
  def perceptronTrain(df: DataFrame, nBuckets: Int = 1024, rounds: Int = 3,
      idCol: String = "doc_id", textCol: String = "text",
      labelCol: String = "y"): DataFrame = {
    require(nBuckets > 0 && rounds >= 1,
      s"perceptronTrain: need nBuckets > 0 and rounds >= 1, got $nBuckets/$rounds")
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.storage.StorageLevel
    val bucket = bucketCol(col("__t"), nBuckets)
    val feats = df.select(col(idCol), col(labelCol).cast("long").as("__y"),
        explode(split(col(textCol), " ")).as("__t"))
      .select(col(idCol), col("__y"), bucket.as("bucket"))
      .groupBy(col(idCol), col("__y"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    Caches.register(feats)
    var w = Map.empty[Long, Long].withDefaultValue(0L)
    var r = 0
    var converged = false
    while (r < rounds && !converged) {
      val wDf = w.toSeq.toDF("bucket", "__w")
      val logits = feats.join(broadcast(wDf), Seq("bucket"), "left_outer")
        .groupBy(col(idCol), col("__y"))
        .agg(sum(col("cnt") * coalesce(col("__w"), lit(0L))).as("__logit"))
      val delta = feats
        .join(logits.filter((col("__logit") >= 0) =!= (col("__y") > 0))
          .select(col(idCol), col("__y")), Seq(idCol, "__y"))
        .groupBy(col("bucket")).agg(sum(col("__y") * col("cnt")).as("d"))
        .collect() // <= nBuckets rows: the round's learned parameters
      if (delta.isEmpty) converged = true
      else {
        delta.foreach(row =>
          w += row.getLong(0) -> (w(row.getLong(0)) + row.getLong(1)))
        r += 1
      }
    }
    w.toSeq.filter(_._2 != 0L).sortBy(_._1).toDF("bucket", "w_micros")
  }

  /** fastText/CCNet-style quality-classifier inference: `weights` is the
    * trained (bucket, w_micros) table ([[perceptronTrain]]'s output),
    * broadcast at apply time; [[linearScore]] is the literal-map form.
    */
  def hashedLinearScore(df: DataFrame, weights: DataFrame,
      nBuckets: Int = 1024, biasMicros: Long = 0L, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(nBuckets > 0, s"hashedLinearScore: nBuckets must be > 0, got $nBuckets")
    val bucket = bucketCol(col("__t"), nBuckets)
    // ONE doc-keyed aggregation carries both the token count and the
    // logit — joining a separate n_tokens projection back on the id
    // would re-shuffle the corpus for per-row math (measured 4 → 2
    // exchanges). explode_outer keeps a null-text doc in the output
    // (n_tokens 0, logit = bias); non-null text always yields ≥ 1 token
    // (split("") = [""]), so counts equal size(split(text, ' ')).
    // Loud precondition on EXTERNAL weight tables (perceptronTrain's
    // output is distinct-by-bucket, but any trained table is accepted):
    // a duplicate bucket row would multiply the exploded token rows in
    // the join below, silently inflating both n_tokens and the logit.
    // One aggregation on the (tiny, broadcastable-by-contract) weights
    // table, raise_error on any bucket with > 1 row — lazy, so it
    // rides the same job, and loud like the file's other guards.
    val uniqueWeights = weights.groupBy(col("bucket"))
      .agg(count(lit(1)).as("__n"), min(col("w_micros")).as("__w"))
      .select(col("bucket"),
        when(col("__n") > 1,
          raise_error(concat(
            lit("hashedLinearScore: weights table has "),
            col("__n").cast("string"), lit(" rows for bucket "),
            col("bucket").cast("string"),
            lit(" — buckets must be unique (aggregate your weights first)"))))
          .otherwise(col("__w")).as("w_micros"))
    df.select(col(idCol), explode_outer(split(col(textCol), " ")).as("__t"))
      .select(col(idCol), bucket.as("bucket"))
      .join(broadcast(uniqueWeights), Seq("bucket"), "left_outer")
      .groupBy(col(idCol))
      .agg(count(col("bucket")).as("n_tokens"),
        sum(coalesce(col("w_micros"), lit(0L))).as("__logit"))
      .select(col(idCol), col("n_tokens"),
        (coalesce(col("__logit"), lit(0L)) + biasMicros).as("logit_micros"),
        (coalesce(col("__logit"), lit(0L)) + biasMicros >= 0).as("keep"))
  }

  /** Deterministic train/val/test assignment — the split every training
    * corpus needs, done the only way that survives re-runs, engine
    * swaps, and incremental ingest: a pure function of the id (md5
    * threshold), so a document NEVER migrates between splits when the
    * corpus grows. Thresholds are per-mille compared by integer
    * cross-multiply (h16·1000 vs 65536·‰) — no float rate.
    * Zero shuffle: a per-row projection.
    */
  /** The split label as a pure per-row COLUMN — attach it with
    * `withColumn` when the caller already holds the full rows, instead
    * of joining [[corpusSplit]]'s (id, split) table back to the corpus
    * (which re-shuffles the corpus on id for what is per-row hash math).
    */
  def splitCol(idCol: String = "doc_id", trainPerMille: Int = 900,
      valPerMille: Int = 950): Column = {
    require(0 < trainPerMille && trainPerMille <= valPerMille && valPerMille <= 1000)
    val h16 = conv(substring(md5(col(idCol).cast("string")), 1, 4), 16, 10)
      .cast("long")
    when(h16 * 1000 < lit(65536L) * trainPerMille, "train")
      .when(h16 * 1000 < lit(65536L) * valPerMille, "val")
      .otherwise("test")
  }

  def corpusSplit(df: DataFrame, idCol: String = "doc_id",
      trainPerMille: Int = 900, valPerMille: Int = 950): DataFrame =
    df.select(col(idCol),
      splitCol(idCol, trainPerMille, valPerMille).as("split"))

  /** Deterministic IMPORTANCE sampling — keep each row with probability
    * proportional to a non-negative integer weight (here: a quality
    * proxy like n_chars), the downsample that preserves more of what's
    * worth keeping. Keep rule: h16·max_w < 65536·w (integer
    * cross-multiply, rate = w/max_w — the best row is kept with
    * certainty, a half-quality row half the time), md5-deterministic
    * like [[mixtureDownsample]]. The max is one tiny broadcast; the
    * keep decision is a pure per-row filter.
    */
  def importanceSample(df: DataFrame, weightCol: String = "n_chars",
      idCol: String = "doc_id"): DataFrame = {
    val maxW = df.agg(max(col(weightCol)).as("__mw"))
    val h16 = conv(substring(md5(col(idCol).cast("string")), 1, 4), 16, 10)
      .cast("long")
    df.crossJoin(broadcast(maxW))
      .filter(h16 * col("__mw") < lit(65536L) * col(weightCol))
      .select(col(idCol), col(weightCol))
  }

  /** Loud DLT precondition: priorities are only meaningful for
    * non-negative, non-null weights — a negative or null weight would
    * silently sink (or null out) its row's priority and corrupt τ.
    */
  private def guardedWeight(weightCol: String, idCol: String,
      op: String): Column =
    when(col(weightCol).isNull || col(weightCol) < 0,
      raise_error(concat(lit(s"$op: weight for id "),
        col(idCol).cast("string"),
        lit(" is null or negative — priority sampling requires" +
          " non-negative weights"))))
      // upper bound: the priority numerator is w·65536 in LONG
      // arithmetic (exact-integer determinism is the point), so any
      // w > 2^47−1 would silently wrap negative and corrupt the
      // sample AND τ — refuse loudly instead (weights are counts;
      // 2^47 chars/tokens per row is beyond any real document)
      .when(col(weightCol).cast("long") > lit(Long.MaxValue >> 16),
        raise_error(concat(lit(s"$op: weight for id "),
          col(idCol).cast("string"),
          lit(s" exceeds 2^47-1 — w*65536 would overflow the exact" +
            " long priority numerator; rescale the weight column"))))
      .otherwise(col(weightCol).cast("long")).as("w")

  /** The DLT priority of a (idCol, w) table — the ONE definition of the
    * device (md5 uniform u ∈ [1, 65536], priority = w·65536/u in ONE
    * IEEE division of exact integers) shared by the in-memory sampler,
    * the per-group sampler's restatement, and the stored candidate
    * read path, so the ordering cannot drift between them.
    */
  private[graft] def withPriority(df: DataFrame, idCol: String): DataFrame = {
    val u = conv(substring(md5(col(idCol).cast("string")), 1, 4), 16, 10)
      .cast("long") + 1
    df.withColumn("priority",
      (col("w") * 65536L).cast("double") / u.cast("double"))
  }

  /** The MERGEABLE state of a priority sample: the top-(k+1) candidate
    * rows (idCol, w, priority) of this slice. Order-statistic fold law:
    * the top-(k+1) of a union is contained in the union of per-slice
    * top-(k+1)s, so per-batch candidate tables merge EXACTLY (dedup
    * identical rows, re-rank, cut) — the persistence unit
    * [[graft.jobs.BuildSampleStore]] stores, and the restatement
    * [[prioritySample]] composes over. Rides TakeOrderedAndProject
    * (bounded, distributed — never a full sort).
    */
  def priorityCandidates(df: DataFrame, k: Int,
      weightCol: String = "n_chars", idCol: String = "doc_id"): DataFrame = {
    require(k >= 1, s"priorityCandidates: k must be >= 1, got $k")
    withPriority(df.select(col(idCol),
        guardedWeight(weightCol, idCol, "priorityCandidates")), idCol)
      .orderBy(col("priority").desc, col(idCol))
      .limit(k + 1)
  }

  /** Rank candidates, derive τ (the (k+1)-th priority over EVERYTHING
    * given — 0 when ≤ k rows exist, then est_w = w exactly), and emit
    * the sample rows. Accepts MORE than k+1 candidates (the merged
    * multi-batch read path) — the window and τ then run over the merged
    * set, which is exactly the DLT estimator over the union.
    */
  private[graft] def sampleFromCandidates(cands: DataFrame, k: Int,
      idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("priority").desc, col(idCol))
    val ranked = cands.withColumn("rk", row_number().over(w))
    val tau = ranked.agg(coalesce(min(when(col("rk") === k + 1,
      col("priority"))), lit(0.0)).as("tau"))
    ranked.filter(col("rk") <= k)
      .crossJoin(broadcast(tau))
      .select(col(idCol), col("w"), col("priority"),
        greatest(col("w").cast("double"), col("tau")).as("est_w"),
        col("rk").cast("long").as("rk"))
  }

  /** EXACT-size weighted sampling without replacement — priority
    * sampling (Duffield–Lund–Thorup, "Priority sampling for estimation
    * of arbitrary subset sums", JACM 2007): each row gets priority
    * w / U with U a deterministic md5-derived uniform on (0, 1] — here
    * U = u/65536 with integer u in [1, 65536], so the priority is
    * computed as (w·65536)/u to land in w-units; the sample is the top
    * `k` priorities, and every sampled row carries the UNBIASED
    * subset-sum weight estimate max(w, τ) where τ is the (k+1)-th
    * priority — sum est_w over any sampled subset estimates that
    * subset's true weight sum (DLT Thm 1; τ must be in w-units for
    * max(w, τ) to be the estimator, which is why the 65536 lives in
    * the NUMERATOR, not as a separate float divide). [[importanceSample]]
    * is its Bernoulli cousin (rate ∝ weight, RANDOM output size); this
    * one returns exactly k rows, the contract a fixed training-budget
    * subsample needs.
    *
    * Determinism/portability: u is integer md5; w·65536 is an exact
    * integer (w is a long count — no precision loss below 2^47); the
    * priority is ONE IEEE division of two exact integers —
    * bit-identical across engines (the repo's per-row-scalar rule) —
    * so the ordering, τ, and est_w all
    * oracle exactly. Scale posture: top-(k+1) rides
    * TakeOrderedAndProject (bounded, distributed); the re-rank window
    * runs over k+1 rows only (k is a sample size — small by
    * definition). Output: (idCol, w, priority, est_w, rk), rk 1..k.
    */
  def prioritySample(df: DataFrame, k: Int, weightCol: String = "n_chars",
      idCol: String = "doc_id"): DataFrame = {
    require(k >= 1, s"prioritySample: k must be >= 1, got $k")
    sampleFromCandidates(priorityCandidates(df, k, weightCol, idCol),
      k, idCol)
  }

  /** Per-row (doc_id, w) sample cells — the streaming-legal restatement
    * of [[priorityCandidates]] (a stateless guarded projection;
    * [[graft.streaming.StreamingJob.runSampleIngest]] streams exactly
    * this, and [[graft.jobs.BuildSampleStore.compactStreamed]] folds it
    * with the shared top-(k+1) cut). Weights are guarded here so a bad
    * row refuses at the source, not after it has skewed a fold.
    */
  def sampleCells(df: DataFrame, weightCol: String = "n_chars",
      idCol: String = "doc_id"): DataFrame =
    df.select(col(idCol).as("doc_id"),
      guardedWeight(weightCol, idCol, "sampleCells"))

  /** Per-GROUP priority sampling — exactly `k` weighted samples from
    * EVERY group (per-domain/per-language training budgets), with the
    * same DLT estimator per group: τ_g is group g's (k+1)-th priority
    * (0 when the group has ≤ k rows). The rank ≤ k+1 filter rides
    * Spark's WindowGroupLimit pushdown (partial map-side prune before
    * the group shuffle), so the exchange carries ~(k+1)·groups rows,
    * not the corpus. Output: (idCol, groupCol, w, priority, est_w, rk).
    */
  def prioritySamplePerGroup(df: DataFrame, k: Int,
      groupCol: String = "source", weightCol: String = "n_chars",
      idCol: String = "doc_id"): DataFrame = {
    require(k >= 1, s"prioritySamplePerGroup: k must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val u = conv(substring(md5(col(idCol).cast("string")), 1, 4), 16, 10)
      .cast("long") + 1
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("priority").desc, col(idCol))
    val ranked = df.select(col(idCol), col(groupCol),
        guardedWeight(weightCol, idCol, "prioritySamplePerGroup"))
      .withColumn("priority",
        (col("w") * 65536L).cast("double") / u.cast("double"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k + 1)
    val taus = ranked.groupBy(col(groupCol))
      .agg(coalesce(min(when(col("rk") === k + 1, col("priority"))),
        lit(0.0)).as("tau"))
    ranked.filter(col("rk") <= k)
      .join(broadcast(taus), Seq(groupCol))
      .select(col(idCol), col(groupCol), col("w"), col("priority"),
        greatest(col("w").cast("double"), col("tau")).as("est_w"),
        col("rk").cast("long").as("rk"))
  }

  def mixtureDownsample(df: DataFrame, groupCol: String = "source",
      idCol: String = "doc_id"): DataFrame = {
    val counts = df.groupBy(col(groupCol)).agg(count(lit(1)).as("__n"))
    val minN = counts.agg(min(col("__n")).as("__m"))
    val h16 = conv(substring(md5(col(idCol).cast("string")), 1, 4), 16, 10)
      .cast("long")
    df.join(broadcast(counts), groupCol)
      .crossJoin(broadcast(minN))
      .filter(h16 * col("__n") < lit(65536L) * col("__m"))
      .select(col(idCol), col(groupCol))
  }

  /** Gopher-style document quality rules (Rae et al. 2021,
    * arXiv:2112.11446, Table A1), each as its own boolean so a pipeline
    * can audit WHY a document was dropped, plus the conjunction `keep`.
    * Every rule is an integer comparison (mean-word-length bounds are
    * cross-multiplied: lo·n ≤ Σlen ≤ hi·n; the 80% alphabetic-word
    * floor is 10·n_alpha ≥ 8·n; the duplicate-3-gram ceiling is
    * 5·n_dup ≤ n_grams) — no float thresholds, so the keep decision is
    * bit-identical across engines. Pure per-row projection: no explode,
    * no shuffle; at 100 TB this is a free pass over the scan.
    */
  def gopherRules(df: DataFrame, minWords: Int = 20, maxWords: Int = 100000,
      minMeanLen: Int = 2, maxMeanLen: Int = 10, minStopHits: Int = 2,
      idCol: String = "doc_id", textCol: String = "text",
      passthroughCols: Seq[String] = Nil): DataFrame = {
    // the token array and the 3-gram array are materialized in their own
    // projections (the wordTrigrams contract): the old inline-split
    // transform re-split the text per GRAM — O(n²) per doc at scale.
    // `passthroughCols` ride along untouched so a caller can gate and
    // keep working on the same rows (e.g. the streaming curation path
    // filters on `keep` then redacts the carried text) without a join.
    val toks = col("__toks")
    val n = size(toks)
    val sumLen = aggregate(toks, lit(0L), (acc, t) => acc + length(t))
    val nAlpha = size(filter(toks, t => t.rlike("[a-z]")))
    val stopArr = array(Stopwords.map(lit): _*)
    val nStopHits = size(array_intersect(array_distinct(toks), stopArr))
    val nGrams = size(col("__grams"))
    val nDup = nGrams - size(array_distinct(col("__grams")))
    val carried = passthroughCols.map(col)
    df.select(col(idCol) +: carried :+ split(col(textCol), " ").as("__toks"): _*)
      .select(col(idCol) +: carried :+ col("__toks") :+
        wordTrigrams(toks).as("__grams"): _*)
      .select(col(idCol) +: carried :+
        n.cast("long").as("n_words") :+
        sumLen.as("sum_word_chars") :+
        nAlpha.cast("long").as("n_alpha_words") :+
        nStopHits.cast("long").as("n_stop_hits") :+
        nDup.cast("long").as("n_dup_grams") :+
        (n >= minWords && n <= maxWords).as("rule_words") :+
        (sumLen >= n.cast("long") * minMeanLen &&
          sumLen <= n.cast("long") * maxMeanLen).as("rule_mean_len") :+
        (nAlpha * 10 >= n * 8).as("rule_alpha") :+
        (nStopHits >= minStopHits).as("rule_stops") :+
        (nDup * 5 <= nGrams).as("rule_repetition"): _*)
      .withColumn("keep",
        col("rule_words") && col("rule_mean_len") && col("rule_alpha") &&
          col("rule_stops") && col("rule_repetition"))
  }

  /** PII patterns, restricted to the Java-regex ∩ RE2 common subset
    * (no lookaround, no backreferences, no \\b) so Spark and any
    * RE2-based engine redact identically.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
  val PhoneRe = "555-[0-9]{4}"

  /** PII scrubbing — the redaction pass every shareable training corpus
    * needs: count and replace emails, IPv4 addresses and (toy, 555-
    * prefixed) phone numbers with typed placeholders. Replacement order
    * is email → IP → phone, identical in any engine because the three
    * pattern classes cannot overlap (an email body never parses as four
    * dot-separated octets; placeholders contain no pattern characters).
    * Counts are taken on the INPUT text, before any placeholder lands.
    * Per-row regexp work only — zero shuffle, embarrassingly parallel.
    */
  def redactPii(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", passthroughCols: Seq[String] = Nil): DataFrame = {
    val t = col(textCol)
    df.select(col(idCol) +: passthroughCols.map(col) :+
      size(regexp_extract_all(t, lit(EmailRe), lit(0))).cast("long").as("n_emails") :+
      size(regexp_extract_all(t, lit(Ipv4Re), lit(0))).cast("long").as("n_ips") :+
      size(regexp_extract_all(t, lit(PhoneRe), lit(0))).cast("long").as("n_phones") :+
      regexp_replace(
        regexp_replace(
          regexp_replace(t, EmailRe, "<EMAIL>"),
          Ipv4Re, "<IP>"),
        PhoneRe, "<PHONE>").as("redacted"): _*)
  }

  // ---------------------------------------------------------------- BPE

  /** Symbol delimiter for the BPE canonical form. Each symbol is wrapped
    * in its OWN pair of delimiters (`␁sym₁␁␁sym₂␁…`), so a literal
    * string replace of `␁x␁␁y␁` consumes exactly one adjacent (x, y)
    * occurrence — left-to-right, non-overlapping — which is precisely
    * greedy BPE merge semantics, and `␁a␁␁a␁␁a␁` correctly merges only
    * the first two `a`s. U+0001 cannot appear in whitespace-tokenized
    * text, and merged symbols are space-joined (`"x y"`), which is
    * unambiguous because single tokens never contain spaces.
    */
  val BpeDelim = "\u0001"

  /** One learned merge: rank (1-based), the two symbols merged, and the
    * global adjacent-pair count that selected them.
    */
  case class BpeMerge(merge_rank: Long, left_sym: String, right_sym: String,
      pair_count: Long)

  /** Result of [[bpeTrain]]: the learned merge table (driver-side, tiny)
    * and the corpus in final canonical form (`idCol`, `c`) — feed it to
    * [[bpeSegments]] for per-document segmentations. `nRounds` is the
    * number of merges actually learned (< `nMerges` only when the corpus
    * ran out of adjacent pairs).
    */
  case class BpeResult(merges: DataFrame, encoded: DataFrame, nRounds: Int)

  /** The canonical string minus its OUTER delimiter pair — exactly one
    * character from each end, the precise inverse of the `␁…␁` wrap.
    * Never `btrim`: btrim strips ALL leading/trailing delimiter chars,
    * so a document whose first/last symbol were empty (`␁␁␁a␁`) would
    * silently lose it. [[bpeCanonical]] refuses empty tokens outright
    * (they make the merge encoding ambiguous — see the guard), so on
    * accepted input the two agree; the exact-one strip keeps extraction
    * structurally incapable of dropping a symbol regardless.
    */
  private def stripOuterDelims(c: Column): Column = c.substr(lit(2), length(c) - 2)

  private def bpeCanonical(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // loud guard (the SRP-dims posture): a text already containing the
    // U+0001 delimiter would silently corrupt the canonical form's
    // symbol boundaries — refuse the row instead
    val guarded = when(col(textCol).contains(BpeDelim),
        raise_error(concat(lit("bpeTrain: text for id "), col(idCol).cast("string"),
          lit(" contains the U+0001 symbol delimiter; clean the corpus first"))))
      // Empty tokens (leading/trailing/double spaces) are refused too:
      // an empty symbol's canonical form is a bare `␁␁`, which makes the
      // doubled-delimiter encoding AMBIGUOUS — in `␁a␁␁␁␁b␁` (tokens
      // a,"",b) the ("","") merge pattern `␁␁␁␁` false-matches the close
      // of `a` + the empty + the open of `b`, corrupting the corpus. The
      // r7 btrim extraction also silently DROPPED outer empties; now the
      // contract is loud instead: whitespace-normalize first.
      .when(col(textCol).startsWith(" ") || col(textCol).endsWith(" ") ||
          col(textCol).contains("  "),
        raise_error(concat(lit("bpeTrain: text for id "), col(idCol).cast("string"),
          lit(" has a leading/trailing/double space (an empty token); the" +
            " delimiter encoding requires non-empty symbols — normalize" +
            " whitespace first"))))
      .otherwise(col(textCol))
    df.select(col(idCol), concat(lit(BpeDelim),
      call_function("replace", guarded, lit(" "), lit(BpeDelim + BpeDelim)),
      lit(BpeDelim)).as("c"))
  }

  /** Adjacent-symbol pairs of the canonical form, one row per POSITION
    * (overlapping: `a a a` contributes two `(a, a)` rows — the standard
    * BPE counting statistic, even though the merge step then applies
    * non-overlapping greedily).
    *
    * The symbol array is MATERIALIZED in its own projection before the
    * pair build: Catalyst does not common-subexpression-eliminate
    * through lambda bodies, so an inline `split(...)` referenced by a
    * per-element lambda re-splits the whole string for EVERY element —
    * O(n²) string work per document (measured 5.5 s vs 0.4 s per round
    * at sf0.1). slice+zip_with pairs adjacent elements with no
    * per-element indexing at all.
    */
  private def bpePairs(canon: DataFrame): DataFrame = {
    val symsCol = split(stripOuterDelims(col("c")), BpeDelim + BpeDelim)
    val n = size(col("syms"))
    canon.select(symsCol.as("syms"))
      .select(explode(when(n >= 2,
          zip_with(slice(col("syms"), lit(1), n - 1), slice(col("syms"), lit(2), n - 1),
            (a, b) => struct(a.as("l"), b.as("r"))))
        .otherwise(array().cast("array<struct<l:string,r:string>>"))).as("pr"))
      .select(col("pr.l").as("l"), col("pr.r").as("r"))
  }

  /** Distributed BPE vocabulary induction — the trainer composition on
    * top of the `bpe_pair_counts` statistic, and the text twin of
    * [[Similarity.kmeansTrain]]: each round counts every adjacent symbol
    * pair over the corpus (partial+final hash aggregate — a boilerplate
    * pair shared by 10⁸ documents collapses per-partition before the
    * exchange), picks the global argmax with a deterministic
    * (count desc, left, right) tie-break via one TakeOrdered pull, and
    * applies the merge as ONE narrow literal-string-replace pass over the
    * canonical corpus. Driver state per round is a prefix of (left,
    * right, count) rows — learned parameters, the same contract as a
    * k-means centroid pull — never corpus rows.
    *
    * It IS [[bpeTrainBatched]] with `batchSize = 1` (one merge per
    * round, so the round-start snapshot is the sequential statistic),
    * its `(round, slot)` provenance projected to `merge_rank`; rounds are
    * cut through [[Loop]], so the loop holds one corpus copy (plus the
    * one being built) regardless of `nMerges`.
    */
  def bpeTrain(df: DataFrame, nMerges: Int = 4, idCol: String = "doc_id",
      textCol: String = "text"): BpeResult = {
    require(nMerges >= 1, s"bpeTrain: nMerges must be >= 1, got $nMerges")
    val res = bpeTrainBatched(df, nRounds = nMerges, batchSize = 1, idCol, textCol)
    BpeResult(res.merges.select(col("round").as("merge_rank"), col("left_sym"),
      col("right_sym"), col("pair_count")), res.encoded, res.nRounds)
  }

  /** One batched-trainer merge: round and slot (both 1-based), the
    * merged symbols, and the pair count FROM THE ROUND-START SNAPSHOT
    * that selected them.
    */
  case class BpeBatchMerge(round: Long, slot: Long, left_sym: String,
      right_sym: String, pair_count: Long)

  /** Result of [[bpeTrainBatched]]: the merge table with (round, slot)
    * provenance and the encoded corpus (same contract as [[BpeResult]]).
    */
  case class BpeBatchResult(merges: DataFrame, encoded: DataFrame,
      nRounds: Int)

  /** The BATCHED BPE trainer — the 30k-vocabulary scale path: each
    * round counts pairs ONCE (partial+final aggregate — the snapshot is
    * distinct-pair-sized, far smaller than the corpus), then pulls up to `batchSize`
    * merges from that single snapshot, each the top remaining pair that
    * shares NO symbol with an earlier pick of the same round
    * (count desc, left, right order), and applies the whole batch as
    * ONE chained literal-replace pass. Rounds shrink from V to
    * V/batchSize for the same per-round corpus cost — the standard
    * fast-BPE batching.
    *
    * Driver-loop cost model (ScaleSpec "batched BPE at k=64" pins it):
    * a round costs one corpus pair-count pass P plus ONE
    * TakeOrdered-prefix pull — the k disjoint picks are selected
    * driver-side from that prefix, falling back to exact per-pick
    * filtered pulls (over the counts, cached only then) when top pairs
    * concentrate on few symbols. A 30k vocabulary at k=64 is
    * ceil(30000/64) = 469 rounds ≈ 469·(P + one small collect); with the earlier
    * one-job-per-pick shape the measured ~150 ms/pick made the pick
    * loop alone ≈ 75 min — now it is one job per round.
    *
    * Semantics note (why this is a separate op, not a flag): batched
    * merges are selected from the ROUND-START counts, so a batch is NOT
    * always identical to `batchSize` sequential rounds — a merge can
    * change the CONTEXT counts of another even when their symbols are
    * disjoint (merging (a,b) in `x a b` destroys the (x,a) pair). With
    * `batchSize = 1` the selection degenerates exactly to sequential
    * BPE, which is how [[bpeTrain]] runs. Symbol-disjointness guarantees
    * the batch's replaces commute on every document, so the chained
    * application order cannot matter.
    */
  def bpeTrainBatched(df: DataFrame, nRounds: Int = 2, batchSize: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): BpeBatchResult = {
    require(nRounds >= 1 && batchSize >= 1,
      s"bpeTrainBatched: nRounds/batchSize must be >= 1, got $nRounds/$batchSize")
    val spark = df.sparkSession
    val cuts = new Loop
    var cur = cuts.start(bpeCanonical(df, idCol, textCol))
    val merges = scala.collection.mutable.ArrayBuffer.empty[BpeBatchMerge]
    var round = 0
    var exhausted = false
    while (round < nRounds && !exhausted) {
      val counts = bpePairs(cur)
        .groupBy(col("l"), col("r")).agg(count(lit(1)).as("cnt"))
      val picked = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
      // Greedy disjoint selection scans pairs in global (cnt desc, l, r)
      // order, so the round's k picks live in SOME prefix of that order.
      // Pull one generous prefix (a single TakeOrdered job — still
      // (l, r, cnt) rows, never corpus data) and select driver-side;
      // ScaleSpec measured the per-pick Spark job at ~150 ms, which at
      // k=64 × 469 rounds dominated a 30k-vocab build ~10×. Only the
      // adversarial case — batchSize disjoint picks not contained in the
      // prefix because top pairs concentrate on few symbols — falls back
      // to the exact per-pick filtered pull, so semantics are unchanged.
      val prefetch = math.max(batchSize * 32, 256)
      val top = counts.orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(prefetch).collect()
      val usedSyms = scala.collection.mutable.Set.empty[String]
      top.iterator.takeWhile(_ => picked.size < batchSize).foreach { row =>
        val (l, r) = (row.getString(0), row.getString(1))
        if (!usedSyms(l) && !usedSyms(r)) {
          picked += ((l, r, row.getLong(2)))
          usedSyms += l; usedSyms += r
        }
      }
      // prefix exhausted before the batch filled AND more pairs exist
      // beyond it → finish with the exact Spark-side filtered pulls
      var slotExhausted = top.length < prefetch // short prefix = complete set
      if (picked.size < batchSize && !slotExhausted)
        counts.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      while (picked.size < batchSize && !slotExhausted) {
        val used = picked.flatMap(p => Seq(p._1, p._2)).toSet
        val next = counts.filter(!col("l").isInCollection(used) &&
            !col("r").isInCollection(used))
          .orderBy(col("cnt").desc, col("l"), col("r"))
          .limit(1).collect()
        if (next.isEmpty) slotExhausted = true
        else picked += ((next(0).getString(0), next(0).getString(1), next(0).getLong(2)))
      }
      counts.unpersist(blocking = false)
      if (picked.isEmpty) { exhausted = true }
      else {
        picked.zipWithIndex.foreach { case ((l, r, cnt), i) =>
          merges += BpeBatchMerge((round + 1).toLong, (i + 1).toLong, l, r, cnt)
        }
        val next = cur.withColumn("c",
          picked.foldLeft(col("c")) { case (c, (l, r, _)) =>
            call_function("replace", c,
              lit(BpeDelim + l + BpeDelim + BpeDelim + r + BpeDelim),
              lit(BpeDelim + l + " " + r + BpeDelim))
          })
        cur = cuts.cut(next)._1
        round += 1
      }
    }
    cuts.keep() // the encoded corpus is consumed lazily
    val mergeDf = spark.createDataFrame(merges.toSeq)
      .select(col("round"), col("slot"), col("left_sym"), col("right_sym"),
        col("pair_count"))
    BpeBatchResult(mergeDf, cur, round)
  }

  /** One row of [[bpeApply]]'s output — the [[bpeSegments]] schema. */
  case class BpeApplied(doc_id: Long, n_tokens: Long, n_symbols: Long,
      symbols_text: String)

  /** Apply a TRAINED merge table to text the trainer never saw — the
    * tokenizer SERVING step ([[bpeTrain]] learns on the train split;
    * this encodes everything else). Merges apply sequentially in rank
    * order as the same delimiter-wrapped literal replaces the trainer
    * used on its own corpus, so train-corpus self-application equals
    * [[bpeSegments]] exactly (pinned in OpsSpec). Output matches
    * [[bpeSegments]]: (doc_id, n_tokens, n_symbols, symbols_text).
    *
    * Why a typed map, not Catalyst replaces: a real vocabulary is 30k
    * merges, and 30k NESTED replace expressions exceed any codegen
    * budget — this per-row loop is the standard tokenizer inner loop,
    * embarrassingly row-parallel with the model broadcast in the
    * closure. Guards mirror [[bpeCanonical]]: text containing U+0001
    * or empty tokens (leading/trailing/double spaces) is refused
    * loudly.
    *
    * COST MODEL (the 30k-vocab serving boundary, ScaleSpec): the naive
    * loop is one full-string `.replace` pass per merge — O(merges·len)
    * char work per document, ~30k × 600 chars = 2·10⁷ per typical doc,
    * and the vocabulary dominates: most of a 30k vocab does not occur
    * in any ONE document. The standard fix (kept here, semantics
    * unchanged): index the document's PRESENT adjacent symbol pairs in
    * a hash set, probe each merge in O(1), and pay the O(len) replace
    * pass only for merges that actually occur — O(len + merges +
    * applied·len) per doc, where applied ≤ min(merges present, initial
    * symbol count). The pair set is rebuilt after each APPLIED merge
    * (an applied merge can create new adjacencies for later-rank
    * merges), never after a skipped one. Sequential rank-order pass
    * semantics are bit-identical to the naive loop: the set is derived
    * from the current string, so present ⇒ the replace fires and
    * absent ⇒ the replace was a no-op; ScaleSpec measures the 30k
    * boundary and OpsSpec pins naive-vs-indexed equality.
    */
  def bpeApply(df: DataFrame, merges: Seq[(String, String)],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ms = merges.toArray
    df.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .map { case (id, text) =>
        if (text.contains(BpeDelim))
          throw new IllegalArgumentException(s"bpeApply: text for id $id " +
            "contains the U+0001 symbol delimiter; clean the corpus first")
        if (text.startsWith(" ") || text.endsWith(" ") || text.contains("  "))
          throw new IllegalArgumentException(s"bpeApply: text for id $id " +
            "has a leading/trailing/double space (an empty token); the " +
            "delimiter encoding requires non-empty symbols — normalize " +
            "whitespace first")
        var c = BpeDelim + text.replace(" ", BpeDelim + BpeDelim) + BpeDelim
        // adjacent-pair presence index over the CURRENT symbol
        // sequence; l + '\1' + r is a collision-free pair key because
        // symbols never contain the delimiter (guarded above)
        var pairs = new java.util.HashSet[String]()
        def reindex(): Unit = {
          pairs = new java.util.HashSet[String]()
          val syms = c.substring(1, c.length - 1)
            .split(java.util.regex.Pattern.quote(BpeDelim + BpeDelim), -1)
          var k = 1
          while (k < syms.length) {
            pairs.add(syms(k - 1) + BpeDelim + syms(k)): Unit
            k += 1
          }
        }
        reindex()
        var i = 0
        while (i < ms.length) {
          val (l, r) = ms(i)
          if (pairs.contains(l + BpeDelim + r)) {
            c = c.replace(BpeDelim + l + BpeDelim + BpeDelim + r + BpeDelim,
              BpeDelim + l + " " + r + BpeDelim)
            reindex()
          }
          i += 1
        }
        val stripped = c.substring(1, c.length - 1)
        val syms = stripped.split(
          java.util.regex.Pattern.quote(BpeDelim + BpeDelim), -1)
        var spaces = 0L
        var j = 0
        while (j < stripped.length) {
          if (stripped.charAt(j) == ' ') spaces += 1
          j += 1
        }
        BpeApplied(id, syms.length + spaces, syms.length.toLong,
          syms.mkString("|"))
      }
      .toDF("doc_id", "n_tokens", "n_symbols", "symbols_text")
      .withColumnRenamed("doc_id", idCol)
  }

  /** The learned VOCABULARY table from [[bpeTrain]]'s canonical corpus:
    * every post-merge symbol with its total occurrence count and
    * document frequency — what a tokenizer ships after training. One
    * explode + one partial-agg groupBy; merged symbols keep their
    * internal spaces.
    */
  def bpeVocab(encoded: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val syms = split(stripOuterDelims(col("c")), BpeDelim + BpeDelim)
    encoded.select(col(idCol), explode(syms).as("symbol"))
      .groupBy(col("symbol"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col(idCol)).as("n_docs"))
  }

  /** Per-document segmentation from [[bpeTrain]]'s canonical corpus:
    * original token count, symbol count after the learned merges, and
    * the `|`-joined symbol sequence (merged symbols keep their internal
    * spaces). Token count is recovered exactly from the canonical form —
    * each merge replaced one delimiter pair with one space, so
    * n_tokens = n_symbols + (spaces in the canonical string). Pure
    * per-row string math, zero shuffle.
    */
  def bpeSegments(encoded: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val trimmed = stripOuterDelims(col("c"))
    val syms = split(trimmed, BpeDelim + BpeDelim)
    encoded.select(
      col(idCol),
      (size(syms).cast("long") +
        (length(trimmed) - length(call_function("replace", trimmed, lit(" "), lit(""))))
          .cast("long")).as("n_tokens"),
      size(syms).cast("long").as("n_symbols"),
      array_join(syms, "|").as("symbols_text"))
  }
}
