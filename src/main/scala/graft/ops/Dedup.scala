package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines:
  * exact, MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * Portability design: every hash is derived from md5 (bit-identical in
  * Spark and DuckDB) rather than Spark's murmur3 `hash`, so each operator
  * has an exact cross-engine oracle. MinHash uses the string-min of
  * per-permutation md5s (a keyed random permutation); SimHash extracts a
  * 32-bit integer from the md5 hex prefix.
  *
  * Scale posture: everything is explode → hash-aggregate → band-key
  * self-join. The only shuffles are on (doc_id) and (band_key); candidate
  * verification joins shingle arrays by doc_id. No driver-side state, no
  * O(n²) stage — the quadratic is confined to rows sharing an LSH bucket.
  */
object Dedup {

  /** `shingles`: distinct n-token shingles of a whitespace-tokenized text.
    * Guarded so texts shorter than n tokens get an empty array (Spark's
    * `sequence(1,0)` would count DOWN, not return empty).
    */
  def withShingles(df: DataFrame, textCol: String = "text", n: Int = 3,
      out: String = "shingles"): DataFrame = {
    val toks = split(col(textCol), " ")
    val nToks = size(toks)
    val idx = sequence(lit(1), nToks - (n - 1))
    val mk = transform(idx, i => concat_ws(" ", (0 until n).map(k => element_at(toks, i + k)): _*))
    df.withColumn(out, when(nToks >= n, array_distinct(mk)).otherwise(array().cast("array<string>")))
  }

  /** Scale path for shingling: one (id, shingle) ROW per distinct
    * n-token shingle, built with codegen'd primitives only — split runs
    * once per document (posexplode), shingle assembly is a window lead
    * chain. The HOF/array variant [[withShingles]] is interpreted by
    * Catalyst (lambda functions don't codegen) and re-evaluates split per
    * element — fine for tests, wrong at scale.
    */
  def shingleRows(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3): DataFrame = {
    // explode(array(split(...))) is a Generate BARRIER: the token array
    // materializes once per doc (CollapseProject cannot re-inline the
    // split into every element_at below), and no shuffle is needed at
    // all — shingle assembly is map-side only.
    val toksed = df.select(col(idCol), explode(array(split(col(textCol), " "))).as("__toks"))
    val nToks = size(col("__toks"))
    val mk = transform(sequence(lit(1), nToks - (n - 1)),
      i => concat_ws(" ", (0 until n).map(k => element_at(col("__toks"), i + k)): _*))
    toksed.select(col(idCol),
      explode(when(nToks >= n, mk)).as("shingle"))  // when-guard: short docs drop
    // NOTE: rows may repeat (no distinct): min-hash is duplicate-
    // insensitive and downstream collect_set dedups — skipping the
    // distinct saves a whole (id, shingle) shuffle.
  }

  /** Distinct-shingle ARRAYS per doc, built from [[shingleRows]] (one
    * groupBy). Docs with fewer than n tokens are absent (no shingles).
    */
  def shingleArrays(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3, out: String = "shingles"): DataFrame =
    shingleRows(df, idCol, textCol, n)
      .groupBy(col(idCol)).agg(collect_set(col("shingle")).as(out))

  /** EXACT global set-similarity self-join via prefix filtering
    * (Bayardo, Ma & Srikant, WWW'07 "Scaling Up All Pairs Similarity
    * Search"; the candidate principle behind PPJoin): every pair of
    * documents with shingle-set Jaccard above `thresholdNum/
    * thresholdDen`, over the WHOLE corpus — no language/length blocking,
    * no LSH false negatives. Completeness comes from the prefix lemma:
    * under one global token order (here ascending document frequency,
    * ties by shingle — rarest first), two sets with |a∩b| ≥ ⌈t·|x|⌉
    * must collide inside their first |x| − ⌈t·|x|⌉ + 1 tokens, so the
    * candidate join only indexes those prefixes. Rare-first ordering
    * makes prefix postings SHORT where it matters: a boilerplate
    * shingle with df = 10⁸ lands in almost no prefix (every set has
    * rarer tokens to spend its prefix on), which is what keeps the
    * candidate volume sane at 100 TB — the frequency skew that poisons
    * naive inverted-index joins is exactly what prefix filtering
    * exploits.
    *
    * Shape: distinct (doc, shingle) rows from the cached shingle
    * arrays → per-shingle df (groupBy, partial-agg) → join-back (the
    * dupShingleFraction inverted-index shape, no window-on-shingle) →
    * per-DOC window ranks tokens (docs are bounded, never hot) →
    * size-ordered asymmetric prefix join (probe × shorter index
    * prefix) → ℓ-match + positional filters at the pair aggregate →
    * verify survivors against the full arrays. Measured at sf0.1
    * (r15): the ℓ = 3 match rule cut the attach input from 308,570
    * candidates (the r14 positional-bound survivors — 596k pre-bound)
    * to 825 for 256 true pairs, and the asymmetric index prefix cut
    * the match join's output 642k → 536k rows even with the ℓ
    * extension; query task time fell ~265 s → ~105 s cold / 8–24 s
    * JIT-warm.
    *
    * Join strategy is deliberately LEFT TO THE PLANNER (no hint): a
    * SHUFFLE_HASH hint on the index side was measured and REJECTED —
    * at 1×/10× it defeats both the prefix cache's broadcast AND the
    * doc-partitioned partial aggregation (10× soak: 2.29M → 11.1M
    * shuffle records, task time +30%), and at 30× — past the
    * broadcast flip — the planner's own choice already produces the
    * identical, bit-stable 33,293,598 records with or without the
    * hint (4 independent-JVM runs; r14's 37.1M/44.9M flip variance is
    * gone with the smaller asymmetric join). At 100 TB the prefix
    * table can never broadcast and the planner lands on the shuffled
    * join deterministically, as the 30× point shows.
    */
  def jaccardPrefixPairs(df: DataFrame, thresholdNum: Int = 3,
      thresholdDen: Int = 10, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(thresholdNum > 0 && thresholdDen > thresholdNum)
    val spread = Layout.spreadIfNarrow(df) // corpus exchange only when the input is narrow (guide §2.4)
    val arrays = Caches.register(shingleArrays(spread, idCol, textCol).cache())
    // carry the per-doc shingle count on every posting row: the prefix
    // length is a pure function of n, so deriving it inline removes
    // the join-back to `arrays` (and its exchange pair) the first
    // formulation paid — one int per posting row buys one fewer
    // shuffle of the whole corpus's arrays
    val rows = arrays.select(col(idCol), size(col("shingles")).as("__n"),
      explode(col("shingles")).as("shingle"))
    val dfreq = rows.groupBy(col("shingle")).agg(count(lit(1)).as("__df"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("__df"), col("shingle"))
    // ℓ-EXTENDED prefixes (AdaptJoin, Wang, Li & Feng, SIGMOD'12): the
    // classic 1-prefix guarantees ONE collision for a qualifying pair,
    // and measured at sf0.1 that is exactly what the candidate stream
    // looks like — 596k candidate pairs averaging 1.08 matches each for
    // 256 true pairs, so the single rare shared shingle IS the false-
    // candidate mechanism and the array attach downstream pays for it.
    // Extending every prefix by ℓ−1 tokens buys the ℓ-match rule: if
    // inter ≥ α (the pair's minimum qualifying overlap), the k-th
    // smallest shared shingle s_k has at most α − k shared shingles
    // after it, so rank(s_k) ≤ n − α + k ≤ n − α + ℓ on BOTH sides —
    // a qualifying pair must collide ≥ min(α, ℓ) times inside the
    // extended prefixes, and pairs with fewer matches drop before the
    // attach. The join grows by the extension (~(L+ℓ−1)²/L² per
    // posting list); the aggregate's c ≥ min(α, ℓ) filter removes the
    // single-collision candidate mass.
    val ell = 3
    // probe prefix: L_p = n − ⌈t·n⌉ + ℓ (integer ceil)
    val prefixLen = (col("__n") - floor((col("__n").cast("long") * thresholdNum
      + thresholdDen - 1) / thresholdDen) + ell).cast("int")
    // index prefix: L_i = n − ⌈n·2t/(1+t)⌉ + ℓ — the SHORTER indexing
    // prefix of the size-ordered self-join (Xiao, Wang, Lin & Yu,
    // WWW'08 §4): processing each pair as (probe = larger set x,
    // index = smaller y, ties by id), a qualifying pair's overlap
    // α = ⌈(t/(1+t))(nx+ny)⌉ satisfies α ≥ ⌈(2t/(1+t))·ny⌉ because
    // nx ≥ ny, so the indexed side only exposes its first
    // ny − ⌈(2t/(1+t))·ny⌉ + ℓ tokens (≈ 0.54·n at t = 0.3 vs the
    // probe's 0.7·n) and the posting join shrinks by the ratio.
    val indexLen = (col("__n") - floor((col("__n").cast("long") * (2 * thresholdNum)
      + (thresholdDen + thresholdNum) - 1) / (thresholdDen + thresholdNum))
      + ell).cast("int")
    // The prefix table feeds BOTH sides of the candidate self-join —
    // cache it (registered, freed by Caches.releaseAll) so the dfreq join +
    // per-doc ranking window run once, not once per side; the index
    // side is a pure filter over the same cache. Carrying the rank
    // __rk costs one int per posting row and buys the positional
    // filter below.
    val prefix = Caches.register(rows.join(dfreq, "shingle")
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= prefixLen)
      .select(col(idCol), col("shingle"), col("__n"), col("__rk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // Bayardo's length filter at CANDIDATE time: a pair whose sizes
    // alone cap Jaccard at ≤ t can never verify (inter ≤ min, uni ≥
    // max), so drop it on the posting join — before the aggregate pays
    // a shuffle row for it. With the size-ordered roles the filter is
    // one-sided: ny·den > nx·num. Carrying __n costs one int per
    // posting.
    //
    // PPJoin POSITIONAL filter (Xiao, Wang, Lin & Yu, WWW'08 §3.2),
    // aggregated: the groupBy computes an EXACT overlap upper bound per
    // pair. A doc's prefix is a DOWN-SET of its shingles under the
    // global (df, shingle) order — whatever its length — so every
    // shared shingle ordered ≤ the pair's LAST shared prefix shingle is
    // itself a shared prefix shingle (counted in c = the match count),
    // and every shared shingle ordered after it ranks past (imax, jmax)
    // on both sides — at most min(nx − imax, ny − jmax) of those exist.
    // Hence inter ≤ ub = c + min(nx − imax, ny − jmax), exactly; pairs
    // whose ub already fails the Jaccard inequality can never verify
    // and are dropped BEFORE the array attach (the expensive stage).
    val matches = prefix.select(col(idCol).as("__dx"), col("shingle"),
        col("__n").as("__nx"), col("__rk").as("__rx"))
      .join(prefix.filter(col("__rk") <= indexLen)
        .select(col(idCol).as("__dy"), col("shingle"),
          col("__n").as("__ny"), col("__rk").as("__ry")), Seq("shingle"))
      .filter((col("__ny") < col("__nx")) ||
        (col("__ny") === col("__nx") && col("__dy") < col("__dx")))
      .filter(col("__ny") * thresholdDen > col("__nx") * thresholdNum)
    val cand = matches
      .groupBy(col("__dx"), col("__dy"))
      .agg(count(lit(1)).as("__c"), max(col("__rx")).as("__imax"),
        max(col("__ry")).as("__jmax"), max(col("__nx")).as("__nx"),
        max(col("__ny")).as("__ny"))
      // the ℓ-match rule: α = ⌊(nx+ny)·t/(1+t)⌋ + 1 is the smallest
      // inter with J > t (strict — J > t ⟺ inter·(den+num) >
      // (nx+ny)·num), and a qualifying pair carries ≥ min(α, ℓ)
      // matches inside the extended prefixes; min caps the requirement
      // for tiny documents whose qualifying overlap is below ℓ.
      .filter(col("__c") >= least(
        floor(((col("__nx") + col("__ny")).cast("long") * thresholdNum)
          / (thresholdDen + thresholdNum)) + 1, lit(ell.toLong)))
      .withColumn("__ub", (col("__c") + least(col("__nx") - col("__imax"),
        col("__ny") - col("__jmax"))).cast("long"))
      // the verify's own inequality, applied to the bound: inter·den >
      // (nx + ny − inter)·num is strictly increasing in inter, so a
      // pair failing it at inter = ub fails at every feasible inter
      .filter(col("__ub") * thresholdDen >
        ((col("__nx") + col("__ny")).cast("long") - col("__ub")) * thresholdNum)
      .select(col("__dx"), col("__dy"))
    // attach BOTH arrays with ONE join against the cached shingle
    // table: melt each pair to (role, doc) rows, join on doc, fold
    // back — `arrays` crosses one exchange instead of two, and the
    // fold's shuffle carries the same sh_x+sh_y bytes the second
    // join-attach used to. The pair stays keyed (__dx, __dy) through
    // the fold so its groupBy REUSES the candidate aggregate's
    // partitioning (inter/uni are pair-symmetric); the declared
    // id-ordered (doc_a, doc_b) orientation is restored in the final
    // select. first(ignoreNulls) is exact here: each (pair, role)
    // group holds exactly one non-null array.
    val melted = cand.select(col("__dx"), col("__dy"),
      explode(array(
        struct(lit("x").as("role"), col("__dx").as("__doc")),
        struct(lit("y").as("role"), col("__dy").as("__doc")))).as("m"))
      .select(col("__dx"), col("__dy"),
        col("m.role").as("role"), col("m.__doc").as("__doc"))
    melted
      .join(arrays.select(col(idCol).as("__doc"), col("shingles")), "__doc")
      .groupBy(col("__dx"), col("__dy"))
      .agg(
        first(when(col("role") === "x", col("shingles")), ignoreNulls = true)
          .as("sh_x"),
        first(when(col("role") === "y", col("shingles")), ignoreNulls = true)
          .as("sh_y"))
      // (the size gate verifyJaccard/ngramJaccardPairs apply here was
      // already enforced per-candidate above — every surviving pair is
      // size-compatible by construction)
      .withColumn("inter", size(array_intersect(col("sh_x"), col("sh_y"))))
      .withColumn("uni", size(col("sh_x")) + size(col("sh_y")) - col("inter"))
      .filter(col("inter") * thresholdDen > col("uni") * thresholdNum)
      .select(least(col("__dx"), col("__dy")).as("doc_a"),
        greatest(col("__dx"), col("__dy")).as("doc_b"),
        col("inter").cast("long").as("inter"), col("uni").cast("long").as("uni"))
  }

  /** Boilerplate SPAN removal — the shingle-level form of RefinedWeb/
    * CCNet line-wise dedup: any token covered by a 3-token shingle that
    * appears in more than `dfCap` documents is cut, and the document is
    * reassembled from the surviving tokens in order (headers, footers,
    * cookie banners and template text repeat VERBATIM across pages, so
    * cross-document shingle frequency is the signal; a document keeps
    * its unique prose even when half its tokens are template).
    *
    * Shape: positional shingle rows (map-side) → distinct-doc df
    * (groupBy, partial-agg — never a window on the skewed shingle key) →
    * flagged-shingle join-back → covered-position explode + distinct →
    * anti-join surviving tokens → per-DOC ordered reassembly (docs are
    * bounded, the group key is never hot). Output keeps every input
    * document, empty text when everything stripped.
    */
  def stripBoilerplate(df: DataFrame, dfCap: Int = 50,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(dfCap > 0)
    val toksed = df.select(col(idCol), explode(array(split(col(textCol), " "))).as("__toks"))
    val n = size(col("__toks"))
    // (id, start, shingle): start is 1-based, covers start..start+2
    val shingled = toksed.select(col(idCol), col("__toks"),
      explode(when(n >= 3, sequence(lit(1), n - 2))
        .otherwise(array().cast("array<int>"))).as("start"))
      .select(col(idCol), col("start"), concat_ws(" ",
        element_at(col("__toks"), col("start")),
        element_at(col("__toks"), col("start") + 1),
        element_at(col("__toks"), col("start") + 2)).as("shingle"))
    val flagged = shingled.select(col(idCol), col("shingle")).distinct()
      .groupBy(col("shingle")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") > dfCap)
      .select(col("shingle"))
    val covered = shingled.join(flagged, "shingle")
      .select(col(idCol), explode(sequence(col("start"), col("start") + 2)).as("pos"))
      .distinct()
    val toks = toksed.select(col(idCol),
      posexplode(col("__toks")).as(Seq("__p0", "tok")))
      .select(col(idCol), (col("__p0") + 1).as("pos"), col("tok"))
    val kept = toks.join(covered, Seq(idCol, "pos"), "left_anti")
    val rebuilt = kept.groupBy(col(idCol))
      .agg(concat_ws(" ", transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
        s => s.getField("tok"))).as("clean_text"),
        count(lit(1)).as("n_kept"))
    df.select(col(idCol), size(split(col(textCol), " ")).cast("long").as("__n"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("__n") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** Per-document fraction of its distinct 3-token shingles that also
    * appear in at least one OTHER document — the cross-document
    * boilerplate/duplication signal used to flag template-heavy or
    * mirrored pages before pairwise near-dup removal (a doc can score
    * high here without having any single near-duplicate partner).
    * Inverted-index shape: distinct (doc, shingle) rows → per-shingle
    * doc frequency → join back → per-doc aggregate. Three hash shuffles,
    * nothing quadratic; a shingle shared by z docs fans out exactly z
    * rows on the join back. shared_frac is an int/int double division —
    * bit-identical across engines.
    */
  def dupShingleFraction(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val sh = shingleRows(df, idCol, textCol).distinct()
    val freq = sh.groupBy(col("shingle"))
      .agg(countDistinct(col(idCol)).as("__df"))
    sh.join(freq, "shingle")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__df") > 1, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("shared_frac", col("n_shared") / col("n_shingles"))
  }

  /** Per-document longest duplicated SPAN — the exact-substring-dedup
    * signal (Lee et al., "Deduplicating Training Data Makes Language
    * Models Better"): the length in tokens of the longest run of
    * consecutive positions whose 3-token shingle also appears in at
    * least one OTHER document. [[dupShingleFraction]] says how MUCH of a
    * doc is shared; this says how CONTIGUOUS the sharing is — a 50-token
    * verbatim quote and fifty scattered common trigrams have the same
    * shared fraction but very different spans, and span length is what
    * substring-level dedup thresholds on (the paper cuts spans ≥ 50
    * tokens).
    *
    * Shape: positional shingles (map-side) → distinct-doc df via
    * groupBy + join-back (partial aggregation; never a window on the
    * skewed shingle key — the [[containmentPairs]] argument) →
    * islands-and-gaps run detection per DOC (start − row_number is
    * constant within a run; the window partition is one document's
    * positions, bounded by document length, so it cannot hot-shard) →
    * max run per doc. A run of k consecutive duplicated 3-shingles
    * covers k + 2 tokens; docs with no duplicated shingle report 0.
    * Output: (id, max_dup_tokens, n_dup_positions) for EVERY input doc.
    */
  def maxDupSpan(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val shingled = positionalShingles(df, idCol, textCol)
    val dup = shingled.select(col(idCol), col("shingle")).distinct()
      .groupBy(col("shingle")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= 2)
      .select(col("shingle"))
    val flagged = shingled.join(dup, "shingle")
      .select(col(idCol), col("start"))
    spanRuns(df, flagged, idCol, "max_dup_tokens", "n_dup_positions")
  }

  /** Positional 3-token shingles: one row per (id, start, shingle),
    * 1-based start, covering tokens start..start+2. Docs shorter than
    * one shingle emit nothing (guarded — a bare `sequence(1, n-2)`
    * would DESCEND for n < 3).
    */
  private def positionalShingles(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val toks = split(col(textCol), " ")
    df.select(col(idCol), toks.as("__toks"))
      .select(col(idCol), col("__toks"),
        explode(when(size(col("__toks")) >= 3,
            sequence(lit(1), size(col("__toks")) - 2))
          .otherwise(array().cast("array<int>"))).as("start"))
      .select(col(idCol), col("start"), concat_ws(" ",
        element_at(col("__toks"), col("start")),
        element_at(col("__toks"), col("start") + 1),
        element_at(col("__toks"), col("start") + 2)).as("shingle"))
  }

  /** Islands-and-gaps rollup shared by [[maxDupSpan]]/[[crossDupSpan]]:
    * consecutive flagged starts (start − row_number constant within a
    * run) collapse to runs, a run of k shingles covers k + 2 tokens;
    * every document of `base` gets a row (0 when nothing flagged). The
    * window partition is one document's positions — bounded by document
    * length, never hot.
    */
  private def spanRuns(base: DataFrame, flagged: DataFrame, idCol: String,
      maxName: String, cntName: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(idCol)).orderBy(col("start"))
    val runs = flagged
      .withColumn("__grp", col("start") - row_number().over(w))
      .groupBy(col(idCol), col("__grp"))
      .agg(count(lit(1)).as("__run"))
      .groupBy(col(idCol))
      .agg((max(col("__run")) + 2).as(maxName), sum(col("__run")).as(cntName))
    base.select(col(idCol))
      .join(runs, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col(maxName), lit(0L)).as(maxName),
        coalesce(col(cntName), lit(0L)).as(cntName))
  }

  /** Duplicated-SPAN removal — the CUT that [[maxDupSpan]] measures
    * (Lee et al.: drop substrings duplicated verbatim across documents
    * once they reach `minSpanTokens`): every token covered by a run of
    * consecutive cross-document-duplicated 3-shingles spanning at least
    * `minSpanTokens` tokens is removed, and the document reassembles
    * from the survivors in order. Scattered shared trigrams (runs
    * shorter than the threshold) are untouched — that is the difference
    * from [[stripBoilerplate]], which cuts on per-shingle document
    * frequency with no contiguity requirement.
    *
    * Shape: positional shingles → distinct-doc df ≥ 2 via groupBy +
    * join-back (partial aggregation, never a window on the skewed
    * shingle key) → islands-and-gaps per doc → qualifying runs
    * (length ≥ minSpanTokens − 2 shingles) → covered-position explode +
    * distinct → anti-join surviving tokens → per-doc ordered reassembly
    * (the [[stripBoilerplate]] tail; doc-keyed windows are bounded).
    * Every input document appears in the output, empty text when fully
    * cut. Output: (id, clean_text, n_kept, n_removed).
    */
  def stripDupSpans(df: DataFrame, minSpanTokens: Int = 6,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(minSpanTokens >= 3,
      s"stripDupSpans: minSpanTokens must be >= 3 (one shingle), got $minSpanTokens")
    val shingled = positionalShingles(df, idCol, textCol)
    val dup = shingled.select(col(idCol), col("shingle")).distinct()
      .groupBy(col("shingle")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= 2)
      .select(col("shingle"))
    val flagged = shingled.join(dup, "shingle")
      .select(col(idCol), col("start"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("start"))
    val runs = flagged.withColumn("__grp", col("start") - row_number().over(w))
    val qualifying = runs.groupBy(col(idCol), col("__grp"))
      .agg(count(lit(1)).as("__run"))
      .filter(col("__run") + 2 >= minSpanTokens)
      .select(col(idCol), col("__grp"))
    val covered = runs.join(qualifying, Seq(idCol, "__grp"))
      .select(col(idCol),
        explode(sequence(col("start"), col("start") + 2)).as("pos"))
      .distinct()
    val toks = df.select(col(idCol),
        posexplode(split(col(textCol), " ")).as(Seq("__p0", "tok")))
      .select(col(idCol), (col("__p0") + 1).as("pos"), col("tok"))
    val kept = toks.join(covered, Seq(idCol, "pos"), "left_anti")
    val rebuilt = kept.groupBy(col(idCol))
      .agg(concat_ws(" ", transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
        s => s.getField("tok"))).as("clean_text"),
        count(lit(1)).as("n_kept"))
    df.select(col(idCol), size(split(col(textCol), " ")).cast("long").as("__n"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("__n") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** CROSS-corpus contamination span — [[maxDupSpan]] against a
    * reference set instead of the corpus itself: for every document of
    * `df`, the longest contiguous token run whose every 3-shingle also
    * appears somewhere in `ref` (a held-out split, a benchmark suite).
    * This is span-level decontamination — the n-gram-overlap COUNT the
    * `decontaminate` query computes flags a doc that shares many
    * scattered trigrams, but a leaked evaluation item is a CONTIGUOUS
    * verbatim region, and span length separates the two. Shape: the
    * reference collapses to distinct shingles (partial-agg distinct, one
    * small-side table at benchmark scale — Catalyst broadcasts it by
    * stats when it fits), one shuffle join flags positions, then the
    * bounded per-doc islands rollup. Output: (id, max_contam_tokens,
    * n_contam_positions) for EVERY `df` document.
    */
  def crossDupSpan(df: DataFrame, ref: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", refIdCol: String = "doc_id",
      refTextCol: String = "text"): DataFrame = {
    val refSh = positionalShingles(ref, refIdCol, refTextCol)
      .select(col("shingle")).distinct()
    val flagged = positionalShingles(df, idCol, textCol)
      .join(refSh, "shingle")
      .select(col(idCol), col("start"))
    spanRuns(df, flagged, idCol, "max_contam_tokens", "n_contam_positions")
  }

  /** Directional shingle-containment pairs — the asymmetric near-dup
    * signal Jaccard misses: a short quote/extract sitting inside a much
    * longer document has tiny Jaccard (union is dominated by the long
    * side) but containment |A∩B|/|A| ≈ 1. Because the interesting pairs
    * are cross-length BY NATURE, the (lang × length-bucket) blocking of
    * [[ngramJaccardPairs]] would discard exactly them; candidates come
    * from the inverted index instead (docs sharing a shingle), with a
    * document-frequency cap: shingles appearing in more than
    * `maxShingleDf` docs are boilerplate — they carry almost no evidence
    * that one SPECIFIC doc contains another, and they are the quadratic
    * hazard (a shingle shared by z docs fans out z² candidate rows).
    * Semantics are therefore "containment over non-boilerplate
    * shingles": both |S'(a)∩S'(b)| and the |S'(a)| denominator count
    * only capped shingles, which the oracle mirrors exactly — integer
    * compare, no float threshold.
    *
    * Scale posture: per-shingle fan-out is capped at maxShingleDf², the
    * pair aggregate shuffles only candidate pairs, and every count is an
    * exact integer. Output one row PER DIRECTION: (src, dst, inter,
    * n_src) where inter·100 ≥ n_src·thresholdPct.
    */
  def containmentPairs(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", thresholdPct: Int = 80,
      maxShingleDf: Int = 50, minShingles: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // The df-cap is computed as groupBy(shingle) + join-back, NOT as a
    // window over partitionBy(shingle): the shingle key is skewed by
    // definition (boilerplate — a "terms of service" shingle at 100 TB
    // has df ≈ 10⁸), and a window must land ALL occurrences of a key in
    // one task before the cap can discard them, while groupBy collapses
    // the hot key per-partition via map-side partial aggregation and the
    // join-back is AQE-skew-splittable. Measured trade at sf0.1
    // (min-of-2, quiet host): groupBy form 1.93 s vs the r6 window
    // form's archived 1.94 s — the two extra exchanges cost nothing
    // measurable here, and the window form's only upside evaporates the
    // moment one shingle's occurrence list outgrows a task, which is
    // exactly what boilerplate does; the hot-shingle ScaleSpec fixture
    // (10⁶-df shingle) pins the groupBy form's bounded behavior. n_src (per-DOC shingle count) stays a window: its
    // partition is one document's distinct shingles, bounded by document
    // length, so it cannot hot-shard. The capped table is cached (and
    // freed via Caches.releaseAll) because both self-join sides read it —
    // the same justification measured for [[ngramJaccardPairs]]'s
    // shingle cache.
    val sh = shingleRows(df, idCol, textCol).distinct()
    val keptShingles = sh.groupBy(col("shingle"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxShingleDf)
      .select(col("shingle"))
    val capped = sh.join(keptShingles, "shingle")
      .withColumn("n_src", count(lit(1)).over(Window.partitionBy(col(idCol))))
      .select(col(idCol), col("shingle"), col("n_src"))
    val cached = Caches.register(capped.cache())
    val a = cached.filter(col("n_src") >= minShingles)
      .select(col("shingle"), col(idCol).as("src"), col("n_src"))
    val b = cached.select(col("shingle"), col(idCol).as("dst"))
    a.join(b, "shingle")
      .filter(col("src") =!= col("dst"))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("inter"), first(col("n_src")).as("n_src"))
      .filter(col("inter") * 100 >= col("n_src") * thresholdPct)
      .select(col("src"), col("dst"), col("inter"), col("n_src"))
  }

  /** Per-document NOVELTY in corpus order — the incremental-ingest
    * question ("how much does this doc add that earlier docs didn't
    * have?"): the fraction of a doc's distinct shingles whose FIRST
    * occurrence (min doc id over the corpus) is the doc itself.
    * Re-crawls, mirrors, and template spam score near zero; the signal
    * is directional where [[dupShingleFraction]] is symmetric.
    * First-seen is groupBy(shingle).agg(min) + join-back, not a window
    * over partitionBy(shingle): min has map-side partial aggregation, so
    * a boilerplate shingle shared by 10⁸ docs collapses to one row per
    * input partition instead of landing 10⁸ rows in a single window
    * task (same skew argument as [[containmentPairs]]; the join-back is
    * AQE-skew-splittable). Measured at sf0.1: 0.76 s vs the r6 window
    * form's 0.32 s — 0.4 s absolute for hot-shard immunity. Then one
    * per-doc aggregate — the same
    * inverted-index shape as [[dupShingleFraction]], nothing quadratic;
    * novel_frac is an int/int double division, bit-identical across
    * engines.
    */
  def noveltyFraction(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val sh = shingleRows(df, idCol, textCol).distinct()
    val firstSeen = sh.groupBy(col("shingle"))
      .agg(min(col(idCol)).as("__first"))
    sh.join(firstSeen, "shingle")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__first") === col(idCol), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novel_frac", col("n_novel") / col("n_shingles"))
  }

  /** Quality-aware dedup keeper — [[dropNearDuplicates]] keeps the MIN
    * id per near-dup component; real pipelines keep the BEST member
    * (here: the longest, via the `qualityCol` ordering with id
    * tie-break — the longest variant of a mirrored page usually carries
    * the least-truncated content). Every document appears in exactly one
    * output row's cluster: docs with no near-dup partner are their own
    * singleton cluster. Output: (cluster_id, keeper_id, keeper_quality,
    * n_members).
    */
  def keepBestPerCluster(df: DataFrame, idCol: String = "doc_id",
      qualityCol: String = "n_chars"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = minhashPairs(df).select(col("doc_a"), col("doc_b"))
    val clusters = connectedComponents(pairs)
    val scored = df.join(clusters, df(idCol) === clusters("id"), "left")
      .select(col(idCol), coalesce(col("cluster_id"), col(idCol)).as("cluster_id"),
        col(qualityCol).as("__q"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("__q").desc, col(idCol))
    scored
      .withColumn("__rk", row_number().over(w))
      .withColumn("n_members", count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
      .filter(col("__rk") === 1)
      .select(col("cluster_id"), col(idCol).as("keeper_id"),
        col("__q").as("keeper_quality"), col("n_members"))
  }

  /** Exact dedup: keep the lowest id per identical text (hash-groupBy —
    * one shuffle on the text hash; at 100 TB group on md5(text) instead of
    * the full text to keep shuffle rows narrow).
    */
  def exact(df: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_md5"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Typo-level near-duplicate VALUES — pairs of distinct column values
    * within Levenshtein distance `maxDist`, the canonicalization
    * primitive for short string fields (product names, brands, city
    * names): exact FastSS blocking (Bocek et al., "Fast Similarity
    * Search in Large Dictionaries", 2007) via deletion neighborhoods —
    * if ed(u, v) ≤ d then u and v share a variant reachable by ≤ d
    * deletions from each (d=1: equal → self; ins/del → one IS the
    * other's deletion; substitution → deleting the differing position
    * from both meets; d≥2 composes deletions, Bocek §3's recursive
    * neighborhoods Uᵈ(s)) — then a `levenshtein` verify on the
    * candidates only, so the blocking is recall-exact and the verify
    * makes precision exact.
    *
    * Scale shape: operates on the DISTINCT value dictionary, never the
    * fact rows (canonicalize the dictionary, broadcast the mapping
    * back); variants explode Σ_{i≤d} C(|v|, i) rows per value (|v|+1
    * at d=1, ~|v|²/2 at d=2) and the self-join shuffles on the variant
    * key, so cost is dictionary-sized × value-lengthᵈ — a short-field
    * op by contract, not a document-text op (that family is the
    * shingle/MinHash stack). Output: (name_a, name_b, dist),
    * name_a < name_b.
    *
    * `maxLen = 0` (the default) picks the distance-scaled cap: 256 at
    * d=1 (variants ≈ len+1 short strings per value) but 64 at d=2,
    * where the variant VOLUME is ~len²/2 strings × len chars ≈ len³/2
    * bytes per value — at 256 chars that is ~8 MB per value, the
    * silent blowup the cap exists to refuse. An explicit `maxLen` is
    * honored as the caller's informed budget.
    */
  def editDistancePairs(df: DataFrame, valueCol: String,
      maxLen: Int = 0, maxDist: Int = 1): DataFrame = {
    require(maxDist >= 1 && maxDist <= 2,
      s"editDistancePairs: maxDist must be 1 or 2, got $maxDist — " +
        "d>2 deletion neighborhoods are |v|^d per value; beyond typo " +
        "distance use the shingle/MinHash stack")
    require(maxLen >= 0, s"editDistancePairs: maxLen must be >= 0, got $maxLen")
    val effMaxLen = if (maxLen > 0) maxLen else if (maxDist >= 2) 64 else 256
    // all single-char deletions of x, PLUS x itself (the i = len slot
    // deletes nothing) — so k applications yield every variant with
    // ≤ k deletions, not exactly-k
    def delSet(x: Column): Column =
      transform(sequence(lit(0), length(x)),
        i => concat(x.substr(lit(1), i.cast("int")),
          x.substr(i.cast("int") + 2, length(x))))
    val guarded = df.select(col(valueCol).as("v"))
      .filter(col("v").isNotNull).distinct()
      // loud short-field contract (the bpeCanonical guard posture): a
      // document-length value would explode len^maxDist variants —
      // O(len²) bytes per value at d=1, O(len³) at d=2. Refuse instead
      // of silently blowing up the variant join; document-scale text
      // belongs to the shingle/MinHash stack.
      .withColumn("v", when(length(col("v")) > effMaxLen,
        raise_error(concat(lit("editDistancePairs: value longer than "),
          lit(effMaxLen.toString), lit(" chars — this is a short-field " +
            "canonicalization op; use the shingle/MinHash stack for " +
            "document text"))))
        .otherwise(col("v")))
    // ≤ maxDist deletion neighborhood: iterate the ≤1-deletion set.
    // The MATERIALIZED __vars column is load-bearing at d=2: inlining
    // delSet(delSet(v)) would re-derive the inner array per outer
    // element (the repo's lambda-CSE rule).
    val withD1 = guarded.withColumn("__vars", array_distinct(delSet(col("v"))))
    val neighborhood = (2 to maxDist).foldLeft(withD1) { (acc, _) =>
      acc.withColumn("__vars",
        array_distinct(flatten(transform(col("__vars"), x => delSet(x)))))
    }
    val vars = neighborhood.select(col("v"), explode(col("__vars")).as("var"))
    vars.select(col("v").as("name_a"), col("var"))
      .join(vars.select(col("v").as("name_b"), col("var")), "var")
      .filter(col("name_a") < col("name_b"))
      .select(col("name_a"), col("name_b")).distinct()
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")).cast("long"))
      .filter(col("dist") <= maxDist)
  }

  /** The full short-field cleanup: [[editDistancePairs]] → connected
    * components → every DISTINCT value mapped to its cluster's CANONICAL
    * form (the most frequent member; count desc, value asc tie) — the
    * (dirty value → clean value) dictionary a caller broadcasts back
    * onto the fact table. Unmatched values are their own canonical form.
    *
    * Internals: values become CC node ids via the portable 60-bit md5
    * (collision odds ~ |dict|²/2⁶¹ — immaterial at dictionary scale, and
    * cluster LABELS never reach the output, so the oracle may label by
    * string-min while this labels by hash-min: the PARTITION is what
    * must agree). Output: (v, canonical_v, n_rows), one row per distinct
    * value.
    */
  def canonicalizeValues(df: DataFrame, valueCol: String,
      maxLen: Int = 256): DataFrame = {
    val counts = df.select(col(valueCol).as("v")).filter(col("v").isNotNull)
      .groupBy(col("v")).agg(count(lit(1)).as("n_rows"))
    def h(c: Column): Column =
      conv(substring(md5(c), 1, 15), 16, 10).cast("long")
    val cc = connectedComponents(editDistancePairs(df, valueCol, maxLen)
      .select(h(col("name_a")).as("doc_a"), h(col("name_b")).as("doc_b")))
    val labeled = counts.withColumn("node", h(col("v")))
      .join(cc.withColumnRenamed("id", "node"), Seq("node"), "left_outer")
      .withColumn("cluster", coalesce(col("cluster_id"), col("node")))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("n_rows").desc, col("v"))
    val canonical = labeled.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1).select(col("cluster"), col("v").as("canonical_v"))
    labeled.join(canonical, Seq("cluster"))
      .select(col("v"), col("canonical_v"), col("n_rows"))
  }

  /** Prime modulus for the universal-hash family (fits 31 bits so
    * a*x+b stays well inside int64 — no ANSI overflow at any scale).
    */
  val MinhashP = 999999937L

  /** MinHash signature columns h0..h{numHashes-1}. One md5 per shingle
    * provides the random base x; permutation i is the universal hash
    * (a_i·x + b_i) mod p. 32× cheaper than hashing per permutation —
    * at 100 TB the md5 is the dominant cost and runs exactly once per
    * (doc, shingle).
    */
  def minhashSignature(shingled: DataFrame, idCol: String = "doc_id",
      shinglesCol: String = "shingles", numHashes: Int = 24): DataFrame =
    minhashSignatureRows(
      shingled.select(col(idCol), explode(col(shinglesCol)).as("shingle")),
      idCol, "shingle", numHashes)

  /** Signature from (id, shingle) rows — the scale path, all codegen'd. */
  def minhashSignatureRows(rows: DataFrame, idCol: String = "doc_id",
      shingleCol: String = "shingle", numHashes: Int = 24): DataFrame = {
    val x = (conv(substring(md5(col(shingleCol)), 1, 15), 16, 10).cast("long") % MinhashP).as("__x")
    val withX = rows.select(col(idCol), x)
    val aggs = (0 until numHashes).map { i =>
      val a = 2L * i + 1; val b = 7919L * (i + 1)
      min((col("__x") * a + b) % MinhashP).as(s"h$i")
    }
    withX.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** The STATELESS per-row form of [[minhashSignatureRows]]: the same
    * h0..h{n-1} universal-hash minimums computed as array folds over a
    * per-doc shingle ARRAY — no explode, no groupBy, so the projection
    * is legal in an append-mode stream with no watermark (the streaming
    * band-ingest path) and exactly equals the batch aggregate form
    * (pinned in OpsSpec). The md5 base hash is materialized ONCE in its
    * own array column; inlining it in all `numHashes` lambdas would
    * re-hash every shingle per permutation (the repo's lambda-CSE rule).
    * Docs with empty shingle arrays get null signatures — callers
    * filter them first (the batch form simply has no rows for them).
    */
  def perRowSignature(df: DataFrame, idCol: String = "doc_id",
      shinglesCol: String = "shingles", numHashes: Int = 24): DataFrame = {
    val withX = df.select(col(idCol),
      transform(col(shinglesCol),
        s => conv(substring(md5(s), 1, 15), 16, 10).cast("long") % MinhashP)
        .as("__xs"))
    val hs = (0 until numHashes).map { i =>
      val a = 2L * i + 1; val b = 7919L * (i + 1)
      array_min(transform(col("__xs"), v => (v * a + b) % MinhashP)).as(s"h$i")
    }
    withX.select(col(idCol) +: hs: _*)
  }

  /** The LSH band rows (band, idCol) of a signature table — the
    * PERSISTABLE bucket index [[graft.jobs.BuildDedupIndex]] stores and
    * probes; [[lshCandidates]] self-joins the same rows fused, so the
    * stored and fused paths share one band definition and cannot drift.
    * Band shape r=3, b=8 (the defaults): catch probability at jaccard j
    * is 1−(1−j³)^8 — ≥ 1−2e-7 at j=0.95, while a background pair at
    * j≈0.1 collides with P ≈ 8e-6, keeping false candidates (and
    * therefore the quadratic verify work) near zero even on low-entropy
    * corpora.
    */
  def bandRows(sig: DataFrame, idCol: String = "doc_id",
      bands: Int = 8, rowsPerBand: Int = 3): DataFrame = {
    val bandCols = (0 until bands).map { b =>
      val ins = lit(b) +: (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"h$i"))
      md5(concat_ws("|", ins: _*))
    }
    sig.select(col(idCol), explode(array(bandCols: _*)).as("band"))
  }

  /** Default per-bucket membership cap for the LSH candidate stage
    * (see [[lshCandidates]]): far above anything a healthy corpus
    * produces (sf0.1 documents max out at 18 members/bucket; real
    * near-dup clusters are tens), so the chain path only ever fires on
    * the pathological buckets it exists for — the million-copy
    * boilerplate cluster whose identical signatures land k docs in one
    * band key and would emit O(k²) candidate pairs.
    */
  val DefaultMaxBandSize = 256

  /** Salt-group count for the two-level chain inside an over-full band
    * bucket — fixed (not cluster-dependent) so the emitted pairs are
    * deterministic and cross-engine oracle-able.
    */
  val HotBandSaltGroups = 64

  /** Component-preserving O(k) replacement for an over-full bucket's
    * O(k²) all-pairs: chain the bucket's members instead of pairing
    * them all. Two deterministic levels so no single task ever sorts
    * the whole bucket: members split into [[HotBandSaltGroups]] salt
    * groups by md5(id) (level 1: consecutive-id pairs within each
    * (band, salt) group), then each group's minimum id chains across
    * groups (level 2: ≤ 63 pairs per band). Exactly k−1 edges per
    * k-member bucket, spanning the same connected component as the
    * all-pairs clique — so downstream [[connectedComponents]] clusters
    * are identical, which is the contract the cap rides on. Input:
    * (band, idCol) rows, one per member; output (doc_a < doc_b).
    */
  private[graft] def chainBucketMembers(members: DataFrame,
      idCol: String): DataFrame = {
    val salt = pmod(conv(substring(md5(col(idCol).cast("string")), 1, 8),
      16, 10).cast("long"), lit(HotBandSaltGroups.toLong))
    val salted = members.select(col("band"), col(idCol), salt.as("__salt"))
    val wIn = Window.partitionBy(col("band"), col("__salt")).orderBy(col(idCol))
    val within = salted
      .withColumn("__next", lead(col(idCol), 1).over(wIn))
      .filter(col("__next").isNotNull)
      .select(col(idCol).as("doc_a"), col("__next").as("doc_b"))
    val reps = salted.groupBy(col("band"), col("__salt"))
      .agg(min(col(idCol)).as("__rep"))
    val wRep = Window.partitionBy(col("band")).orderBy(col("__rep"))
    val across = reps
      .withColumn("__next", lead(col("__rep"), 1).over(wRep))
      .filter(col("__next").isNotNull)
      .select(col("__rep").as("doc_a"), col("__next").as("doc_b"))
    within.union(across)
  }

  /** LSH candidate pairs: band key = md5(band_index | its r signature
    * mins); docs sharing any band key become candidates. Returns
    * (doc_a, doc_b) with doc_a < doc_b, distinct.
    *
    * Hot-band cap (`maxBandSize`, 0 disables): a bucket whose
    * membership k exceeds the cap — the million-copy boilerplate
    * cluster, whose members share identical signatures and therefore
    * identical band keys — would emit O(k²) pairs from the self-join
    * (10¹² candidates from ONE bucket at k = 10⁶). Over the cap the
    * bucket instead emits the k−1 [[chainBucketMembers]] edges, which
    * span the same component, so [[connectedComponents]]-based results
    * (clusters, keep-lists, keepers) are IDENTICAL while candidate
    * volume stays linear. What changes above the cap: the pair LIST for
    * that bucket is no longer exhaustive, and post-verify connectivity
    * relies on chained neighbors verifying (true for the near-identical
    * content that creates over-full buckets; a pair whose only
    * collision is a hot band and which is non-adjacent in the chain is
    * not re-verified). Membership counting is groupBy + join-back, the
    * same skew-safe shape as every df-cap in this file — never a
    * window over the hot key.
    *
    * So the default is COMPONENTS-exact, not pairs-exact. A consumer
    * of the RAW pair list (a pair-level audit, a similarity-graph
    * export, a downstream ranker scoring every candidate edge) must pass
    * `maxBandSize = 0` to get every colliding pair back, at O(k²) cost
    * in hot buckets; [[hotBandStats]] shows whether any bucket is over
    * the cap at all.
    */
  def lshCandidates(sig: DataFrame, idCol: String = "doc_id",
      bands: Int = 8, rowsPerBand: Int = 3,
      maxBandSize: Int = DefaultMaxBandSize): DataFrame = {
    val longPlain = bandRows(sig, idCol, bands, rowsPerBand)
    if (maxBandSize <= 0) {
      val a = longPlain.as("a"); val b = longPlain.as("b")
      a.join(b, col("a.band") === col("b.band") && col(s"a.$idCol") < col(s"b.$idCol"))
        .select(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
        .distinct()
    } else {
      // The capped path runs an EAGER census (one map-combined
      // aggregate over the cached narrow (id, band) table — the
      // ngramJaccardPairs cache precedent; freed by Caches.releaseAll) and
      // branches on the result, so the COMMON case — no bucket hot —
      // pays exactly the census and then builds the uncapped plan over
      // the cache, with zero extra joins. A small hot list becomes two
      // InSet FILTERS (codegen'd, no shuffle); only an adversarial
      // corpus with more than [[MaxDriverHotBands]] over-full buckets
      // falls back to the fully-distributed anti/semi form — the
      // driver pull is LIMIT-bounded either way.
      val long = Caches.register(longPlain.cache())
      val census = long.groupBy(col("band")).agg(count(lit(1)).as("__bn"))
        .filter(col("__bn") > maxBandSize).select(col("band"))
      cappedPairsFromCensus(long, census, idCol, maxBandSize)
    }
  }

  /** Driver-pull bound for the eager hot-band list: above this the cap
    * logic stays fully distributed (anti/semi joins) instead of InSet
    * filters. 4096 bands × 32 chars is a ~128 KiB pull; real corpora
    * carry a handful of mega-clusters, not thousands.
    */
  val MaxDriverHotBands = 4096

  /** Shared capped-pair assembly: census → (empty | InSet | join) plan.
    * `rows` are (…, band, idCol, …) member rows of the buckets in
    * play; `census` must select the over-cap band keys.
    */
  private[graft] def cappedPairsFromCensus(rows: DataFrame, census: DataFrame,
      idCol: String, maxBandSize: Int): DataFrame = {
    val hotList = census.limit(MaxDriverHotBands + 1).collect().map(_.getString(0))
    def selfJoin(side: DataFrame): DataFrame = {
      val a = side.as("a"); val b = rows.as("b")
      a.join(b, col("a.band") === col("b.band") && col(s"a.$idCol") < col(s"b.$idCol"))
        .select(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
    }
    if (hotList.isEmpty) selfJoin(rows).distinct()
    else if (hotList.length <= MaxDriverHotBands) {
      val inHot = col("band").isin(hotList.toIndexedSeq: _*)
      val coldPairs = selfJoin(rows.filter(!inHot))
      val hot = rows.filter(inHot).select(col("band"), col(idCol))
      coldPairs.union(chainBucketMembers(hot, idCol)).distinct()
    } else {
      val coldPairs = selfJoin(rows.join(census, Seq("band"), "left_anti"))
      val hot = rows.join(census, Seq("band"), "left_semi")
        .select(col("band"), col(idCol))
      coldPairs.union(chainBucketMembers(hot, idCol)).distinct()
    }
  }

  /** The overflow COUNTER for the hot-band cap — one row per corpus:
    * total band buckets, buckets over `maxBandSize`, the largest
    * bucket, and the candidate pairs the cap avoided
    * (Σ_hot k·(k−1)/2 − (k−1)). Run it alongside any capped dedup to
    * see whether (and how hard) the cap fired; a non-zero
    * `n_hot_bands` on a corpus that should not contain mega-clusters
    * is a data-quality alarm in itself. A corpus's `sig` is
    * `minhashSignatureRows(shingleRows(docs))`.
    */
  def hotBandStats(sig: DataFrame, idCol: String = "doc_id",
      bands: Int = 8, rowsPerBand: Int = 3,
      maxBandSize: Int = DefaultMaxBandSize): DataFrame =
    bandRows(sig, idCol, bands, rowsPerBand)
      .groupBy(col("band")).agg(count(lit(1)).as("n_members"))
      .agg(count(lit(1)).as("n_bands"),
        sum(when(col("n_members") > maxBandSize, 1L).otherwise(0L))
          .as("n_hot_bands"),
        max(col("n_members")).as("max_band_size"),
        sum(when(col("n_members") > maxBandSize,
          expr("n_members * (n_members - 1) DIV 2 - (n_members - 1)"))
          .otherwise(0L)).as("pairs_avoided"))

  /** Exact-Jaccard verification of candidate pairs against the shingle
    * sets; keeps pairs with jaccard > threshold using the integer form
    * `inter * den > num * union` (no floating point). Any extra columns
    * the candidate list carries (e.g. a blocking key like `lang`) are
    * preserved in the output ahead of `inter`/`uni`.
    */
  def verifyJaccard(candidates: DataFrame, shingled: DataFrame,
      idCol: String = "doc_id", shinglesCol: String = "shingles",
      thresholdNum: Int = 1, thresholdDen: Int = 2): DataFrame = {
    val s = shingled.select(col(idCol), col(shinglesCol))
    val withA = candidates.join(s.withColumnRenamed(idCol, "doc_a")
      .withColumnRenamed(shinglesCol, "sh_a"), "doc_a")
    val withB = withA.join(s.withColumnRenamed(idCol, "doc_b")
      .withColumnRenamed(shinglesCol, "sh_b"), "doc_b")
    withB
      // necessary condition on sizes alone (i ≤ min, uni ≥ max):
      // skips the expensive intersect for size-mismatched candidates.
      .filter(least(size(col("sh_a")), size(col("sh_b"))) * thresholdDen >
        greatest(size(col("sh_a")), size(col("sh_b"))) * thresholdNum)
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("uni", size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("inter") * thresholdDen > col("uni") * thresholdNum)
      .select(candidates.columns.toIndexedSeq.map(col) :+ col("inter") :+ col("uni"): _*)
  }

  /** Full MinHash+LSH near-dup pipeline. The input is spread across all
    * cores first: a single parquet file otherwise pins the whole
    * explode+hash stage to one task (at 100 TB the scan is many splits
    * and this repartition is a no-op cost-wise, the hash work dominates).
    *
    * Nothing corpus-sized is ever cached: the shingle pass runs once for
    * the signatures, and the verify side RE-SHINGLES only the documents
    * that appear in a candidate pair (a broadcast semi-join against the
    * source) — at 100 TB a second pruned scan is cheap, a corpus-wide
    * shingle cache is not. Only the candidate pair list (tiny: collision
    * rate × corpus) is cached, since two consumers need it.
    */
  def minhashPairs(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text",
      maxBandSize: Int = DefaultMaxBandSize): DataFrame = {
    val spread = Layout.spreadIfNarrow(df) // corpus exchange only when the input is narrow (guide §2.4)
    val sig = minhashSignatureRows(shingleRows(spread, idCol, textCol), idCol)
    val cand = Caches.register(
      lshCandidates(sig, idCol, maxBandSize = maxBandSize).cache())
    verifyAgainstSource(cand, spread, idCol, textCol)
  }

  /** Verify candidate pairs by re-shingling just the candidate docs — the
    * scale-safe verify default: a semi-join prunes the source scan to
    * docs that appear in some pair, so no corpus-sized shingle state is
    * ever cached or shuffled. No broadcast hint on the candidate-id set:
    * like the dropNearDuplicates drop set, it is O(collision count) —
    * small at sane thresholds but O(corpus) on a 30–80%-dup web crawl —
    * so the join must be free to shuffle; AQE still picks a broadcast
    * at runtime from the ACTUAL post-LSH size when it fits.
    */
  def verifyAgainstSource(cand: DataFrame, source: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      thresholdNum: Int = 1, thresholdDen: Int = 2): DataFrame = {
    val candDocs = cand.select(col("doc_a").as(idCol))
      .union(cand.select(col("doc_b").as(idCol))).distinct()
    val candSrc = source.join(candDocs, Seq(idCol), "left_semi")
    val arrays = shingleRows(candSrc, idCol, textCol)
      .groupBy(col(idCol)).agg(collect_set(col("shingle")).as("shingles"))
    verifyJaccard(cand, arrays, idCol, "shingles", thresholdNum, thresholdDen)
  }

  /** Blocked n-gram Jaccard near-dup pairs: same language, |Δlen| ≤
    * `maxLenDiff` chars, Jaccard > thresholdNum/thresholdDen over distinct
    * 3-token shingles. Output: (doc_a, doc_b, lang, inter, uni).
    *
    * Default formulation (r15): [[jaccardPrefixPairs]] — the exact
    * corpus-wide similarity join under the ℓ-extended asymmetric
    * prefix filter — restricted to the block predicates afterwards.
    * The blocked answer is BY DEFINITION the global J > t pair set
    * filtered to same-lang and |Δlen| ≤ maxLenDiff (both computations
    * use the same distinct 3-shingle sets and the same strict
    * inequality), so the two formulations are result-identical; the
    * cost model is not. The block self-join's candidate volume is
    * Σ_blocks n_b² — QUADRATIC in block population. Measured on the
    * 10× soak corpus (each block ~10× denser): block join 3,013–3,253 s
    * task time — more than every other query in the suite combined —
    * vs ~115 s for the prefix join, whose candidates are collision-
    * bounded, not block-bounded (sf0.1: 825 candidates survive the
    * ℓ-match + positional filters for 256 global pairs). At 1× the two
    * are comparable (~30 s task each); the quadratic is why the r6
    * three-way measurement that installed the block join had to be
    * re-opened once the prefix machinery existed. The lang/length
    * predicates are applied by joining the tiny (id, lang, len) meta
    * projection to the PAIR list (pairs ≪ corpus, so the planner
    * broadcasts the pair side; the meta side never shuffles).
    *
    * `cacheShingles = false` keeps the original CACHE-FREE block join
    * (one pass, no corpus-sized persisted state) for callers that must
    * not hold caches — the prefix path necessarily registers its
    * shingle-array and prefix-posting caches (freed by
    * [[Caches.releaseAll]], the jaccardPrefixPairs discipline). Historical
    * r6 measurement, kept for the record: cached block join 3.9 s /
    * uncached 34 s / pruned re-scan 13 s at sf0.1.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", langCol: String = "lang",
      lenCol: String = "n_chars", maxLenDiff: Int = 32,
      thresholdNum: Int = 3, thresholdDen: Int = 10,
      cacheShingles: Boolean = true): DataFrame = {
    if (cacheShingles) {
      val pairs = jaccardPrefixPairs(df, thresholdNum, thresholdDen,
        idCol, textCol)
      val meta = df.select(col(idCol), col(langCol), col(lenCol))
      pairs
        .join(meta.select(col(idCol).as("doc_a"), col(langCol).as("__lang_a"),
          col(lenCol).as("__nc_a")), Seq("doc_a"))
        .join(meta.select(col(idCol).as("doc_b"), col(langCol).as("__lang_b"),
          col(lenCol).as("__nc_b")), Seq("doc_b"))
        .filter(col("__lang_a") === col("__lang_b") &&
          abs(col("__nc_a") - col("__nc_b")) <= maxLenDiff)
        .select(col("doc_a"), col("doc_b"), col("__lang_a").as(langCol),
          col("inter").cast("int").as("inter"), col("uni").cast("int").as("uni"))
    } else {
      val bucketWidth = 2 * maxLenDiff
      val bkt = floor(col(lenCol) / bucketWidth)
      val spread = Layout.spreadIfNarrow(df) // corpus exchange only when the input is narrow (guide §2.4)
      val sh = shingleArrays(spread, idCol, textCol)
        .join(spread.select(col(idCol), col(langCol), col(lenCol)), Seq(idCol))
      val a = sh.select(col(idCol).as("doc_a"), col(langCol),
        col(lenCol).as("__nc_a"), col("shingles").as("sh_a"),
        explode(array(bkt - 1, bkt, bkt + 1)).as("__bucket"))
      val b = sh.select(col(idCol).as("doc_b"), col(langCol),
        col(lenCol).as("__nc_b"), col("shingles").as("sh_b"), bkt.as("__bucket"))
      b.join(a, Seq(langCol, "__bucket"))
        .filter(col("doc_a") < col("doc_b") &&
          abs(col("__nc_a") - col("__nc_b")) <= maxLenDiff)
        .filter(least(size(col("sh_a")), size(col("sh_b"))) * thresholdDen >
          greatest(size(col("sh_a")), size(col("sh_b"))) * thresholdNum)
        .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
        .withColumn("uni", size(array_union(col("sh_a"), col("sh_b"))))
        .filter(col("inter") * thresholdDen > col("uni") * thresholdNum)
        .select(col("doc_a"), col("doc_b"), col(langCol), col("inter"), col("uni"))
    }
  }

  /** SimHash near-duplicate pairs at Hamming distance ≤ `maxDist`, found
    * without any all-pairs stage via pigeonhole blocking: the 32-bit
    * fingerprint is split into `maxDist + 1` chunks, and two fingerprints
    * within distance `maxDist` MUST agree exactly on at least one chunk
    * (at most `maxDist` chunks can contain a differing bit). Candidates
    * come from a self-join on (chunk_index, chunk_value) — cardinality
    * ~2^8 per chunk, so the join key space is wide and the probe spreads —
    * then the exact popcount filter ([[graft.expressions.HammingDist]],
    * a codegen'd `Long.bitCount(a ^ b)`) verifies each candidate once.
    */
  def simhashNearDup(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", maxDist: Int = 3): DataFrame = {
    val sig = Caches.register(simhash(df, idCol, textCol).cache())
    hammingNearDupOnHash(sig, idCol, "simhash", maxDist, bits = 32)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("hamming"))
  }

  /** The pigeonhole machinery of [[simhashNearDup]] over a PRECOMPUTED
    * hash column — any fingerprint that measures similarity as Hamming
    * distance plugs in (SimHash fingerprints at 32 bits, perceptual
    * image average-hashes at 64: [[graft.ops.Multimodal.aHash]]).
    * `bits` is the hash width; the fingerprint splits into
    * `maxDist + 1` chunks of `bits / (maxDist+1)` bits, two hashes
    * within `maxDist` MUST share a chunk, and the codegen'd popcount
    * verifies each candidate once. Output: (id_a, id_b, hamming).
    */
  def hammingNearDupOnHash(sig: DataFrame, idCol: String, hashCol: String,
      maxDist: Int, bits: Int = 64): DataFrame = {
    val chunks = maxDist + 1
    require(maxDist >= 0 && chunks <= bits,
      s"maxDist must be in [0, ${bits - 1}] (needs $chunks non-empty chunks of a $bits-bit hash)")
    val bitsPer = bits / chunks // e.g. 4 chunks × 8 bits at 32/3
    // (when bits % chunks != 0 the top bits belong to no chunk — still
    // sound: diffs there leave every chunk equal, so such pairs remain
    // candidates and the exact popcount filter decides)
    val mask = if (bitsPer >= 64) lit(-1L) else lit((1L << bitsPer) - 1)
    val chunked = sig.select(col(idCol), col(hashCol).as("__h"),
      posexplode(array((0 until chunks).map(c =>
        shiftright(col(hashCol), c * bitsPer).bitwiseAND(mask)): _*))
        .as(Seq("chunk_idx", "chunk_val")))
    val a = chunked.as("a"); val b = chunked.as("b")
    val cand = a.join(b,
        col("a.chunk_idx") === col("b.chunk_idx") &&
        col("a.chunk_val") === col("b.chunk_val") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        col("a.__h").as("h_a"), col("b.__h").as("h_b"))
      .distinct() // a close pair can share several chunks; verify once
    cand
      .withColumn("hamming",
        graft.expressions.HammingDist.hammingNative(col("h_a"), col("h_b")))
      .filter(col("hamming") <= maxDist)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Partition count for an iterative loop over `n` rows: near-dup graphs
    * are usually minuscule next to the corpus, and a tiny loop shuffled
    * across every core pays more scheduler overhead per round than
    * compute. ~500k rows per partition, floored at 1, capped at the
    * default parallelism so giant graphs still spread.
    */
  private def loopPartitions(df: DataFrame, n: Long): Int =
    math.max(1, math.min(df.sparkSession.sparkContext.defaultParallelism,
      ((n + 499999L) / 500000L).toInt))

  /** Rewrite an edge list through the current labels — edge (u, v)
    * becomes (label(u), label(v)) — dropping self-loops and duplicates.
    */
  private def contract(edges: DataFrame, labels: DataFrame): DataFrame =
    edges.join(labels.withColumnRenamed("id", "src"), "src")
      .withColumnRenamed("cluster_id", "__ls")
      .join(labels.withColumnRenamed("id", "dst"), "dst")
      .withColumnRenamed("cluster_id", "__ld")
      .select(col("__ls").as("src"), col("__ld").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()

  /** Connected components over an undirected edge list — dedup clustering:
    * every document in a near-dup component gets the component's minimum
    * doc id as `cluster_id`. Iterative min-label propagation with
    * per-round edge CONTRACTION and pointer jumping (the large-scale
    * pattern: each round is a couple of shuffle-joins + aggregates; the
    * driver holds only an edge count and a label sum), converging in
    * O(log d) rounds on both aligned and label-fragmented chains —
    * pinned by DedupPropertiesSpec's shuffled long-path generator. Every
    * round is cut through [[Loop]]; only the final labels' cut survives
    * (released with [[Caches.releaseAll]]).
    * Returns (id, cluster_id) for every node appearing in `edges`.
    */
  def connectedComponents(edges: DataFrame, srcCol: String = "doc_a",
      dstCol: String = "doc_b", maxIter: Int = 20): DataFrame = {
    // Undirected: both orientations, so one groupBy(src) sees the full
    // neighbourhood of every node.
    val undLoop = new Loop
    val (undCut, nUnd) = undLoop.cut(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .union(edges.select(col(dstCol).as("src"), col(srcCol).as("dst"))))
    val p = loopPartitions(edges, nUnd)
    val und = undCut.coalesce(p)
    val labelSum = (s: Long, r: org.apache.spark.sql.Row) => s + r.getLong(1)
    // Seed labels directly with the 1-hop minimum — min(least(src, dst))
    // grouped by src IS min(self, neighbours) — which is what round one
    // of the loop would otherwise spend a join computing.
    val labelLoop = new Loop
    var (labels, prevSum) = labelLoop.cut(und
      .groupBy(col("src").as("id"))
      .agg(min(least(col("src"), col("dst"))).as("cluster_id")).coalesce(p),
      0L)(labelSum, _ + _)
    // The working edge list is CONTRACTED through the labels each round:
    // plateau minima become directly adjacent, so the next round's 1-hop
    // moves labels between whole plateaus, not single nodes. Without
    // this, a chain with shuffled ids converges in O(#local minima)
    // rounds — the static-edge pointer-jump formulation stalls at every
    // label-plateau boundary (pinned by DedupPropertiesSpec's long-path
    // test). Contraction + the pointer jump below converge in O(log d)
    // rounds on both adversarial shapes (aligned chains: the jump
    // doubles; fragmented labels: contraction collapses plateaus — each
    // round the plateau path shrinks geometrically).
    //
    // Termination needs BOTH signals: an empty contracted edge list
    // proves the component assignment is decided (every edge's endpoints
    // share a label-chain), but labels may still be CHAINS (5→2→1) that
    // the jump has not flattened; labels only ever decrease, so an
    // unchanged label sum proves the jump hit its fixed point. While
    // edges remain the sum strictly decreases (some plateau absorbs a
    // smaller neighbour), so the pair (no edges, stable sum) is exact:
    // every node carries its component minimum.
    val edgeLoop = new Loop
    var (cu, ecnt) = edgeLoop.cut(contract(und, labels).coalesce(p))
    undLoop.free() // seeding + initial contraction done
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      // 1-hop at plateau level: each label-node takes the min of its
      // contracted neighbours' labels. Once the contracted edge list is
      // EMPTY the component assignment is decided and only label-chain
      // flattening remains — those rounds skip the hop union/groupBy and
      // the contraction job entirely (pure jump, one job per round).
      val hop = if (ecnt == 0) labels else {
        val fromNeighbours = cu
          .join(labels.withColumnRenamed("id", "src"), "src")
          .select(col("dst").as("id"), col("cluster_id"))
        labels.select(col("id"), col("cluster_id"))
          .union(fromNeighbours)
          .groupBy(col("id")).agg(min(col("cluster_id")).as("cluster_id"))
      }
      // Pointer jump (path doubling): follow the label one more step —
      // label(x) ← label(label(x)) — spreading a plateau-min's new label
      // to every member in the same round.
      val (next, s) = labelLoop.cut(hop.as("x").join(
          hop.select(col("id").as("__pid"), col("cluster_id").as("__plbl")),
          col("x.cluster_id") === col("__pid"), "left")
        .select(col("x.id").as("id"),
          coalesce(col("__plbl"), col("x.cluster_id")).as("cluster_id"))
        .coalesce(p), 0L)(labelSum, _ + _)
      labels = next
      if (ecnt > 0) {
        val (ncu, n) = edgeLoop.cut(contract(cu, labels).coalesce(p))
        cu = ncu
        ecnt = n
      }
      done = ecnt == 0 && s == prevSum
      prevSum = s
      iter += 1
    }
    // Fail LOUDLY rather than hand back partially-propagated labels: a
    // graph needing more than maxIter contraction+jump rounds (diameter
    // beyond ~2^(maxIter/2)) is a caller decision, not a silent result.
    if (!done)
      Loop.refuse(s"connectedComponents did not converge in $maxIter rounds " +
        s"($ecnt contracted edges remain); raise maxIter", edgeLoop, labelLoop)
    edgeLoop.free()
    labelLoop.keep()
    labels
  }

  /** Incremental MinHash dedup — the hourly-production shape: signatures
    * are computed for the whole corpus, but candidate pairs are kept only
    * when the pair's LATER doc is new (`doc_b >= newFromId`; since
    * doc_a < doc_b this is exactly "at least one side is new", because a
    * new doc_a forces a newer doc_b). Historical×historical pairs — the
    * quadratic bulk that was already verified in previous runs — never
    * reach the verify join. At steady state the per-batch cost is
    * O(batch × collision rate), not O(corpus²).
    */
  def minhashPairsIncremental(df: DataFrame, newFromId: Long,
      idCol: String = "doc_id", textCol: String = "text",
      maxBandSize: Int = DefaultMaxBandSize): DataFrame = {
    val spread = Layout.spreadIfNarrow(df) // corpus exchange only when the input is narrow (guide §2.4)
    val sig = minhashSignatureRows(shingleRows(spread, idCol, textCol), idCol)
    val cand = Caches.register(lshCandidates(sig, idCol, maxBandSize = maxBandSize)
      .filter(col("doc_b") >= newFromId)
      .cache())
    verifyAgainstSource(cand, spread, idCol, textCol)
  }

  /** Distributed Bloom filter over a corpus's EXACT text hashes — the
    * seen-side index for [[bloomNovelDocuments]]. Built without any
    * driver-side state: each seen doc contributes `kProbes` (word, bit)
    * positions derived from disjoint md5 slices, and one `bit_or`
    * hash-aggregate folds them into `mBits / 64` long words — a table
    * of at most `mBits / 64` rows (8 KiB of payload at the default
    * 2^16 bits) that broadcasts to every executor. Persist it next to
    * the corpus and a daily increment never touches the seen rows at
    * all until the exact verify.
    *
    * All positions are md5-derived (the repo's portability rule), so
    * the filter is deterministic and rebuildable bit-for-bit by any
    * engine — but no oracle ever needs to reproduce it: membership is
    * only a PRUNE, never an answer (see [[bloomNovelDocuments]]).
    */
  def bloomTextFilter(seen: DataFrame, mBits: Int = 65536, kProbes: Int = 4,
      textCol: String = "text"): DataFrame = {
    require(mBits >= 64 && (mBits & (mBits - 1)) == 0,
      s"bloomTextFilter: mBits must be a power of two >= 64, got $mBits")
    require(kProbes >= 1 && kProbes <= 4,
      s"bloomTextFilter: kProbes must be 1..4 (disjoint 32-bit md5 slices), got $kProbes")
    val probes = array((0 until kProbes).map { i =>
      pmod(conv(substring(md5(col(textCol)), 1 + 8 * i, 8), 16, 10)
        .cast("long"), lit(mBits.toLong))
    }: _*)
    seen.select(explode(probes).as("__pos"))
      .select((col("__pos") / 64).cast("long").as("word"),
        expr("shiftleft(1L, cast(__pos % 64 as int))").as("__mask"))
      .groupBy(col("word"))
      .agg(bit_or(col("__mask")).as("bits"))
  }

  /** Incremental EXACT dedup against a huge seen corpus, Bloom-pruned —
    * the daily-crawl shape at 100 TB: "which of today's documents are
    * verbatim copies of anything we already hold?" answered WITHOUT
    * shuffling the seen corpus. The increment's docs probe the
    * broadcast [[bloomTextFilter]] (kProbes bit tests per doc, a
    * per-row projection against an ≤ mBits/64-row table); only
    * bloom-positive docs — true duplicates plus the filter's false
    * positives — reach the exact text semi-join against `seen`, and
    * the join broadcasts the (tiny) candidate side, so the seen corpus
    * is scanned once and never exchanged. False positives cost one
    * extra candidate row each and CANNOT change the answer: the final
    * duplicate/novel verdict always comes from the exact join, which
    * is why the result oracles as a plain NOT EXISTS in any engine
    * while the bloom itself stays engine-internal.
    *
    * Output: every increment row's (idCol, is_novel) — `is_novel`
    * false iff the text exists verbatim in `seen`.
    */
  def bloomNovelDocuments(increment: DataFrame, seen: DataFrame,
      mBits: Int = 65536, kProbes: Int = 4, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    bloomNovelWithFilter(increment,
      bloomTextFilter(seen, mBits, kProbes, textCol),
      seen, mBits, kProbes, idCol, textCol)

  /** [[bloomNovelDocuments]] against a PREBUILT filter — the shared
    * probe+verify body behind the in-memory form above and the stored
    * form ([[graft.jobs.BuildBloomStore.novelDocuments]]), so disk ≡
    * memory is structural. `bloom` must have been built by
    * [[bloomTextFilter]] with the same (mBits, kProbes) over exactly
    * the docs `seen` holds: a filter MISSING a seen doc's bits can
    * return a false "novel" (the one error the exact verify cannot
    * catch — it only checks candidates the bloom admits), which is why
    * the stored job gates merges on per-batch geometry meta.
    */
  private[graft] def bloomNovelWithFilter(increment: DataFrame,
      bloom: DataFrame, seen: DataFrame, mBits: Int, kProbes: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val probes = array((0 until kProbes).map { i =>
      pmod(conv(substring(md5(col(textCol)), 1 + 8 * i, 8), 16, 10)
        .cast("long"), lit(mBits.toLong))
    }: _*)
    // per-doc bloom test: every probe bit set ⇔ hit count == kProbes.
    // explode + broadcast-join on the word index + one doc-keyed agg —
    // the increment is batch-sized by contract, the bloom table tiny.
    val hits = increment
      .select(col(idCol), col(textCol), explode(probes).as("__pos"))
      .select(col(idCol), col(textCol),
        (col("__pos") / 64).cast("long").as("word"),
        expr("shiftleft(1L, cast(__pos % 64 as int))").as("__mask"))
      .join(broadcast(bloom), Seq("word"), "left_outer")
      .groupBy(col(idCol), col(textCol))
      .agg(sum(when(coalesce(col("bits"), lit(0L))
        .bitwiseAND(col("__mask")) === col("__mask"), 1L).otherwise(0L))
        .as("__hits"))
    // cached: the candidate set feeds BOTH the verify's broadcast build
    // and the dup-id projection — uncached, the whole probe subtree
    // (increment scan + bloom build) runs twice (observed in the plan)
    val candidates = Caches.register(hits.filter(col("__hits") === kProbes)
      .select(col(idCol), col(textCol)).cache())
    // exact verify: candidates (true dups + FPs, tiny) semi-join seen on
    // the text — broadcast the candidate side so seen is scanned once
    // and never exchanged on its full width; the post-semi distinct
    // shuffles only candidate-matching texts (bounded by the increment,
    // not by seen — a hot text with 10^6 seen copies must not ride a
    // broadcast un-deduped)
    val confirmed = seen.select(col(textCol))
      .join(broadcast(candidates.select(col(textCol)).distinct()),
        Seq(textCol), "left_semi")
      .distinct()
    val dupIds = candidates.join(broadcast(confirmed), Seq(textCol), "left_semi")
      .select(col(idCol), lit(true).as("__dup"))
    increment.select(col(idCol))
      .join(dupIds, Seq(idCol), "left_outer")
      .select(col(idCol), (!coalesce(col("__dup"), lit(false))).as("is_novel"))
  }

  /** End-to-end near-dup removal: keep one representative per near-dup
    * cluster (the minimum doc id) plus every doc not in any pair. The
    * "switch your corpus to deduped" one-liner: MinHash+LSH pairs →
    * connected components → anti-join the non-representatives away.
    * The drop set is O(duplicate count) — web-scale corpora run 30–80%
    * near-dup, so at 100 TB it is billions of ids and MUST be allowed
    * to shuffle; no broadcast hint (stats/AQE still broadcast it when
    * it happens to be small).
    */
  def dropNearDuplicates(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val clusters = connectedComponents(minhashPairs(df, idCol, textCol))
    val toDrop = clusters.filter(col("id") =!= col("cluster_id"))
      .select(col("id").as(idCol))
    df.join(toDrop, Seq(idCol), "left_anti")
  }

  /** 32-bit SimHash over the distinct-token set: token hash = first 8 md5
    * hex digits as an integer; bit j of the simhash is 1 iff a strict
    * majority of token hashes have bit j set. One explode + one aggregate.
    */
  def simhash(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", bits: Int = 32): DataFrame = {
    val spread = Layout.spreadIfNarrow(df) // corpus exchange only when the input is narrow (guide §2.4)
    val toks = spread.select(col(idCol),
      explode(array_distinct(split(col(textCol), " "))).as("__tok"))
    val h = conv(substring(md5(col("__tok")), 1, 8), 16, 10).cast("long")
    val bitSums = (0 until bits).map(j =>
      sum(shiftright(h, j).bitwiseAND(lit(1L)) * 2 - 1).as(s"__b$j"))
    val agg = toks.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
    val sh = (0 until bits).map(j =>
      when(col(s"__b$j") > 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ + _)
    agg.select(col(idCol), sh.as("simhash"))
  }
}
