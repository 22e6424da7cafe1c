package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.Dedup

/** Deduplication surface over `documents`: exact, MinHash+LSH, SimHash,
  * and blocked n-gram Jaccard. Oracles avoid floating point entirely —
  * Jaccard thresholds compare as integer cross-products, and all hashes
  * are md5-derived (bit-identical across engines).
  *
  * The MinHash oracle is brute-force all-pairs: with 16 bands × 2 rows the
  * probability LSH misses a pair at the 0.5 threshold is (1−j²)^16 ≤ 1%,
  * and the planted near-dups in this corpus sit at j ≥ 0.95 (miss prob
  * ~1e-16), so LSH output == exact output.
  */
object DedupQueries {

  /** Shared DuckDB CTE: distinct 3-token shingle lists per document. */
  private val ShinglesCte =
    """d AS (SELECT doc_id, lang, n_chars, string_split(text, ' ') AS toks,
      |             len(string_split(text, ' ')) AS nt FROM documents),
      |sh AS (SELECT doc_id, lang, n_chars,
      |              list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
      |                             for i in range(1, nt - 1)]) AS s
      |       FROM d)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> { (spark, dir) =>
      import spark.implicits._
      Dedup.exact(Tables.documents(spark, dir))
        .orderBy("keeper_id")
    },

    "name_typo_pairs" -> { (spark, dir) =>
      // Typo-level value canonicalization (FastSS, exact d=1 blocking):
      // distinct part names within ONE edit — the short-field dedup the
      // shingle stack can't do (3-token names have no 3-shingles to
      // spare). Deletion-neighborhood join + levenshtein verify.
      import spark.implicits._
      Dedup.editDistancePairs(Tables.part(spark, dir), "p_name")
        .orderBy("name_a", "name_b")
    },

    "dedup_bloom_increment" -> { (spark, dir) =>
      // Bloom-pruned incremental EXACT dedup (the daily-crawl shape):
      // the increment is a synthetic re-crawl — verbatim copies of every
      // id%10==0 doc (must come back is_novel=false) plus modified
      // copies of every id%10==5 doc (novel). The bloom (distributed
      // bit_or build, broadcast ≤ mBits/64 rows) prunes the exact
      // verify; false positives can only add candidates, so the result
      // oracles as a plain NOT EXISTS — the bloom never reaches the
      // oracle surface.
      import spark.implicits._
      val docs = Tables.documents(spark, dir)
      val increment = docs.filter($"doc_id" % 10 === 0)
        .select(($"doc_id" + 1000000L).as("doc_id"), $"text")
        .unionByName(docs.filter($"doc_id" % 10 === 5)
          .select(($"doc_id" + 2000000L).as("doc_id"),
            concat($"text", lit(" r9novel")).as("text")))
      Dedup.bloomNovelDocuments(increment, docs)
        .orderBy("doc_id")
    },

    "novel_docs_stored" -> { (spark, dir) =>
      // dedup_bloom_increment's STORED form (BuildBloomStore): the seen
      // corpus's filter is persisted as two per-batch word tables and
      // bit_or-merged at read — the daily increment never rebuilds it.
      // Same synthetic re-crawl fixture; the exact verify keeps the
      // bloom off the oracle surface, so this oracles as NOT EXISTS
      // while pinning the whole store layout + merge + probe chain.
      import spark.implicits._
      val base = java.nio.file.Files.createTempDirectory("graft-bloom-store")
      val docs = Tables.documents(spark, dir)
      val seenP = s"$base/seen"
      // three independent staging writes — overlap them (guide §2.6)
      graft.jobs.Overlap.all(
        () => docs.select($"doc_id", $"text")
          .write.mode("overwrite").parquet(seenP),
        () => docs.filter($"doc_id" < 250).select($"doc_id", $"text")
          .write.mode("overwrite").parquet(s"$base/h0"),
        () => docs.filter($"doc_id" >= 250).select($"doc_id", $"text")
          .write.mode("overwrite").parquet(s"$base/h1"))
      val out = s"$base/store"
      graft.jobs.BuildBloomStore.run(spark, s"$base/h0", out)
      graft.jobs.BuildBloomStore.append(spark, s"$base/h1", out, "h1")
      val increment = docs.filter($"doc_id" % 10 === 0)
        .select(($"doc_id" + 1000000L).as("doc_id"), $"text")
        .unionByName(docs.filter($"doc_id" % 10 === 5)
          .select(($"doc_id" + 2000000L).as("doc_id"),
            concat($"text", lit(" r11novel")).as("text")))
      graft.jobs.BuildBloomStore.novelDocuments(spark, out, increment, seenP)
        .orderBy("doc_id")
    },

    "name_typo_pairs_d2" -> { (spark, dir) =>
      // FastSS at typo distance 2 (Bocek §3 recursive deletion
      // neighborhoods): same blocking, composed twice, verified by
      // levenshtein ≤ 2. The oracle is the BRUTE-FORCE all-pairs
      // levenshtein — independent of the blocking, so it proves the
      // d=2 neighborhood is recall-exact, not merely self-consistent.
      import spark.implicits._
      Dedup.editDistancePairs(Tables.part(spark, dir), "p_name", maxDist = 2)
        .orderBy("name_a", "name_b")
    },

    "name_canonical_map" -> { (spark, dir) =>
      // The complete short-field cleanup: typo pairs → connected
      // components → (dirty value → canonical value) dictionary, the
      // frame a caller broadcasts back onto the fact table. Canonical =
      // most frequent cluster member. Cluster LABELS stay internal, so
      // the oracle's string-min recursive labeling and the engine's
      // hash-min pointer jumping need only agree on the PARTITION.
      import spark.implicits._
      Dedup.canonicalizeValues(Tables.part(spark, dir), "p_name")
        .orderBy("v")
    },

    "dedup_minhash" -> { (spark, dir) =>
      import spark.implicits._
      Dedup.minhashPairs(Tables.documents(spark, dir))
        .select($"doc_a", $"doc_b", $"inter".cast("long").as("inter"),
          $"uni".cast("long").as("uni"))
        .orderBy("doc_a", "doc_b")
    },

    "containment_pairs" -> { (spark, dir) =>
      // Directional containment (quote-in-document detection): one row
      // per (src, dst) where ≥80% of src's non-boilerplate shingles
      // (document frequency ≤ 50) appear in dst. Cross-length by
      // design — the pairs Jaccard's union denominator suppresses.
      import spark.implicits._
      Dedup.containmentPairs(Tables.documents(spark, dir))
        .orderBy("src", "dst")
    },

    "dup_shingle_fraction" -> { (spark, dir) =>
      // Cross-document duplicate-shingle fraction — the corpus-level
      // boilerplate signal (a doc scores high from MANY partial
      // overlaps even when no single pair passes the near-dup
      // threshold). Docs shorter than one shingle are absent by
      // definition in both engines.
      import spark.implicits._
      Dedup.dupShingleFraction(Tables.documents(spark, dir))
        .orderBy("doc_id")
    },

    "max_dup_span" -> { (spark, dir) =>
      // Longest CONTIGUOUS cross-document duplicated token run per doc
      // — the exact-substring-dedup threshold statistic (span ≥ N
      // tokens ⇒ cut), complementing dup_shingle_fraction's how-much
      // with how-contiguous. Positional shingles, groupBy-df join-back
      // (no window on the skewed shingle key), islands-and-gaps per
      // doc (bounded partitions).
      import spark.implicits._
      Dedup.maxDupSpan(Tables.documents(spark, dir))
        .orderBy("doc_id")
    },

    "strip_dup_spans" -> { (spark, dir) =>
      // The exact-substring CUT max_dup_span measures: remove every
      // token under a cross-document duplicated run spanning ≥ 6
      // tokens, keep scattered shared trigrams. Same skew-safe df
      // shape; reassembly is the boilerplate_strip tail.
      import spark.implicits._
      Dedup.stripDupSpans(Tables.documents(spark, dir))
        .orderBy("doc_id")
    },

    "contamination_span" -> { (spark, dir) =>
      // Span-level decontamination: for every TRAIN-split doc, the
      // longest contiguous token run whose shingles all appear in the
      // TEST split — a leaked benchmark item is a verbatim REGION, not
      // scattered trigram overlap (which `decontaminate` counts).
      // Composes corpusSplit with the crossDupSpan machinery end-to-end
      // under one oracle.
      import spark.implicits._
      val docs = Tables.documents(spark, dir)
      // split attaches as a per-row hash COLUMN (TextOps.splitCol), not
      // a corpus self-join on doc_id — zero shuffles before the span
      val withSplit = docs.withColumn("split", graft.ops.TextOps.splitCol())
      Dedup.crossDupSpan(
        withSplit.filter($"split" === "train"),
        withSplit.filter($"split" === "test"))
        .orderBy("doc_id")
    },

    "dedup_simhash" -> { (spark, dir) =>
      import spark.implicits._
      Dedup.simhash(Tables.documents(spark, dir))
        .orderBy("doc_id")
    },

    "simhash_near_dup" -> { (spark, dir) =>
      // Pigeonhole-blocked SimHash pairs at Hamming ≤ 3, verified by the
      // native codegen popcount expression. The oracle is brute-force
      // all-pairs — blocking is exact (not probabilistic), so outputs
      // must be identical.
      import spark.implicits._
      Dedup.simhashNearDup(Tables.documents(spark, dir))
        .withColumn("hamming", $"hamming".cast("long"))
        .orderBy("doc_a", "doc_b")
    },

    "dedup_clusters" -> { (spark, dir) =>
      // Near-dup graph → connected components: each doc in a MinHash
      // near-dup pair gets min(component) as its cluster id. Iterative
      // label propagation on Spark; recursive CTE in the oracle.
      import spark.implicits._
      val pairs = Dedup.minhashPairs(Tables.documents(spark, dir))
        .select($"doc_a", $"doc_b")
      Dedup.connectedComponents(pairs)
        .select($"id", $"cluster_id")
        .orderBy("id")
    },

    "bit_aggregates" -> { (spark, dir) =>
      // Bitwise aggregate surface (bit_or/bit_and/bit_xor) over the
      // per-document simhash fingerprints, grouped by language — e.g.
      // bit_or is the "any document sets this bit" mask per group.
      import spark.implicits._
      val docs = Tables.documents(spark, dir)
      Dedup.simhash(docs)
        .join(docs.select($"doc_id", $"lang"), "doc_id")
        .groupBy($"lang")
        .agg(bit_or($"simhash").as("bits_any"),
          bit_and($"simhash").as("bits_all"),
          bit_xor($"simhash").as("bits_parity"),
          count(lit(1)).as("n_docs"))
        .orderBy("lang")
    },

    "dedup_corpus_keep" -> { (spark, dir) =>
      // End-to-end removal: the deduplicated corpus (one representative
      // per near-dup component) — the "switch your pipeline to this
      // library" one-liner.
      import spark.implicits._
      Dedup.dropNearDuplicates(Tables.documents(spark, dir))
        .select($"doc_id")
        .orderBy("doc_id")
    },

    "dedup_keep_best" -> { (spark, dir) =>
      // Quality-aware keeper: per near-dup cluster keep the LONGEST
      // member (n_chars, id tie-break) instead of the min id —
      // singletons are their own cluster, so the output covers the
      // whole corpus one row per cluster.
      import spark.implicits._
      Dedup.keepBestPerCluster(Tables.documents(spark, dir))
        .orderBy("cluster_id")
    },

    "curate_corpus" -> { (spark, dir) =>
      // The END-TO-END curation pipeline in ONE oracled query — the
      // "switch your pipeline to this library" capstone: exact dedup
      // (min id per identical text) → quality-aware near-dup removal
      // (longest member per MinHash cluster) → minimum-length quality
      // gate → deterministic train/val/test assignment. The query IS
      // the library call (CurateCorpus.curate), so the oracle gates the
      // one-liner the README advertises — no inline re-implementation
      // that could silently drift from it.
      import spark.implicits._
      graft.jobs.CurateCorpus.curate(Tables.documents(spark, dir),
          minChars = 100)
        .select($"doc_id", $"lang", $"n_chars", $"split")
        .orderBy("doc_id")
    },

    "novelty_frac" -> { (spark, dir) =>
      // Per-doc novelty in corpus order: fraction of a doc's distinct
      // shingles first seen IN that doc (min doc_id over the corpus) —
      // the directional complement of dup_shingle_fraction.
      import spark.implicits._
      Dedup.noveltyFraction(Tables.documents(spark, dir))
        .orderBy("doc_id")
    },

    "minhash_signature" -> { (spark, dir) =>
      // The signature math itself, oracled: per (doc, permutation) the
      // min of (a_i·x + b_i) mod p over the doc's shingle hashes. The
      // wide h0..h23 aggregate unpivots to rows so the oracle is a plain
      // cross join against range(24).
      import spark.implicits._
      val docs = Tables.documents(spark, dir).filter($"doc_id" < 50)
      val sig = Dedup.minhashSignatureRows(Dedup.shingleRows(docs))
      val cols = (0 until 24).map(i =>
        struct(lit(i).cast("long").as("perm"), col(s"h$i").as("h")))
      sig.select($"doc_id", explode(array(cols: _*)).as("ph"))
        .select($"doc_id", $"ph.perm".as("perm"), $"ph.h".as("h"))
        .orderBy("doc_id", "perm")
    },

    "dedup_incremental" -> { (spark, dir) =>
      // Hourly-production incremental dedup: docs with id >= 400 are "the
      // new batch"; only pairs whose later doc is new get verified.
      import spark.implicits._
      Dedup.minhashPairsIncremental(Tables.documents(spark, dir), newFromId = 400L)
        .select($"doc_a", $"doc_b", $"inter".cast("long").as("inter"),
          $"uni".cast("long").as("uni"))
        .orderBy("doc_a", "doc_b")
    },

    "dedup_stored_increment" -> { (spark, dir) =>
      // The STORED-index variant of dedup_incremental: the seen corpus's
      // LSH buckets are a persisted table (BuildDedupIndex layout), and
      // the batch probes them — signatures computed for the batch only,
      // never the corpus (the 100 TB hourly shape). Same probe body as
      // the disk path (JobsSpec pins disk ≡ memory ≡ fused), same
      // semantics as dedup_incremental, so the same oracle pins the
      // whole store-then-probe composition.
      import spark.implicits._
      val docs = Tables.documents(spark, dir)
      val seenBuckets = graft.jobs.BuildDedupIndex.bandTable(
        docs.filter($"doc_id" < 400))
      graft.jobs.BuildDedupIndex.probe(
          docs.filter($"doc_id" >= 400), seenBuckets, docs)
        .select($"doc_a", $"doc_b", $"inter".cast("long").as("inter"),
          $"uni".cast("long").as("uni"))
        .orderBy("doc_a", "doc_b")
    },

    "lsh_hot_band_chain" -> { (spark, dir) =>
      // The hot-band cap's EXACT pair semantics, oracled: docs < 100
      // plus ten verbatim copies of each of docs 0..2 (identical text →
      // identical signatures → 11+-member band buckets). With the cap
      // forced down to 4, those buckets emit the deterministic
      // two-level chain (salt groups by md5(id), consecutive-id edges,
      // then the rep chain) while every cold bucket keeps its all-pairs
      // — both reproduced verbatim in DuckDB, so a drift in EITHER
      // path (the chain order, the salt, the cap trigger, the cold
      // join) hash-mismatches.
      import spark.implicits._
      val corpus = hotCorpus(spark, dir)
      Dedup.lshCandidates(
          Dedup.minhashSignatureRows(Dedup.shingleRows(corpus)),
          maxBandSize = 4)
        .orderBy("doc_a", "doc_b")
    },

    "hot_band_stats" -> { (spark, dir) =>
      // The cap's loud overflow counter on the same synthetic hot
      // corpus: bucket census plus the pair-exact count of candidates
      // the cap avoided (Σ_hot k(k−1)/2 − (k−1)).
      import spark.implicits._
      val corpus = hotCorpus(spark, dir)
      Dedup.hotBandStats(
        Dedup.minhashSignatureRows(Dedup.shingleRows(corpus)),
        maxBandSize = 4)
    },

    "decontaminate" -> { (spark, dir) =>
      // Benchmark decontamination — the train/eval n-gram overlap check
      // every LLM data pipeline runs before training: flag training
      // docs sharing ≥3 distinct 3-token shingles with any eval doc.
      // Scale shape: the eval set is tiny by construction, so its
      // shingle rows BROADCAST and the training corpus streams through
      // a map-side hash join on the shingle — no shuffle of the corpus,
      // cost O(train shingles); countDistinct tolerates shingleRows'
      // deliberate duplicates.
      import spark.implicits._
      val docs = Tables.documents(spark, dir)
      val bench = Dedup.shingleRows(docs.filter($"doc_id" < 20))
        .select($"doc_id".as("bench_id"), $"shingle")
      val train = Dedup.shingleRows(
          docs.filter($"doc_id" >= 20)
            .repartition(spark.sparkContext.defaultParallelism))
        .select($"doc_id".as("train_id"), $"shingle")
      train.join(broadcast(bench), "shingle")
        .groupBy($"train_id", $"bench_id")
        .agg(countDistinct($"shingle").as("n_shared"))
        .filter($"n_shared" >= 3)
        .orderBy("train_id", "bench_id")
    },

    "boilerplate_strip" -> { (spark, dir) =>
      // RefinedWeb/CCNet-style template removal at shingle granularity:
      // tokens covered by a 3-gram appearing in >5 documents are cut and
      // the doc reassembled in order — the REPAIR complement of
      // dup_shingle_fraction's detection signal. Inverted-index shape
      // throughout (groupBy df + join-back, never a shingle window).
      import spark.implicits._
      Dedup.stripBoilerplate(Tables.documents(spark, dir), dfCap = 5)
        .orderBy("doc_id")
    },

    "dedup_jaccard_prefix" -> { (spark, dir) =>
      // EXACT global similarity join (prefix filtering, Bayardo et al.
      // WWW'07): every pair with shingle Jaccard > 0.3 over the whole
      // corpus, no blocking heuristics — the lossless complement of
      // dedup_ngram_jaccard's (lang, length) blocks and dedup_minhash's
      // probabilistic bands. Rarest-first prefixes keep the candidate
      // postings short exactly where document frequency is skewed.
      import spark.implicits._
      Dedup.jaccardPrefixPairs(Tables.documents(spark, dir))
        .orderBy("doc_a", "doc_b")
    },

    "dedup_ngram_jaccard" -> { (spark, dir) =>
      // Blocked quadratic verification: same lang + |Δn_chars| ≤ 32,
      // Jaccard > 0.3, via the measured-fastest formulation (one block
      // join over a cached-then-released shingle table — see
      // Dedup.ngramJaccardPairs for the three-way measurement and the
      // 100 TB cost rationale).
      import spark.implicits._
      Dedup.ngramJaccardPairs(Tables.documents(spark, dir))
        .select($"doc_a", $"doc_b", $"lang", $"inter".cast("long").as("inter"),
          $"uni".cast("long").as("uni"))
        .orderBy("doc_a", "doc_b")
    })

  /** The SPARK side of [[HotBandCte]]'s synthetic hot corpus — one
    * definition shared by `lsh_hot_band_chain` and `hot_band_stats`,
    * mirroring the CTE so a fixture tweak applied to one query cannot
    * silently diverge the other's oracle.
    */
  private def hotCorpus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).filter($"doc_id" < 100)
    val copies = docs.filter($"doc_id" < 3)
      .select($"doc_id", $"text",
        explode(sequence(lit(0L), lit(9L))).as("r"))
      .select(($"doc_id" * 100 + $"r" + 10000L).as("doc_id"), $"text")
    docs.select($"doc_id", $"text").unionByName(copies)
  }

  /** Shared DuckDB CTE for the two hot-band queries: the synthetic hot
    * corpus (docs < 100 plus ten verbatim copies of docs 0..2), its
    * 24-permutation MinHash signatures, the 8 r=3 band keys
    * (md5(b|h₃ᵦ|h₃ᵦ₊₁|h₃ᵦ₊₂), exactly Dedup.bandRows' concat_ws), and
    * the per-bucket membership census.
    */
  private val HotBandCte =
    """corpus AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id < 100
      |  UNION ALL
      |  SELECT doc_id * 100 + r + 10000 AS doc_id, text
      |  FROM documents, range(10) t(r) WHERE doc_id < 3),
      |hd AS (SELECT doc_id, string_split(text, ' ') AS toks,
      |              len(string_split(text, ' ')) AS nt FROM corpus),
      |hsh AS (SELECT doc_id,
      |               unnest(list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
      |                                     for i in range(1, nt - 1)])) AS shingle
      |        FROM hd WHERE nt >= 3),
      |hx AS (SELECT doc_id,
      |              ('0x' || substr(md5(shingle), 1, 15))::BIGINT % 999999937 AS x
      |       FROM hsh),
      |hsig AS (SELECT doc_id, perm,
      |                min((x * (2 * perm + 1) + 7919 * (perm + 1)) % 999999937) AS h
      |         FROM hx CROSS JOIN (SELECT unnest(range(24)) AS perm) p
      |         GROUP BY 1, 2),
      |hbw AS (SELECT doc_id, perm // 3 AS b,
      |               max(CASE WHEN perm % 3 = 0 THEN h END) AS h0,
      |               max(CASE WHEN perm % 3 = 1 THEN h END) AS h1,
      |               max(CASE WHEN perm % 3 = 2 THEN h END) AS h2
      |        FROM hsig GROUP BY 1, 2),
      |hbands AS (SELECT doc_id,
      |                  md5(b::VARCHAR || '|' || h0::VARCHAR || '|' ||
      |                      h1::VARCHAR || '|' || h2::VARCHAR) AS band
      |           FROM hbw),
      |hcnt AS (SELECT band, count(*) AS bn FROM hbands GROUP BY 1)""".stripMargin

  private def simhashOracleBits: String =
    (0 until 32).map(j =>
      s"(CASE WHEN SUM((((h >> $j) & 1) * 2 - 1)) > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ")

  val oracles: Map[String, String] = Map(
    "containment_pairs" ->
      s"""WITH $ShinglesCte,
         |rows AS (SELECT DISTINCT doc_id, unnest(s) AS shingle FROM sh),
         |f AS (SELECT shingle, count(*) AS df FROM rows GROUP BY 1),
         |capped AS (SELECT doc_id, shingle FROM rows JOIN f USING (shingle) WHERE df <= 50),
         |n AS (SELECT doc_id, count(*) AS n_src FROM capped GROUP BY 1 HAVING count(*) >= 10),
         |i AS (SELECT a.doc_id AS src, b.doc_id AS dst, count(*)::BIGINT AS inter
         |      FROM capped a JOIN capped b USING (shingle)
         |      WHERE a.doc_id <> b.doc_id GROUP BY 1, 2)
         |SELECT src, dst, inter, n_src::BIGINT AS n_src
         |FROM i JOIN n ON n.doc_id = i.src
         |WHERE inter * 100 >= n_src * 80
         |ORDER BY src, dst""".stripMargin,

    "dup_shingle_fraction" ->
      s"""WITH $ShinglesCte,
         |rows AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
         |f AS (SELECT shingle, count(DISTINCT doc_id) AS df FROM rows GROUP BY 1)
         |SELECT rows.doc_id, count(*) AS n_shingles,
         |       SUM(CASE WHEN f.df > 1 THEN 1 ELSE 0 END)::BIGINT AS n_shared,
         |       SUM(CASE WHEN f.df > 1 THEN 1 ELSE 0 END)::DOUBLE / count(*) AS shared_frac
         |FROM rows JOIN f USING (shingle)
         |GROUP BY 1 ORDER BY doc_id""".stripMargin,

    // positional shingles → cross-doc df ≥ 2 → islands-and-gaps runs
    "max_dup_span" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, i AS start, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        |       FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
        |             FROM toks WHERE len(t) >= 3)),
        |dup AS (SELECT shingle FROM (
        |          SELECT shingle, count(DISTINCT doc_id) AS df FROM sh GROUP BY 1)
        |        WHERE df >= 2),
        |f AS (SELECT doc_id, start FROM sh JOIN dup USING (shingle)),
        |g AS (SELECT doc_id, start,
        |             start - row_number() OVER (PARTITION BY doc_id ORDER BY start) AS grp
        |      FROM f),
        |r AS (SELECT doc_id, count(*) AS run FROM g GROUP BY doc_id, grp),
        |m AS (SELECT doc_id, max(run) + 2 AS max_dup_tokens,
        |             SUM(run) AS n_dup_positions FROM r GROUP BY doc_id)
        |SELECT d.doc_id,
        |       coalesce(m.max_dup_tokens, 0)::BIGINT AS max_dup_tokens,
        |       coalesce(m.n_dup_positions, 0)::BIGINT AS n_dup_positions
        |FROM documents d LEFT JOIN m USING (doc_id) ORDER BY doc_id""".stripMargin,

    // dup shingles → islands → runs ≥ 4 shingles (6 tokens) → covered
    // positions → anti-join survivors → ordered reassembly
    "strip_dup_spans" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, i AS start, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        |       FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
        |             FROM toks WHERE len(t) >= 3)),
        |dup AS (SELECT shingle FROM (
        |          SELECT shingle, count(DISTINCT doc_id) AS df FROM sh GROUP BY 1)
        |        WHERE df >= 2),
        |f AS (SELECT doc_id, start FROM sh JOIN dup USING (shingle)),
        |g AS (SELECT doc_id, start,
        |             start - row_number() OVER (PARTITION BY doc_id ORDER BY start) AS grp
        |      FROM f),
        |q AS (SELECT doc_id, grp FROM (
        |        SELECT doc_id, grp, count(*) AS run FROM g GROUP BY doc_id, grp)
        |      WHERE run + 2 >= 6),
        |cov AS (SELECT DISTINCT g.doc_id, start + d AS pos
        |        FROM g JOIN q USING (doc_id, grp), unnest([0, 1, 2]) AS u(d)),
        |tk AS (SELECT doc_id, generate_subscripts(t, 1) AS pos, unnest(t) AS tok
        |       FROM toks),
        |kept AS (SELECT tk.* FROM tk ANTI JOIN cov USING (doc_id, pos)),
        |reb AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
        |               count(*) AS n_kept
        |        FROM kept GROUP BY doc_id)
        |SELECT d.doc_id,
        |       coalesce(reb.clean_text, '') AS clean_text,
        |       coalesce(reb.n_kept, 0)::BIGINT AS n_kept,
        |       (len(string_split(d.text, ' ')) - coalesce(reb.n_kept, 0))::BIGINT AS n_removed
        |FROM documents d LEFT JOIN reb USING (doc_id) ORDER BY doc_id""".stripMargin,

    // md5 per-mille split (the corpus_split rule) → test-split shingles
    // as the reference set → islands-and-gaps per train doc
    "contamination_span" ->
      """WITH sp AS (SELECT doc_id,
        |              CASE WHEN h * 1000 < 65536 * 900 THEN 'train'
        |                   WHEN h * 1000 < 65536 * 950 THEN 'val'
        |                   ELSE 'test' END AS split
        |            FROM (SELECT doc_id,
        |                    ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT AS h
        |                  FROM documents)),
        |toks AS (SELECT d.doc_id, split, string_split(text, ' ') AS t
        |         FROM documents d JOIN sp USING (doc_id)),
        |sh AS (SELECT doc_id, split, i AS start, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        |       FROM (SELECT doc_id, split, t, unnest(range(1, len(t) - 1)) AS i
        |             FROM toks WHERE len(t) >= 3)),
        |ref AS (SELECT DISTINCT shingle FROM sh WHERE split = 'test'),
        |f AS (SELECT doc_id, start FROM sh JOIN ref USING (shingle)
        |      WHERE split = 'train'),
        |g AS (SELECT doc_id, start,
        |             start - row_number() OVER (PARTITION BY doc_id ORDER BY start) AS grp
        |      FROM f),
        |r AS (SELECT doc_id, count(*) AS run FROM g GROUP BY doc_id, grp),
        |m AS (SELECT doc_id, max(run) + 2 AS max_contam_tokens,
        |             SUM(run) AS n_contam_positions FROM r GROUP BY doc_id)
        |SELECT d.doc_id,
        |       coalesce(m.max_contam_tokens, 0)::BIGINT AS max_contam_tokens,
        |       coalesce(m.n_contam_positions, 0)::BIGINT AS n_contam_positions
        |FROM (SELECT doc_id FROM sp WHERE split = 'train') d
        |LEFT JOIN m USING (doc_id) ORDER BY doc_id""".stripMargin,

    "dedup_exact" ->
      """SELECT md5(text) AS text_md5, min(doc_id) AS keeper_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY keeper_id""".stripMargin,

    // typo pairs → recursive min-label components (string labels — the
    // partition is what must match, labels never reach the output) →
    // most-frequent member per cluster
    "name_canonical_map" ->
      """WITH RECURSIVE nm AS (SELECT p_name AS v, count(*) AS n_rows
        |           FROM part WHERE p_name IS NOT NULL GROUP BY 1),
        |d AS (SELECT v, unnest(range(0, length(v) + 1)) AS i FROM nm),
        |vr AS (SELECT DISTINCT v, substr(v, 1, i) || substr(v, i + 2) AS var FROM d),
        |pr AS (SELECT DISTINCT a.v AS va, b.v AS vb
        |       FROM vr a JOIN vr b ON a.var = b.var AND a.v < b.v
        |       WHERE levenshtein(a.v, b.v) <= 1),
        |ed AS (SELECT va AS src, vb AS dst FROM pr
        |       UNION SELECT vb, va FROM pr),
        |nn AS (SELECT DISTINCT src AS node FROM ed),
        |reach(node, lbl) AS (
        |  SELECT node, node FROM nn
        |  UNION
        |  SELECT ed.dst, r.lbl FROM reach r JOIN ed ON ed.src = r.node),
        |cl AS (SELECT node, min(lbl) AS cluster FROM reach GROUP BY node),
        |lab AS (SELECT nm.v, nm.n_rows, coalesce(cl.cluster, nm.v) AS cluster
        |        FROM nm LEFT JOIN cl ON cl.node = nm.v),
        |can AS (SELECT cluster, v AS canonical_v FROM (
        |  SELECT cluster, v,
        |         row_number() OVER (PARTITION BY cluster ORDER BY n_rows DESC, v) AS rk
        |  FROM lab) WHERE rk = 1)
        |SELECT lab.v, can.canonical_v, lab.n_rows::BIGINT AS n_rows
        |FROM lab JOIN can USING (cluster)
        |ORDER BY v""".stripMargin,

    // FastSS d=1: variant dictionary = {s} ∪ single deletions (i = len
    // deletes nothing → s itself); candidates share a variant, verify
    // by levenshtein
    "name_typo_pairs" ->
      """WITH n AS (SELECT DISTINCT p_name AS v FROM part WHERE p_name IS NOT NULL),
        |d AS (SELECT v, unnest(range(0, length(v) + 1)) AS i FROM n),
        |vr AS (SELECT DISTINCT v, substr(v, 1, i) || substr(v, i + 2) AS var FROM d),
        |cand AS (SELECT DISTINCT a.v AS name_a, b.v AS name_b
        |         FROM vr a JOIN vr b ON a.var = b.var AND a.v < b.v)
        |SELECT name_a, name_b, levenshtein(name_a, name_b)::BIGINT AS dist
        |FROM cand WHERE levenshtein(name_a, name_b) <= 1
        |ORDER BY name_a, name_b""".stripMargin,

    // the bloom is engine-internal pruning; the answer is a plain exact
    // NOT EXISTS — any false-positive leak into the output hash-mismatches
    "dedup_bloom_increment" ->
      """WITH inc AS (
        |  SELECT doc_id + 1000000 AS doc_id, text
        |  FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000 AS doc_id, text || ' r9novel' AS text
        |  FROM documents WHERE doc_id % 10 = 5)
        |SELECT i.doc_id,
        |       NOT EXISTS (SELECT 1 FROM documents s WHERE s.text = i.text) AS is_novel
        |FROM inc i
        |ORDER BY doc_id""".stripMargin,

    "novel_docs_stored" ->
      """WITH inc AS (
        |  SELECT doc_id + 1000000 AS doc_id, text
        |  FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000 AS doc_id, text || ' r11novel' AS text
        |  FROM documents WHERE doc_id % 10 = 5)
        |SELECT i.doc_id,
        |       NOT EXISTS (SELECT 1 FROM documents s WHERE s.text = i.text) AS is_novel
        |FROM inc i
        |ORDER BY doc_id""".stripMargin,

    // brute-force all-pairs levenshtein — deliberately NOT the deletion
    // blocking, so a recall hole in the d=2 neighborhood hash-mismatches
    "name_typo_pairs_d2" ->
      """WITH n AS (SELECT DISTINCT p_name AS v FROM part WHERE p_name IS NOT NULL)
        |SELECT a.v AS name_a, b.v AS name_b,
        |       levenshtein(a.v, b.v)::BIGINT AS dist
        |FROM n a JOIN n b ON a.v < b.v
        |WHERE levenshtein(a.v, b.v) <= 2
        |ORDER BY name_a, name_b""".stripMargin,

    "dedup_minhash" ->
      s"""WITH $ShinglesCte,
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |             len(list_intersect(a.s, b.s))::BIGINT AS inter,
         |             len(list_distinct(list_concat(a.s, b.s)))::BIGINT AS uni
         |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, inter, uni FROM p
         |WHERE inter * 2 > uni ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_simhash" ->
      s"""WITH tok AS (
         |  SELECT doc_id, ('0x' || substr(md5(t), 1, 8))::BIGINT AS h
         |  FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t
         |        FROM documents))
         |SELECT doc_id, ($simhashOracleBits)::BIGINT AS simhash
         |FROM tok GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "simhash_near_dup" ->
      s"""WITH tok AS (
         |  SELECT doc_id, ('0x' || substr(md5(t), 1, 8))::BIGINT AS h
         |  FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t
         |        FROM documents)),
         |sh AS (SELECT doc_id, ($simhashOracleBits)::BIGINT AS simhash
         |       FROM tok GROUP BY doc_id)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_clusters" ->
      s"""WITH RECURSIVE $ShinglesCte,
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |             len(list_intersect(a.s, b.s)) AS inter,
         |             len(list_distinct(list_concat(a.s, b.s))) AS uni
         |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
         |e AS (SELECT doc_a, doc_b FROM p WHERE inter * 2 > uni),
         |ed AS (SELECT doc_a AS src, doc_b AS dst FROM e
         |       UNION SELECT doc_b, doc_a FROM e),
         |n AS (SELECT DISTINCT src AS node FROM ed),
         |reach(node, lbl) AS (
         |  SELECT node, node FROM n
         |  UNION
         |  SELECT ed.dst, r.lbl FROM reach r JOIN ed ON ed.src = r.node)
         |SELECT node AS id, min(lbl) AS cluster_id
         |FROM reach GROUP BY node ORDER BY id""".stripMargin,

    // same recursive-CC core as dedup_clusters, then longest-wins keeper
    // (singletons = own cluster via the LEFT JOIN coalesce)
    "dedup_keep_best" ->
      s"""WITH RECURSIVE $ShinglesCte,
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |             len(list_intersect(a.s, b.s)) AS inter,
         |             len(list_distinct(list_concat(a.s, b.s))) AS uni
         |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
         |e AS (SELECT doc_a, doc_b FROM p WHERE inter * 2 > uni),
         |ed AS (SELECT doc_a AS src, doc_b AS dst FROM e
         |       UNION SELECT doc_b, doc_a FROM e),
         |n AS (SELECT DISTINCT src AS node FROM ed),
         |reach(node, lbl) AS (
         |  SELECT node, node FROM n
         |  UNION
         |  SELECT ed.dst, r.lbl FROM reach r JOIN ed ON ed.src = r.node),
         |cl AS (SELECT node AS id, min(lbl) AS cluster_id FROM reach GROUP BY node),
         |dk AS (SELECT doc_id, coalesce(cl.cluster_id, doc_id) AS cluster_id, n_chars
         |       FROM documents LEFT JOIN cl ON cl.id = doc_id)
         |SELECT cluster_id, doc_id AS keeper_id, n_chars AS keeper_quality,
         |       n_members
         |FROM (SELECT *,
         |        row_number() OVER (PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id) AS rk,
         |        count(*) OVER (PARTITION BY cluster_id) AS n_members
         |      FROM dk)
         |WHERE rk = 1 ORDER BY cluster_id""".stripMargin,

    // exact-dedup survivors → keep-best CC over THEM → length gate →
    // md5 split; shingle CTEs re-derived over the survivor set
    "curate_corpus" ->
      """WITH RECURSIVE
        |ek AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
        |e AS (SELECT d2.* FROM documents d2 JOIN ek USING (doc_id)),
        |de AS (SELECT doc_id, string_split(text, ' ') AS toks,
        |              len(string_split(text, ' ')) AS nt FROM e),
        |she AS (SELECT doc_id,
        |               list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |                              for i in range(1, nt - 1)]) AS s
        |        FROM de),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |             len(list_intersect(a.s, b.s)) AS inter,
        |             len(list_distinct(list_concat(a.s, b.s))) AS uni
        |      FROM she a JOIN she b ON a.doc_id < b.doc_id),
        |ed AS (SELECT doc_a AS src, doc_b AS dst FROM p WHERE inter * 2 > uni
        |       UNION SELECT doc_b, doc_a FROM p WHERE inter * 2 > uni),
        |n AS (SELECT DISTINCT src AS node FROM ed),
        |reach(node, lbl) AS (
        |  SELECT node, node FROM n
        |  UNION
        |  SELECT ed.dst, r.lbl FROM reach r JOIN ed ON ed.src = r.node),
        |cl AS (SELECT node AS id, min(lbl) AS cluster_id FROM reach GROUP BY node),
        |dk AS (SELECT e.doc_id, coalesce(cl.cluster_id, e.doc_id) AS cluster_id, n_chars
        |       FROM e LEFT JOIN cl ON cl.id = e.doc_id),
        |keep AS (SELECT doc_id FROM (
        |  SELECT doc_id,
        |         row_number() OVER (PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id) AS rk
        |  FROM dk) WHERE rk = 1),
        |kept AS (SELECT e.* FROM e JOIN keep USING (doc_id) WHERE n_chars >= 100)
        |SELECT doc_id, lang, n_chars,
        |       CASE WHEN h * 1000 < 65536 * 900 THEN 'train'
        |            WHEN h * 1000 < 65536 * 950 THEN 'val'
        |            ELSE 'test' END AS split
        |FROM (SELECT *, ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT AS h FROM kept)
        |ORDER BY doc_id""".stripMargin,

    // min-doc-id first occurrence per shingle, then per-doc rollup
    "novelty_frac" ->
      s"""WITH $ShinglesCte,
         |rows AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
         |f AS (SELECT doc_id, shingle,
         |             min(doc_id) OVER (PARTITION BY shingle) AS first_doc FROM rows)
         |SELECT doc_id, count(*)::BIGINT AS n_shingles,
         |       SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)::BIGINT AS n_novel,
         |       SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)::DOUBLE / count(*) AS novel_frac
         |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "bit_aggregates" ->
      s"""WITH tok AS (
         |  SELECT doc_id, ('0x' || substr(md5(t), 1, 8))::BIGINT AS h
         |  FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t
         |        FROM documents)),
         |sh AS (SELECT doc_id, ($simhashOracleBits)::BIGINT AS simhash
         |       FROM tok GROUP BY doc_id)
         |SELECT lang, bit_or(simhash)::BIGINT AS bits_any,
         |       bit_and(simhash)::BIGINT AS bits_all,
         |       bit_xor(simhash)::BIGINT AS bits_parity,
         |       count(*) AS n_docs
         |FROM sh JOIN documents USING (doc_id)
         |GROUP BY lang ORDER BY lang""".stripMargin,

    "dedup_corpus_keep" ->
      s"""WITH RECURSIVE $ShinglesCte,
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |             len(list_intersect(a.s, b.s)) AS inter,
         |             len(list_distinct(list_concat(a.s, b.s))) AS uni
         |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
         |e AS (SELECT doc_a, doc_b FROM p WHERE inter * 2 > uni),
         |ed AS (SELECT doc_a AS src, doc_b AS dst FROM e
         |       UNION SELECT doc_b, doc_a FROM e),
         |nn AS (SELECT DISTINCT src AS node FROM ed),
         |reach(node, lbl) AS (
         |  SELECT node, node FROM nn
         |  UNION
         |  SELECT ed.dst, r.lbl FROM reach r JOIN ed ON ed.src = r.node),
         |lbls AS (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node)
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT node FROM lbls WHERE node != cluster_id)
         |ORDER BY doc_id""".stripMargin,

    "minhash_signature" ->
      s"""WITH $ShinglesCte,
         |r AS (SELECT doc_id, unnest(s) AS shingle FROM sh WHERE doc_id < 50),
         |x AS (SELECT doc_id,
         |             ('0x' || substr(md5(shingle), 1, 15))::BIGINT % 999999937 AS x
         |      FROM r),
         |perms AS (SELECT unnest(range(24)) AS perm)
         |SELECT doc_id, perm,
         |       min((x * (2 * perm + 1) + 7919 * (perm + 1)) % 999999937) AS h
         |FROM x CROSS JOIN perms
         |GROUP BY 1, 2 ORDER BY doc_id, perm""".stripMargin,

    "dedup_incremental" ->
      s"""WITH $ShinglesCte,
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |             len(list_intersect(a.s, b.s))::BIGINT AS inter,
         |             len(list_distinct(list_concat(a.s, b.s)))::BIGINT AS uni
         |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id AND b.doc_id >= 400)
         |SELECT doc_a, doc_b, inter, uni FROM p
         |WHERE inter * 2 > uni ORDER BY doc_a, doc_b""".stripMargin,

    // identical oracle semantics to dedup_incremental: every >1/2-Jaccard
    // pair whose later doc is in the batch — the stored-bucket probe must
    // reproduce the fused path's answer exactly
    "dedup_stored_increment" ->
      s"""WITH $ShinglesCte,
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |             len(list_intersect(a.s, b.s))::BIGINT AS inter,
         |             len(list_distinct(list_concat(a.s, b.s)))::BIGINT AS uni
         |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id AND b.doc_id >= 400)
         |SELECT doc_a, doc_b, inter, uni FROM p
         |WHERE inter * 2 > uni ORDER BY doc_a, doc_b""".stripMargin,

    // both the cold all-pairs path and the hot two-level chain (salt by
    // md5(id) % 64, consecutive-id edges, then the group-min rep chain)
    // reproduced verbatim — any drift in cap trigger, salt, or chain
    // order hash-mismatches
    "lsh_hot_band_chain" ->
      s"""WITH $HotBandCte,
         |cold AS (SELECT doc_id, band FROM hbands JOIN hcnt USING (band)
         |         WHERE bn <= 4),
         |coldp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |          FROM cold a JOIN cold b
         |            ON a.band = b.band AND a.doc_id < b.doc_id),
         |hot AS (SELECT doc_id, band,
         |               ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 64 AS salt
         |        FROM hbands JOIN hcnt USING (band) WHERE bn > 4),
         |w1 AS (SELECT doc_id,
         |              lead(doc_id) OVER (PARTITION BY band, salt ORDER BY doc_id) AS nxt
         |       FROM hot),
         |reps AS (SELECT band, min(doc_id) AS rep FROM hot GROUP BY band, salt),
         |w2 AS (SELECT rep,
         |              lead(rep) OVER (PARTITION BY band ORDER BY rep) AS nxt
         |       FROM reps)
         |SELECT DISTINCT doc_a, doc_b FROM (
         |  SELECT doc_a, doc_b FROM coldp
         |  UNION ALL SELECT doc_id AS doc_a, nxt AS doc_b FROM w1 WHERE nxt IS NOT NULL
         |  UNION ALL SELECT rep AS doc_a, nxt AS doc_b FROM w2 WHERE nxt IS NOT NULL)
         |ORDER BY doc_a, doc_b""".stripMargin,

    "hot_band_stats" ->
      s"""WITH $HotBandCte
         |SELECT count(*)::BIGINT AS n_bands,
         |       SUM(CASE WHEN bn > 4 THEN 1 ELSE 0 END)::BIGINT AS n_hot_bands,
         |       max(bn)::BIGINT AS max_band_size,
         |       SUM(CASE WHEN bn > 4 THEN bn * (bn - 1) // 2 - (bn - 1)
         |                ELSE 0 END)::BIGINT AS pairs_avoided
         |FROM hcnt""".stripMargin,

    "decontaminate" ->
      s"""WITH $ShinglesCte,
         |b AS (SELECT doc_id AS bench_id, unnest(s) AS shingle FROM sh WHERE doc_id < 20),
         |t AS (SELECT doc_id AS train_id, unnest(s) AS shingle FROM sh WHERE doc_id >= 20)
         |SELECT train_id, bench_id, count(DISTINCT shingle) AS n_shared
         |FROM t JOIN b USING (shingle)
         |GROUP BY 1, 2 HAVING count(DISTINCT shingle) >= 3
         |ORDER BY train_id, bench_id""".stripMargin,

    "boilerplate_strip" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks,
        |                  len(string_split(text, ' '))::INT AS n FROM documents),
        |s AS (SELECT doc_id, unnest([{'start': i,
        |         'shingle': toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]}
        |         for i in range(1, greatest(n - 1, 1))], recursive := true) FROM d),
        |f AS (SELECT shingle FROM (SELECT DISTINCT doc_id, shingle FROM s)
        |      GROUP BY shingle HAVING count(*) > 5),
        |cov AS (SELECT DISTINCT doc_id, unnest(range(start, start + 3)) AS pos
        |        FROM s WHERE shingle IN (SELECT shingle FROM f)),
        |t AS (SELECT doc_id, generate_subscripts(toks, 1) AS pos, unnest(toks) AS tok FROM d),
        |kept AS (SELECT t.doc_id, t.pos, t.tok FROM t
        |         LEFT JOIN cov ON cov.doc_id = t.doc_id AND cov.pos = t.pos
        |         WHERE cov.pos IS NULL),
        |res AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
        |               count(*)::BIGINT AS n_kept FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(res.clean_text, '') AS clean_text,
        |       coalesce(res.n_kept, 0)::BIGINT AS n_kept,
        |       (d.n - coalesce(res.n_kept, 0))::BIGINT AS n_removed
        |FROM d LEFT JOIN res ON res.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // the all-pairs ground truth — the Spark side reaches the same set
    // through prefix-filter candidates only
    "dedup_jaccard_prefix" ->
      s"""WITH $ShinglesCte,
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |             len(list_intersect(a.s, b.s))::BIGINT AS inter,
         |             (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))::BIGINT AS uni
         |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, inter, uni FROM p
         |WHERE inter * 10 > uni * 3 ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_ngram_jaccard" ->
      s"""WITH $ShinglesCte,
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang,
         |             len(list_intersect(a.s, b.s))::BIGINT AS inter,
         |             len(list_distinct(list_concat(a.s, b.s)))::BIGINT AS uni
         |      FROM sh a JOIN sh b
         |        ON a.lang = b.lang AND a.doc_id < b.doc_id
         |       AND abs(a.n_chars - b.n_chars) <= 32)
         |SELECT doc_a, doc_b, lang, inter, uni FROM p
         |WHERE inter * 10 > uni * 3 ORDER BY doc_a, doc_b""".stripMargin)
}
