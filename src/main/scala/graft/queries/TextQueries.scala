package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.TextOps
import graft.queries.QueryHarness.tempDir

/** Text-analysis surface over `documents`: quality metrics, global token
  * stats, heuristic language ID, char-n-gram fingerprints, and the binary
  * (multimodal) column plumbing. Ratios are int/int double divisions —
  * bit-identical across engines, safe to compare exactly.
  */
object TextQueries {

  /** 60-bit value from the first 15 hex chars of md5(seed) — the same
    * device DuckDB expresses as `('0x' || substr(md5(seed), 1, 15))::BIGINT`
    * (15 nibbles keep the sign bit clear in both engines), used to give
    * near-dup fixtures DIVERSE deterministic hashes.
    */
  private def md5Bits60(seed: String): Long =
    java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(seed.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 15), 16)

  /** Shared one-shot DLT oracle (k = 25) for the stored and streamed
    * sample-store queries — one definition so the two cannot drift.
    */
  private val SampleK25Oracle: String =
    """WITH s AS (SELECT doc_id, n_chars AS w,
      |                  (('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT + 1) AS u
      |           FROM documents),
      |p AS (SELECT doc_id, w, (w * 65536)::DOUBLE / u::DOUBLE AS priority,
      |             row_number() OVER (ORDER BY (w * 65536)::DOUBLE / u::DOUBLE DESC, doc_id) AS rk
      |      FROM s),
      |t AS (SELECT coalesce(min(CASE WHEN rk = 26 THEN priority END), 0.0) AS tau
      |      FROM p WHERE rk <= 26)
      |SELECT doc_id, w, priority, greatest(w::DOUBLE, tau) AS est_w, rk::BIGINT AS rk
      |FROM p CROSS JOIN t WHERE rk <= 25
      |ORDER BY rk""".stripMargin

  /** One unrolled BPE round for the `bpe_train_merges`/`bpe_encode`
    * oracles: count adjacent symbol pairs of round i−1's canonical
    * corpus, pick the (count desc, left, right) argmax, apply it as the
    * same delimiter-wrapped literal replace [[TextOps.bpeTrain]] uses
    * (chr(1) = [[TextOps.BpeDelim]]; see its scaladoc for why the
    * doubled-delimiter form makes string replace exactly greedy
    * non-overlapping merge).
    */
  private def bpeOracleRound(i: Int): String = {
    val p = s"c${i - 1}"
    s"""p$i AS (
       |  SELECT pr[1] AS l, pr[2] AS r, count(*) AS cnt
       |  FROM (SELECT unnest([[s[k], s[k+1]] for k in range(1, len(s))]) AS pr
       |        FROM (SELECT string_split(substring(c, 2, length(c)-2), chr(1)||chr(1)) AS s FROM $p))
       |  GROUP BY 1, 2),
       |m$i AS (SELECT l, r, cnt FROM p$i ORDER BY cnt DESC, l, r LIMIT 1),
       |c$i AS (SELECT doc_id, replace(c, chr(1)||l||chr(1)||chr(1)||r||chr(1),
       |                                chr(1)||l||' '||r||chr(1)) AS c
       |        FROM $p CROSS JOIN m$i)""".stripMargin
  }

  private val BpeRounds = 4

  /** The planted-PII fixture on the SPARK side — one Scala copy, shared
    * by the `pii_redact` query and the streaming-curate staged input;
    * [[PiiOracle.plantedCte]] is its SQL twin.
    */
  private[queries] def plantPii(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select($"doc_id",
      concat($"text", lit(" contact u"), $"doc_id",
        lit("@mail.example.com from 10."), $"doc_id" % 250, lit(".0."),
        $"doc_id" % 100, lit(" call 555-"), $"doc_id" % 9000 + 1000).as("text"))
  }

  private val bpeCanonCte =
    "c0 AS (SELECT doc_id, chr(1) || replace(text, ' ', chr(1)||chr(1)) || chr(1) AS c FROM documents)"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bpe_train_merges" -> { (spark, dir) =>
      // The BPE vocabulary-induction LOOP (trainer composition over the
      // bpe_pair_counts statistic, the text twin of kmeans_train): 4
      // rounds of global pair count (partial+final agg) → deterministic
      // argmax (TakeOrdered) → one narrow literal-replace pass, each
      // round cut through ops/Loop. The oracle is the exact 4-step unroll.
      import spark.implicits._
      TextOps.bpeTrain(Tables.documents(spark, dir), nMerges = BpeRounds)
        .merges.orderBy("merge_rank")
    },

    "bpe_encode" -> { (spark, dir) =>
      // Train THEN apply: the corpus segmented by the 4 learned merges
      // — per-doc token/symbol counts and the |-joined symbol sequence.
      // Gates the composition end-to-end (the kmeans_assign pattern).
      import spark.implicits._
      val res = TextOps.bpeTrain(Tables.documents(spark, dir), nMerges = BpeRounds)
      TextOps.bpeSegments(res.encoded).orderBy("doc_id")
    },

    "bpe_vocab" -> { (spark, dir) =>
      // The trained tokenizer's VOCABULARY: every post-merge symbol
      // with occurrence count and document frequency — the artifact a
      // tokenizer ships. Train → vocab, one explode + one partial-agg
      // groupBy over the canonical corpus.
      import spark.implicits._
      val res = TextOps.bpeTrain(Tables.documents(spark, dir), nMerges = BpeRounds)
      TextOps.bpeVocab(res.encoded)
        .orderBy($"n_occurrences".desc, $"symbol")
        .limit(50)
    },

    "bpe_train_batched" -> { (spark, dir) =>
      // The BATCHED trainer (the 30k-vocab scale path): 2 rounds × 2
      // symbol-disjoint merges per round, all selected from each
      // round's ONE count snapshot and applied in one commuting
      // replace pass. The oracle unrolls both rounds with the same
      // rank-then-first-disjoint selection.
      import spark.implicits._
      TextOps.bpeTrainBatched(Tables.documents(spark, dir),
          nRounds = 2, batchSize = 2)
        .merges.orderBy("round", "slot")
    },

    "top_ngrams_per_lang" -> { (spark, dir) =>
      // Per-language top-5 trigrams by document frequency — corpus
      // profiling for pipeline QA (boilerplate/template detection).
      // shingleRows is map-side; doc frequency is one hash aggregate
      // (countDistinct tolerates its duplicates); the top-k is
      // rank-pushdown-friendly row_number (WindowGroupLimit).
      import spark.implicits._
      val docs = Tables.documents(spark, dir)
        .repartition(spark.sparkContext.defaultParallelism)
      val df = graft.ops.Dedup.shingleRows(docs)
        .join(docs.select($"doc_id", $"lang"), "doc_id")
        .groupBy($"lang", $"shingle")
        .agg(countDistinct($"doc_id").as("doc_freq"))
      val w = Window.partitionBy($"lang").orderBy($"doc_freq".desc, $"shingle")
      df.withColumn("rk", row_number().over(w))
        .filter($"rk" <= 5)
        .select($"lang", $"rk".cast("long").as("rk"), $"shingle", $"doc_freq")
        .orderBy("lang", "rk")
    },

    "text_quality" -> { (spark, dir) =>
      import spark.implicits._
      TextOps.qualityMetrics(Tables.documents(spark, dir))
        .select($"doc_id", $"n_chars".cast("long").as("n_chars"),
          $"n_tokens".cast("long").as("n_tokens"),
          $"n_distinct".cast("long").as("n_distinct"),
          $"n_stopwords".cast("long").as("n_stopwords"),
          $"n_punct".cast("long").as("n_punct"),
          $"distinct_ratio", $"stopword_ratio", $"keep")
        .orderBy("doc_id")
    },

    "jsonl_roundtrip" -> { (spark, dir) =>
      // JSONL corpus interchange (the format LLM corpora arrive and
      // ship in): export documents as JSONL, re-ingest with the IMPOSED
      // schema (never inference — that is a full extra corpus pass at
      // 100 TB), aggregate off the ROUND-TRIPPED rows. The oracle
      // computes the same aggregates over the original parquet, so any
      // loss in the trip — escaping, unicode, nulls, dropped rows —
      // breaks the md5 text digests or the counts. Digest mod a prime
      // keeps the per-lang sum inside int64 at any corpus size.
      import spark.implicits._
      val base = java.nio.file.Files.createTempDirectory("graft-jsonl")
      // try/finally around the WHOLE trip: bench re-invokes this
      // closure per pass, and a mid-pass failure (export, ingest, or
      // collect) would otherwise leak two corpus-sized temp copies per
      // attempt — the exact disk-fill the deletion exists to prevent
      try {
        val docs = Tables.documents(spark, dir)
        graft.jobs.Ingest.exportJsonl(docs, s"$base/jsonl")
        graft.jobs.Ingest.runJsonl(spark, s"$base/jsonl", s"$base/parquet",
          docs.schema)
        val agg = spark.read.parquet(s"$base/parquet")
          .groupBy($"lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(length($"text")).as("sum_chars"),
            sum(conv(substring(md5($"text"), 1, 15), 16, 10).cast("long")
              % 999999937L).as("sum_digest"),
            sum($"doc_id").as("sum_ids"))
          .orderBy("lang")
        // the result is |langs| rows: materialize it so the temp
        // copies are safe to delete before returning
        val rows = agg.collect()
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), agg.schema)
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(base.toFile): Unit
      }
    },

    "vocab_growth" -> { (spark, dir) =>
      // Heaps-law vocabulary growth curve: distinct-token vocabulary
      // size and total token volume over geometric id-prefixes of the
      // corpus — the corpus-health curve that says whether more data is
      // still buying new vocabulary. Each token's FIRST document is one
      // partial-agg groupBy (vocab-sized output), so a prefix's vocab is
      // a conditional count over that small table against the broadcast
      // threshold list — the corpus is scanned ONCE however many
      // thresholds are asked for.
      import spark.implicits._
      val docs = Tables.documents(spark, dir)
      val toks = docs.select($"doc_id", explode(split($"text", " ")).as("token"))
      val firstSeen = toks.groupBy($"token").agg(min($"doc_id").as("first_doc"))
      val perDoc = docs.select($"doc_id", size(split($"text", " ")).cast("long").as("nt"))
      val total = docs.count()
      val ks = Seq(16L, 64L, 256L, 1024L, 4096L, 16384L, 65536L)
        .filter(_ <= total)
      val th = ks.toDF("k")
      val vocab = firstSeen.crossJoin(broadcast(th))
        .filter($"first_doc" < $"k")
        .groupBy($"k").agg(count(lit(1)).as("vocab_size"))
      val volume = perDoc.crossJoin(broadcast(th))
        .filter($"doc_id" < $"k")
        .groupBy($"k").agg(sum($"nt").as("n_tokens_total"))
      volume.join(vocab, Seq("k"))
        .select($"k".as("prefix_docs"), $"n_tokens_total", $"vocab_size")
        .orderBy("prefix_docs")
    },

    "vocab_oov" -> { (spark, dir) =>
      // Tokenizer prep: build the top-16 vocabulary by global occurrence
      // count (ties by token — deterministic), then score every document's
      // out-of-vocabulary fraction against it. The vocab is an aggregate
      // + global top-k (tiny, broadcast to the scoring join); the OOV
      // count is one partial-agg groupBy per doc.
      import spark.implicits._
      val toks = Tables.documents(spark, dir)
        .select($"doc_id", explode(split($"text", " ")).as("token"))
      val vocab = toks.groupBy($"token").agg(count(lit(1)).as("cnt"))
        .orderBy($"cnt".desc, $"token").limit(16)
        .select($"token", lit(1).as("__in"))
      toks.join(broadcast(vocab), Seq("token"), "left")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when($"__in".isNull, 1L).otherwise(0L)).as("n_oov"))
        .withColumn("oov_frac", $"n_oov".cast("double") / $"n_tokens")
        .orderBy("doc_id")
    },

    "gopher_rules" -> { (spark, dir) =>
      // Gopher-style quality filter (Rae et al. 2021): per-rule boolean
      // audit columns + the conjunction keep flag, every threshold an
      // integer cross-multiplication. Zero shuffle — per-row projection.
      import spark.implicits._
      TextOps.gopherRules(Tables.documents(spark, dir)).orderBy("doc_id")
    },

    "pii_redact" -> { (spark, dir) =>
      // PII scrubbing under a FULL hash-match oracle: the corpus is
      // synthetic word salad with no real PII, so the fixture PLANTS a
      // deterministic email + IPv4 + phone derived from doc_id into each
      // text IN-ENGINE (both engines compute the identical input — the
      // text analogue of the square-wave audio fixture), then counts and
      // redacts with patterns from the Java-regex ∩ RE2 common subset.
      import spark.implicits._
      TextOps.redactPii(TextQueries.plantPii(Tables.documents(spark, dir)))
        .orderBy("doc_id")
    },

    "repetition_stats" -> { (spark, dir) =>
      // Gopher-style within-document repetition (duplicate word-3-gram
      // fraction) — all positional Catalyst expressions, zero shuffle.
      import spark.implicits._
      TextOps.repetitionStats(Tables.documents(spark, dir))
        .orderBy("doc_id")
    },

    "pack_sequences" -> { (spark, dir) =>
      // Sequence packing — the pretraining data layout: documents
      // concatenate per source shard in doc_id order and each doc's bin
      // is the 4096-token window its first token lands in (sequential
      // fill, no doc splitting). ONE exchange: the running sum windows
      // by source, and shards pack independently — at 100 TB every
      // shard is its own parallel packing problem, no global state.
      // Hot-shard boundary (ScaleSpec): a single 10^6-doc shard
      // serializes into one window task and completes in ~0.7 s; a
      // shard that outgrows a task falls back to two-phase packing
      // (per-bucket offsets + a tiny prefix-sum merge of bucket
      // totals — same output, one extra narrow pass).
      import spark.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"source").orderBy($"doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      Tables.documents(spark, dir)
        .select($"doc_id", $"source",
          size(split($"text", " ")).cast("long").as("n_tokens"))
        .withColumn("cum", sum($"n_tokens").over(w))
        .select($"doc_id", $"source", $"n_tokens",
          (($"cum" - $"n_tokens") / 4096).cast("long").as("bin_no"),
          ($"cum" - $"n_tokens").as("offset_tokens"))
        .orderBy("source", "doc_id")
    },

    "audio_features" -> { (spark, dir) =>
      // The REAL javax.sound decode path under a FULL hash-match
      // oracle — the audio analogue of image_features' solid-color
      // trick: each document becomes a square-wave PCM WAV whose
      // half-period and amplitude are closed-form in doc_id, so after
      // encode → decode → feature extraction every output column is
      // computable in plain SQL with engine-independent integer/IEEE
      // scalar math (every sample is ±trunc(amp·32767): rms is exactly
      // A/32768, crossings exactly floor((n−1)/halfPeriod) — no
      // transcendental anywhere, unlike a sine tone whose RMS is only
      // approximately amp/√2 after quantization). A decode regression
      // (endianness flip, channel-stride bug, scale error) breaks the
      // hash. Pure per-row work on both sides of the decode — no
      // shuffle.
      import spark.implicits._
      val docs = Tables.documents(spark, dir).select($"doc_id").as[Long]
      val media = docs.map { id =>
        val halfPeriod = 10 + (id % 30).toInt
        val amp = 0.05 + (id % 80) / 100.0
        val bytes = graft.ops.Multimodal.synthSquareWav(halfPeriod, amp, nSamples = 800)
        graft.ops.Multimodal.MediaRow(id, bytes,
          graft.ops.Multimodal.MediaMeta("audio/wav", bytes.length.toLong, "synth"))
      }
      graft.ops.Multimodal.decodeAudio(media).toDF()
        .select($"media_id", $"sample_rate".cast("long").as("sample_rate"),
          $"channels".cast("long").as("channels"), $"n_samples",
          $"duration_ms", $"rms", $"zero_crossings")
        .orderBy("media_id")
    },

    "image_features" -> { (spark, dir) =>
      // The REAL javax.imageio decode path under a FULL hash-match
      // oracle: each document becomes a solid-color PNG whose
      // dimensions and channel values are closed-form in doc_id, so
      // after encode → decode → pixel statistics, every output column
      // (dims, exact channel means, the single occupied luminance bin
      // and its pixel count) is computable in plain SQL. Lossless PNG +
      // TYPE_INT_RGB guarantees the decoded pixels equal the formula.
      import spark.implicits._
      val docs = Tables.documents(spark, dir).select($"doc_id").as[Long]
      val media = docs.map { id =>
        val w = 4 + (id % 8).toInt; val h = 3 + (id % 5).toInt
        val rgb = (((id * 7) % 256) << 16 | ((id * 13) % 256) << 8 | ((id * 29) % 256)).toInt
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) { var x = 0; while (x < w) { img.setRGB(x, y, rgb); x += 1 }; y += 1 }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        val bytes = bos.toByteArray
        graft.ops.Multimodal.MediaRow(id, bytes,
          graft.ops.Multimodal.MediaMeta("image/png", bytes.length.toLong, "synth"))
      }
      graft.ops.Multimodal.decode(media).toDF()
        .select($"media_id", $"width".cast("long").as("width"),
          $"height".cast("long").as("height"),
          $"mean_r", $"mean_g", $"mean_b",
          posexplode($"luma_hist").as(Seq("luma_bin", "n_px")))
        .filter($"n_px" > 0)
        .select($"media_id", $"width", $"height", $"mean_r", $"mean_g", $"mean_b",
          $"luma_bin".cast("long").as("luma_bin"), $"n_px")
        .orderBy("media_id")
    },

    "audio_fingerprint" -> { (spark, dir) =>
      // Audio energy-envelope fingerprint under a FULL hash-match
      // oracle: each doc becomes a burst WAV — the first k = 1+doc_id%7
      // of 8 hundred-sample windows carry constant integer amplitude
      // a = 3277 + (doc_id%100)·29, the rest silence. Active windows
      // are above the track mean, silent ones below, so
      // ahash = 2^k − 1 and abs_sum = a·100·k, both closed-form.
      import spark.implicits._
      val docs = Tables.documents(spark, dir).select($"doc_id").as[Long]
      val media = docs.map { id =>
        val k = 1 + (id % 7).toInt
        val a = 3277 + (id % 100).toInt * 29
        val bytes = graft.ops.Multimodal.synthBurstWav(k, 8, 100, a)
        graft.ops.Multimodal.MediaRow(id, bytes,
          graft.ops.Multimodal.MediaMeta("audio/wav", bytes.length.toLong, "synth"))
      }
      graft.ops.Multimodal.audioHash(media).toDF()
        .filter($"decoded")
        .select($"media_id", $"ahash", $"abs_sum")
        .orderBy("media_id")
    },

    "audio_near_dup" -> { (spark, dir) =>
      // Audio near-dup — the third fingerprint modality through the ONE
      // pigeonhole+popcount machinery (text simhash at 32 bits, image
      // aHash at 64, audio envelope at 64 here): real PCM decode of a
      // 64-window pattern WAV whose active windows are the bits of an
      // md5-derived 60-bit value, so hashes are DIVERSE (near-dup
      // output stays ~linear — the property that matters at scale) and
      // every even/odd doc pair is planted 2 bits apart (found at
      // maxDist 3 → 4 chunks of 16 bits). The envelope hash equals the
      // pattern exactly, so the pairing is exact SQL.
      import spark.implicits._
      val docs = Tables.documents(spark, dir).select($"doc_id").as[Long]
      val media = docs.map { id =>
        val h = md5Bits60((id / 2).toString) ^ (if (id % 2 == 1) 3L else 0L)
        val a = 3277 + (id % 100).toInt * 29
        val bytes = graft.ops.Multimodal.synthPatternWav(h, 64, 25, a)
        graft.ops.Multimodal.MediaRow(id, bytes,
          graft.ops.Multimodal.MediaMeta("audio/wav", bytes.length.toLong, "synth"))
      }
      val hashes = graft.ops.Multimodal.audioHash(media, windows = 64).toDF()
        .filter($"decoded").select($"media_id", $"ahash")
      graft.ops.Dedup.hammingNearDupOnHash(hashes, "media_id", "ahash",
          maxDist = 3, bits = 64)
        .select($"id_a".as("media_a"), $"id_b".as("media_b"),
          $"hamming".cast("long").as("hamming"))
        .orderBy("media_a", "media_b")
    },

    "image_ahash" -> { (spark, dir) =>
      // Perceptual average-hash under a FULL hash-match oracle: each doc
      // becomes an 8×8 two-tone PNG whose top k = 1 + doc_id % 7 rows
      // are white (luma 255) over black. The mean is 255·8k/64, so the
      // integer cross-multiply threshold sets EXACTLY the bright bits:
      // ahash = 2^(8k) − 1 (row-major LSB-first), luma_sum = 255·8k —
      // both closed-form in SQL. A regression anywhere in decode,
      // luma, thresholding, or bit packing breaks the hash.
      import spark.implicits._
      val docs = Tables.documents(spark, dir).select($"doc_id").as[Long]
      val media = docs.map { id =>
        val k = 1 + (id % 7).toInt
        val img = new java.awt.image.BufferedImage(8, 8,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < 8) {
          val rgb = if (y < k) 0xffffff else 0x000000
          var x = 0; while (x < 8) { img.setRGB(x, y, rgb); x += 1 }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        val bytes = bos.toByteArray
        graft.ops.Multimodal.MediaRow(id, bytes,
          graft.ops.Multimodal.MediaMeta("image/png", bytes.length.toLong, "synth"))
      }
      graft.ops.Multimodal.aHash(media).toDF()
        .filter($"decoded")
        .select($"media_id", $"ahash", $"luma_sum")
        .orderBy("media_id")
    },

    "image_near_dup" -> { (spark, dir) =>
      // Perceptual image near-dup — the image twin of simhash_near_dup,
      // composing the REAL aHash decode chain (PNG encode → decode →
      // luma → mean threshold) with the generic pigeonhole+popcount
      // machinery at 64 bits (maxDist 7 → 8 chunks of 8 bits). Pixel
      // (x, y) is white iff bit y·8+x of an md5-derived 60-bit value is
      // set, so aHash reproduces that value EXACTLY (white ≥ mean,
      // black < mean, both closed-form) while hashes stay DIVERSE —
      // near-dup output is ~linear, the property that matters at scale
      // — and every even/odd doc pair is planted 2 bits apart.
      import spark.implicits._
      val docs = Tables.documents(spark, dir).select($"doc_id").as[Long]
      val media = docs.map { id =>
        val h = md5Bits60((id / 2).toString) ^ (if (id % 2 == 1) 3L else 0L)
        val img = new java.awt.image.BufferedImage(8, 8,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        var i = 0
        while (i < 64) {
          img.setRGB(i % 8, i / 8, if (((h >> i) & 1L) == 1L) 0xffffff else 0x000000)
          i += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        val bytes = bos.toByteArray
        graft.ops.Multimodal.MediaRow(id, bytes,
          graft.ops.Multimodal.MediaMeta("image/png", bytes.length.toLong, "synth"))
      }
      val hashes = graft.ops.Multimodal.aHash(media).toDF()
        .filter($"decoded").select($"media_id", $"ahash")
      graft.ops.Dedup.hammingNearDupOnHash(hashes, "media_id", "ahash",
          maxDist = 7, bits = 64)
        .select($"id_a".as("media_a"), $"id_b".as("media_b"),
          $"hamming".cast("long").as("hamming"))
        .orderBy("media_a", "media_b")
    },

    "image_resize_check" -> { (spark, dir) =>
      // The REAL resize loop (decode → Graphics2D bilinear → PNG
      // re-encode → decode) under the oracle: bilinear scaling of a
      // solid color is exact, so after the full round trip every image
      // must measure 5×4 with channel means still equal to the
      // closed-form color. A resize regression (wrong dims, color
      // drift, broken re-encode) breaks the hash.
      import spark.implicits._
      val docs = Tables.documents(spark, dir).select($"doc_id").as[Long]
      val media = docs.map { id =>
        val w = 6 + (id % 9).toInt; val h = 5 + (id % 7).toInt
        val rgb = (((id * 11) % 256) << 16 | ((id * 17) % 256) << 8 | ((id * 23) % 256)).toInt
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) { var x = 0; while (x < w) { img.setRGB(x, y, rgb); x += 1 }; y += 1 }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        val bytes = bos.toByteArray
        graft.ops.Multimodal.MediaRow(id, bytes,
          graft.ops.Multimodal.MediaMeta("image/png", bytes.length.toLong, "synth"))
      }
      val resized = graft.ops.Multimodal.resize(media, targetW = 5, targetH = 4)
      graft.ops.Multimodal.decode(resized).toDF()
        .select($"media_id", $"width".cast("long").as("width"),
          $"height".cast("long").as("height"),
          $"mean_r", $"mean_g", $"mean_b")
        .orderBy("media_id")
    },

    "doc_chunks" -> { (spark, dir) =>
      // Sliding-window document chunking — the other half of the
      // pretraining layout problem (pack_sequences packs SHORT docs;
      // this splits LONG docs into fixed token windows with overlap so
      // no content is lost at window boundaries). W=32, stride 24
      // (8-token overlap); the last window is allowed to run short.
      // Pure per-row explode — zero shuffle before the final sort; at
      // 100 TB chunking is embarrassingly parallel.
      import spark.implicits._
      TextOps.chunkDocs(Tables.documents(spark, dir),
          windowTokens = 32, strideTokens = 24)
        .orderBy("doc_id", "chunk_no")
    },

    "domain_quota" -> { (spark, dir) =>
      // Per-domain frequency capping — crawl pipelines cap how many
      // documents any single domain contributes (a handful of hosts
      // otherwise dominate the corpus). Deterministic: keep the 10
      // lowest md5(doc_id) per source, so the kept sample is stable
      // across runs and engines. The rank<=k filter rides Spark's
      // WindowGroupLimit pushdown (per-partition top-k heaps BEFORE
      // the shuffle), the same scale shape as topk_per_group.
      import spark.implicits._
      TextOps.groupQuota(Tables.documents(spark, dir), k = 10)
        .select($"source", $"quota_rk".cast("long").as("rk"), $"doc_id")
        .orderBy("source", "rk")
    },

    "token_cooccurrence" -> { (spark, dir) =>
      // Document-level token co-occurrence counts — the PMI /
      // collocation-mining input: for every unordered pair of DISTINCT
      // tokens appearing in the same document, in how many documents do
      // they co-occur. The quadratic is per-document (bounded by doc
      // vocabulary, not corpus size) via a doc-confined self-join of
      // distinct (doc, token) rows with an alphabetical order guard;
      // the top 50 pairs ride TakeOrderedAndProject.
      import spark.implicits._
      val tok = Tables.documents(spark, dir)
        .select($"doc_id", explode(array_distinct(split($"text", " "))).as("tok"))
      val pairs = tok.join(tok.withColumnRenamed("tok", "tok_b"), "doc_id")
        .filter($"tok" < $"tok_b")
        .groupBy($"tok".as("tok_a"), $"tok_b")
        .agg(count(lit(1)).as("n_docs"))
      pairs.orderBy($"n_docs".desc, $"tok_a", $"tok_b").limit(50)
    },

    "importance_sample" -> { (spark, dir) =>
      // Quality-weighted deterministic downsample: keep probability
      // proportional to n_chars (rate = w/max_w by integer
      // cross-multiplied md5 threshold) — longer docs survive more
      // often, the sampling that preserves what's worth keeping.
      import spark.implicits._
      TextOps.importanceSample(Tables.documents(spark, dir))
        .orderBy("doc_id")
    },

    "corpus_split" -> { (spark, dir) =>
      // Deterministic 90/5/5 train/val/test assignment: a pure function
      // of the doc id, so membership survives re-runs and corpus growth.
      import spark.implicits._
      TextOps.corpusSplit(Tables.documents(spark, dir))
        .orderBy("doc_id")
    },

    "lm_score" -> { (spark, dir) =>
      // Corpus-fit quality score (the exact-arithmetic perplexity-filter
      // stand-in): average corpus frequency of each doc's char
      // trigrams — integer sum / integer count, no transcendental log.
      import spark.implicits._
      TextOps.lmScore(Tables.documents(spark, dir))
        .orderBy("doc_id")
    },

    "bpe_apply" -> { (spark, dir) =>
      // Tokenizer SERVING: merges learned on the train split (the
      // deterministic md5 corpus split), applied to the TEST split —
      // text the trainer never saw. The driver-side merge pull is the
      // model (4 (l, r) pairs); bpeApply's per-row loop must equal the
      // oracle's literal-replace unroll on the unseen docs.
      import spark.implicits._
      val docs = Tables.documents(spark, dir)
        .withColumn("split", TextOps.splitCol())
      val res = TextOps.bpeTrain(docs.filter($"split" === "train"), nMerges = 4)
      val merges = res.merges.orderBy("merge_rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.ops.Caches.releaseAll()
      TextOps.bpeApply(docs.filter($"split" === "test").drop("split"), merges)
        .orderBy("doc_id")
    },

    "fim_transform" -> { (spark, dir) =>
      // Deterministic fill-in-the-middle: 50% of docs re-serialized
      // PSM-style around two md5(doc_id)-derived token cuts. One array
      // concat + join per row — empty prefixes/suffixes introduce no
      // stray spaces, so the transformed text oracles byte-exactly.
      import spark.implicits._
      TextOps.fimTransform(Tables.documents(spark, dir))
        .orderBy("doc_id")
    },

    "epoch_mix" -> { (spark, dir) =>
      // Per-source data epochs: src0 passes 3x, src3/src7 2x, the rest
      // once — the high-quality-upsampling mixture primitive. A per-row
      // literal-map explode; replication is bounded by the shipped map.
      import spark.implicits._
      TextOps.epochMix(Tables.documents(spark, dir),
          Map("src0" -> 3, "src3" -> 2, "src7" -> 2))
        .orderBy("doc_id", "epoch")
    },

    "t5_spans" -> { (spark, dir) =>
      // Deterministic T5 span corruption: md5-selected 5% span starts ×
      // 3 tokens (≈ 15% corruption), overlapping-or-adjacent spans
      // merged per doc by the island device — two per-doc windows, no
      // interval self-join. Start selection, clamping, and the merge
      // all oracle exactly.
      import spark.implicits._
      TextOps.corruptionSpans(Tables.documents(spark, dir))
        .orderBy("doc_id", "span_start")
    },

    "mlm_mask" -> { (spark, dir) =>
      // Deterministic BERT MLM masking (80/10/10 mask/random/keep over
      // 15% of positions, all choices md5(doc_id#pos)-derived) — the
      // pretraining data-prep step that must never re-mask old docs
      // differently as the corpus grows. Every selected position, its
      // action, and its replacement token oracle exactly.
      import spark.implicits._
      TextOps.mlmMask(Tables.documents(spark, dir))
        .orderBy("doc_id", "pos")
    },

    "priority_sample" -> { (spark, dir) =>
      // Exact-k weighted sampling without replacement (DLT priority
      // sampling) with the unbiased subset-sum estimator: top-50
      // priorities w/U over md5 uniforms U ∈ (0,1], est_w = max(w, τ)
      // with τ in w-units (the (k+1)-th priority). The fixed
      // output size is what a training-budget subsample needs;
      // importance_sample is the Bernoulli (random-size) cousin.
      import spark.implicits._
      TextOps.prioritySample(Tables.documents(spark, dir), k = 50)
        .orderBy("rk")
    },

    "priority_sample_lang" -> { (spark, dir) =>
      // Per-group DLT priority sampling: exactly 20 weighted docs per
      // LANGUAGE with per-group τ estimators — the per-domain training
      // budget. The rank filter rides WindowGroupLimit, so the exchange
      // carries ~21·langs rows, never the corpus.
      import spark.implicits._
      TextOps.prioritySamplePerGroup(Tables.documents(spark, dir),
          k = 20, groupCol = "lang")
        .orderBy("lang", "rk")
    },

    "priority_sample_stored" -> { (spark, dir) =>
      // The DURABLE form of the exact-k weighted sample: three
      // per-batch top-(k+1) candidate folds persisted to a real
      // BuildSampleStore (the ORDER-STATISTIC member of the summary
      // family — idempotent like the HLL max-fold, so the middle slice
      // deliberately OVERLAPS the base), merged at read through the
      // loud (k, device) gate, re-ranked, τ derived from the merged
      // (k+1)-th. The oracle runs the one-shot DLT sampler over ALL
      // documents — equality IS the order-statistic fold law
      // cross-engine: est_w depends on τ, so a store that lost or
      // double-kept any candidate row mismatches.
      import spark.implicits._
      val base = tempDir("graft-sample-store-q")
      val docs = Tables.documents(spark, dir)
      def slice(cond: Column, p: String): String = {
        docs.filter(cond).select($"doc_id", $"n_chars")
          .write.mode("overwrite").parquet(p); p
      }
      val out = s"$base/store"
      // overlap the independent slice stagings and the disjoint-batch
      // appends (guide §2.6); run-before-append stays ordered
      graft.jobs.Overlap.all(
        () => slice($"doc_id" % 3 === 0, s"$base/s0"): Unit,
        () => slice($"doc_id" % 3 <= 1, s"$base/s1"): Unit,
        () => slice($"doc_id" % 3 === 2, s"$base/s2"): Unit)
      graft.jobs.BuildSampleStore.run(spark, s"$base/s0", out, k = 25)
      graft.jobs.Overlap.all(
        () => graft.jobs.BuildSampleStore.append(spark, s"$base/s1", out, "b"),
        () => graft.jobs.BuildSampleStore.append(spark, s"$base/s2", out, "c"))
      graft.jobs.BuildSampleStore.sample(spark, out).orderBy("rk")
    },

    "streaming_sample_ingest" -> { (spark, dir) =>
      // The stream → sample-store loop: docs arrive as files, stream
      // out as rank-free guarded (doc_id, w) cells (no k exists at
      // ingest — the family's one geometry hazard cannot arise on this
      // path), fold into a BuildSampleStore batch via the shared
      // top-(k+1) cut, and the stored sample must equal the one-shot
      // DLT sampler the oracle recomputes.
      import spark.implicits._
      val baseDir = tempDir("graft-sample-stream-q")
      val docs = Tables.documents(spark, dir)
      val in = s"$baseDir/in"
      docs.select($"doc_id", $"n_chars").repartition(4)
        .write.mode("overwrite").parquet(in)
      val out = s"$baseDir/store"
      val empty = s"$baseDir/empty"
      docs.limit(0).select($"doc_id", $"n_chars")
        .write.mode("overwrite").parquet(empty)
      graft.jobs.BuildSampleStore.run(spark, empty, out, k = 25)
      val streamed = s"$baseDir/streamed"; val ckpt = s"$baseDir/ckpt"
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_chars",
          org.apache.spark.sql.types.LongType)))
      graft.streaming.StreamingJob.runSampleIngest(spark, schema,
        in, streamed, ckpt)
      graft.jobs.BuildSampleStore.compactStreamed(spark, streamed, out)
      graft.jobs.BuildSampleStore.sample(spark, out).orderBy("rk")
    },

    "classifier_score" -> { (spark, dir) =>
      // Hashed linear classifier INFERENCE (the fastText/CCNet-style
      // quality-scoring stage): 1024 md5 buckets, a deterministic
      // md5-derived weight table (±2^23 micro-units, diverse signs —
      // stands in for any externally trained model), exact integer
      // logit per document, keep = logit ≥ 0. One explode → broadcast
      // weight join → per-doc partial-agg sum.
      import spark.implicits._
      val weights = spark.range(1024L).select($"id".as("bucket"),
        (conv(substring(md5($"id".cast("string")), 1, 6), 16, 10)
          .cast("long") - 8388608L).as("w_micros"))
      TextOps.hashedLinearScore(Tables.documents(spark, dir), weights)
        .orderBy("doc_id")
    },

    "classifier_train" -> { (spark, dir) =>
      // The classifier TRAINING loop (batch perceptron, the text twin
      // of kmeans_train): labels planted deterministically (+1 iff the
      // doc contains the token 'spark'), 2 exact-integer rounds over
      // the md5-bucketized bag-of-words, output = the nonzero learned
      // weights. The oracle unrolls both rounds in SQL — score,
      // misclassified set, per-bucket delta, weight fold — so the
      // whole distributed training loop hash-matches.
      import spark.implicits._
      val labeled = Tables.documents(spark, dir).select($"doc_id", $"text",
        when(array_contains(split($"text", " "), "spark"), 1)
          .otherwise(-1).as("y"))
      TextOps.perceptronTrain(labeled, rounds = 2).orderBy("bucket")
    },

    "mixture_downsample" -> { (spark, dir) =>
      // Rebalance the language-skewed corpus (en dominates ~3.4×) to a
      // uniform per-language mixture — the pretraining data-mixing
      // step: each language keeps rows at rate min_count/count via an
      // integer cross-multiplied md5 threshold — deterministic,
      // RNG-free, engine-portable. (Grouping by `source` would be a
      // no-op here: the synthetic sources are exactly uniform.)
      import spark.implicits._
      TextOps.mixtureDownsample(Tables.documents(spark, dir), groupCol = "lang")
        .orderBy("doc_id")
    },

    "corpus_shuffle" -> { (spark, dir) =>
      // Deterministic corpus shuffle + shard assignment — the training
      // data LAYOUT step: every epoch's global shuffle must be
      // reproducible (seeded) and engine-portable, so order comes from
      // md5(seed, doc_id), the shard from the hash's top 8 hex digits,
      // and the within-shard position from a per-shard window. At
      // 100 TB each shard's window runs independently (one shuffle,
      // 8-way parallel ranking) and the seed string gives per-epoch
      // re-shuffles with zero state.
      import spark.implicits._
      val h = md5(concat_ws("-", lit("ep0"), $"doc_id".cast("string")))
      val sharded = Tables.documents(spark, dir)
        .select($"doc_id", h.as("h"))
        .withColumn("shard", conv(substring($"h", 1, 8), 16, 10).cast("long") % 8)
      val w = Window.partitionBy($"shard").orderBy($"h", $"doc_id")
      sharded.withColumn("pos", row_number().over(w).cast("long"))
        .select($"doc_id", $"shard", $"pos")
        .orderBy("shard", "pos")
    },

    "bpe_pair_counts" -> { (spark, dir) =>
      // Adjacent-token-pair frequencies — the BPE merge-candidate
      // statistic (each vocab-induction round merges the most frequent
      // adjacent pair). Pairing is per-row positional zip (no shuffle);
      // the count is one partial+final hash aggregate; top-50 rides
      // TakeOrderedAndProject. CaseWhen guards the 1-token doc (a bare
      // sequence(0, size-2) would DESCEND for size < 2 and fabricate
      // pairs). The token array is materialized in its own projection
      // first — Catalyst does not CSE through lambda bodies, so an
      // inline split referenced per element re-splits the whole string
      // per pair (the O(n²) TextOps.bpePairs measured; 2.2 s → ~0.3 s
      // here); slice+zip_with avoids per-element indexing entirely.
      import spark.implicits._
      val n = size($"toks")
      val pairs = when(n >= 2,
        zip_with(slice($"toks", lit(1), n - 1), slice($"toks", lit(2), n - 1),
          (a, b) => concat_ws(" ", a, b)))
        .otherwise(array().cast("array<string>"))
      Tables.documents(spark, dir)
        .select(split($"text", " ").as("toks"))
        .select(explode(pairs).as("pair"))
        .groupBy($"pair").agg(count(lit(1)).as("n_occurrences"))
        .orderBy($"n_occurrences".desc, $"pair")
        .limit(50)
    },

    "length_histogram" -> { (spark, dir) =>
      // Corpus length profile in power-of-2 buckets — the standard
      // pre-training corpus health check (truncation waste vs padding
      // waste per bucket). The bucket is length(bin(n)) = floor(log2)+1
      // — pure INTEGER arithmetic in both engines, no transcendental
      // log2 to drift. Map-side combine collapses to ~11 rows.
      import spark.implicits._
      val nt = size(split($"text", " ")).cast("long")
      Tables.documents(spark, dir).select(nt.as("n_tokens"))
        .select(length(bin($"n_tokens")).cast("long").as("p2_bucket"), $"n_tokens")
        .groupBy($"p2_bucket")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("sum_tokens"))
        .orderBy("p2_bucket")
    },

    "token_counts" -> { (spark, dir) =>
      import spark.implicits._
      TextOps.tokenCounts(Tables.documents(spark, dir))
        .orderBy($"n_occurrences".desc, $"token")
        .limit(50)
    },

    "lang_id" -> { (spark, dir) =>
      import spark.implicits._
      TextOps.languageId(Tables.documents(spark, dir))
        .select($"doc_id", $"label", $"predicted",
          $"score_de".cast("long").as("score_de"),
          $"score_en".cast("long").as("score_en"),
          $"score_es".cast("long").as("score_es"),
          $"score_fr".cast("long").as("score_fr"),
          $"score_zh".cast("long").as("score_zh"))
        .orderBy("doc_id")
    },

    "lang_id_trained" -> { (spark, dir) =>
      import spark.implicits._
      TextOps.languageIdTrained(Tables.documents(spark, dir))
        .select($"doc_id", $"label", $"predicted", $"score")
        .orderBy("doc_id")
    },

    "lang_id_chargram" -> { (spark, dir) =>
      import spark.implicits._
      TextOps.languageIdChargram(Tables.documents(spark, dir))
        .select($"doc_id", $"label", $"predicted", $"score")
        .orderBy("doc_id")
    },

    "doc_fingerprint" -> { (spark, dir) =>
      import spark.implicits._
      TextOps.fingerprint(Tables.documents(spark, dir))
        .select($"doc_id", $"fp_min", $"fp_max", $"n_grams".cast("long").as("n_grams"))
        .orderBy("doc_id")
    },

    "winnow_fingerprint" -> { (spark, dir) =>
      import spark.implicits._
      TextOps.winnow(Tables.documents(spark, dir))
        .select($"doc_id", $"n_fingerprints", $"fp_min", $"fp_max")
        .orderBy("doc_id")
    },

    "binary_meta" -> { (spark, dir) =>
      // Multimodal plumbing: treat content as an opaque binary column with
      // typed metadata; here the binary is the utf-8 encoding of text and
      // the "decode" is a byte-level feature extraction (sizes + frame
      // count at 64-byte frames). Real media decode is stubbed at the
      // library layer (graft.ops.Multimodal) — the Spark-side schema,
      // partitioning and batch shape are what this query locks in.
      import spark.implicits._
      Tables.documents(spark, dir)
        .select($"doc_id", $"source",
          octet_length($"text").cast("long").as("n_bytes"),
          md5($"text").as("content_md5"),
          ceil(octet_length($"text") / lit(64.0)).cast("long").as("n_frames"))
        .orderBy("doc_id")
    },

    "explode_outer_tokens" -> { (spark, dir) =>
      // Generator null-preservation semantics: explode_outer keeps a
      // NULL row for documents whose filtered token array is empty —
      // the outer-generate variant a plain explode would silently drop.
      import spark.implicits._
      Tables.documents(spark, dir)
        .select($"doc_id",
          explode_outer(filter(split($"text", " "), t => length(t) > 8)).as("long_tok"))
        .orderBy($"doc_id", $"long_tok".asc_nulls_first)
    },

    "token_counts_bpe" -> { (spark, dir) =>
      // BPE-ish regex tokenization over a constructed mixed column (the
      // corpus alone is letters+spaces, so digits/punct are planted).
      import spark.implicits._
      val mixed = Tables.documents(spark, dir)
        .withColumn("text_mixed",
          concat($"text", lit(" v2.0, id=42; email bob@x.io!")))
      TextOps.tokenCountsRegex(mixed, textCol = "text_mixed")
        .select($"doc_id", $"n_tokens".cast("long").as("n_tokens"),
          $"n_distinct".cast("long").as("n_distinct"),
          $"n_word".cast("long").as("n_word"),
          $"n_number".cast("long").as("n_number"),
          $"n_punct".cast("long").as("n_punct"))
        .orderBy("doc_id")
    },

    "tfidf_components" -> { (spark, dir) =>
      // TF-IDF as exact integers (tf, df, N): the caller multiplies
      // tf·ln(N/df) — floats stay out of the operator and the oracle.
      import spark.implicits._
      TextOps.tfidf(Tables.documents(spark, dir).filter($"doc_id" < 20))
        .orderBy("doc_id", "token")
    },

    "collocations" -> { (spark, dir) =>
      // Collocation extraction: adjacent token pairs ranked by the
      // integer-exact PMI ratio c(ab)·N/(c(a)·c(b)) (log is monotone,
      // so this IS the PMI ranking), minCount 5 against hapax blowup.
      // Even the ORDERING is cross-engine exact — top 40.
      import spark.implicits._
      TextOps.collocations(Tables.documents(spark, dir))
        .orderBy($"pmi_ratio_micro".desc, $"token_a", $"token_b")
        .limit(40)
    },

    "doc_keywords" -> { (spark, dir) =>
      // Top-3 TF-IDF keywords per document with the fixed-point
      // integer idf (score = 10⁶·tf·N/df — ln is monotone in N/df, so
      // the ranking is classic TF-IDF while staying cross-engine
      // exact). df comes from the WHOLE corpus; the output restricts
      // to doc_id < 100 (Catalyst pushes the partition-key filter
      // below the window) so the artifact stays review-sized.
      import spark.implicits._
      TextOps.docKeywords(Tables.documents(spark, dir), k = 3)
        .filter($"doc_id" < 100)
        .orderBy($"doc_id", $"rk")
    },

    "text_normalize" -> { (spark, dir) =>
      // Normalization + PII scrub over a constructed dirty column (the
      // corpus itself is already clean, so PII is planted to exercise
      // the redaction): md5s keep the compare narrow.
      import spark.implicits._
      val dirty = Tables.documents(spark, dir)
        .withColumn("text_dirty",
          concat($"text", lit(" Contact: user"), $"doc_id",
            lit("@example.com id 123456789!")))
      TextOps.normalize(TextOps.scrubPii(dirty, "text_dirty"), "text_clean")
        .select($"doc_id", md5($"text_clean").as("scrubbed_md5"),
          md5($"text_norm").as("norm_md5"),
          length($"text_norm").cast("long").as("n_norm_chars"))
        .orderBy("doc_id")
    },

    "frame_sample" -> { (spark, dir) =>
      // Multimodal frame sampling: binary content sliced into 64-byte
      // frames, every 4th kept (Multimodal.sampleFrames), emitted as
      // (media_id, original frame index, frame md5). All inside
      // Catalyst — the slice is substr on the binary column, no UDF.
      import spark.implicits._
      val media = graft.ops.Multimodal.fromText(Tables.documents(spark, dir))
      graft.ops.Multimodal.sampleFrames(media)
        .select($"media_id", posexplode($"frames").as(Seq("pos", "frame")))
        .select($"media_id", ($"pos" * 4).cast("long").as("frame_idx"),
          md5($"frame").as("frame_md5"))
        .orderBy("media_id", "frame_idx")
    })

  private def markerSql(lang: String, markers: Seq[String]): String = {
    val arr = markers.map(m => s"'$m'").mkString("[", ", ", "]")
    s"len(list_filter(toks, t -> list_contains($arr, t)))::BIGINT AS score_$lang"
  }

  val oracles: Map[String, String] = Map(
    "bpe_train_merges" -> {
      val rounds = (1 to BpeRounds).map(bpeOracleRound).mkString(",\n")
      val union = (1 to BpeRounds).map { i =>
        if (i == 1) s"SELECT 1::BIGINT AS merge_rank, l AS left_sym, r AS right_sym, cnt AS pair_count FROM m1"
        else s"UNION ALL SELECT $i::BIGINT, l, r, cnt FROM m$i"
      }.mkString("\n  ")
      s"""WITH $bpeCanonCte,
         |$rounds
         |SELECT * FROM (
         |  $union) ORDER BY merge_rank""".stripMargin
    },

    "bpe_train_batched" -> {
      def rnd(i: Int): String = {
        val p = s"c${i - 1}"
        s"""p$i AS (
           |  SELECT pr[1] AS l, pr[2] AS r, count(*) AS cnt
           |  FROM (SELECT unnest([[s[k], s[k+1]] for k in range(1, len(s))]) AS pr
           |        FROM (SELECT string_split(substring(c, 2, length(c)-2), chr(1)||chr(1)) AS s FROM $p))
           |  GROUP BY 1, 2),
           |rk$i AS (SELECT l, r, cnt, row_number() OVER (ORDER BY cnt DESC, l, r) AS rk FROM p$i),
           |m${i}a AS (SELECT l, r, cnt FROM rk$i WHERE rk = 1),
           |m${i}b AS (SELECT l, r, cnt FROM rk$i
           |           WHERE rk = (SELECT min(rk) FROM rk$i, m${i}a x
           |                       WHERE rk$i.rk > 1 AND rk$i.l NOT IN (x.l, x.r)
           |                         AND rk$i.r NOT IN (x.l, x.r))),
           |c$i AS (SELECT doc_id,
           |          replace(replace(c,
           |            chr(1)||a.l||chr(1)||chr(1)||a.r||chr(1), chr(1)||a.l||' '||a.r||chr(1)),
           |            chr(1)||b.l||chr(1)||chr(1)||b.r||chr(1), chr(1)||b.l||' '||b.r||chr(1)) AS c
           |        FROM $p CROSS JOIN m${i}a a CROSS JOIN m${i}b b)""".stripMargin
      }
      s"""WITH $bpeCanonCte,
         |${rnd(1)},
         |${rnd(2)}
         |SELECT * FROM (
         |  SELECT 1::BIGINT AS round, 1::BIGINT AS slot, l AS left_sym, r AS right_sym, cnt AS pair_count FROM m1a
         |  UNION ALL SELECT 1, 2, l, r, cnt FROM m1b
         |  UNION ALL SELECT 2, 1, l, r, cnt FROM m2a
         |  UNION ALL SELECT 2, 2, l, r, cnt FROM m2b) ORDER BY round, slot""".stripMargin
    },

    "bpe_vocab" -> {
      val rounds = (1 to BpeRounds).map(bpeOracleRound).mkString(",\n")
      s"""WITH $bpeCanonCte,
         |$rounds,
         |sym AS (SELECT doc_id,
         |          unnest(string_split(substring(c, 2, length(c)-2), chr(1)||chr(1))) AS symbol
         |        FROM c$BpeRounds)
         |SELECT symbol, count(*) AS n_occurrences,
         |       count(DISTINCT doc_id) AS n_docs
         |FROM sym GROUP BY symbol
         |ORDER BY n_occurrences DESC, symbol LIMIT 50""".stripMargin
    },

    "bpe_encode" -> {
      val rounds = (1 to BpeRounds).map(bpeOracleRound).mkString(",\n")
      s"""WITH $bpeCanonCte,
         |$rounds
         |SELECT doc_id,
         |  (len(s) + (length(cs) - length(replace(cs, ' ', ''))))::BIGINT AS n_tokens,
         |  len(s)::BIGINT AS n_symbols,
         |  array_to_string(s, '|') AS symbols_text
         |FROM (SELECT doc_id, substring(c, 2, length(c)-2) AS cs,
         |             string_split(substring(c, 2, length(c)-2), chr(1)||chr(1)) AS s FROM c$BpeRounds)
         |ORDER BY doc_id""".stripMargin
    },

    // first-appearance table + broadcast threshold list, corpus scanned once
    "vocab_growth" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |fs AS (SELECT token, min(doc_id) AS first_doc FROM tok GROUP BY 1),
        |dt AS (SELECT doc_id, len(string_split(text, ' '))::BIGINT AS nt FROM documents),
        |th AS (SELECT unnest([16, 64, 256, 1024, 4096, 16384, 65536]) AS k),
        |kept AS (SELECT k FROM th WHERE k <= (SELECT count(*) FROM documents))
        |SELECT k::BIGINT AS prefix_docs,
        |       (SELECT SUM(nt) FROM dt WHERE doc_id < k)::BIGINT AS n_tokens_total,
        |       (SELECT count(*) FROM fs WHERE first_doc < k)::BIGINT AS vocab_size
        |FROM kept ORDER BY prefix_docs""".stripMargin,

    "vocab_oov" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |             FROM documents),
        |v AS (SELECT token FROM tok GROUP BY token
        |      ORDER BY count(*) DESC, token LIMIT 16)
        |SELECT t.doc_id, count(*)::BIGINT AS n_tokens,
        |       sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov,
        |       sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)::DOUBLE / count(*) AS oov_frac
        |FROM tok t LEFT JOIN v ON v.token = t.token
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,

    // integer cross-multiplied rule thresholds — no float compare anywhere
    "gopher_rules" ->
      s"""WITH ${GopherOracle.ctes("documents")}
         |SELECT doc_id, n AS n_words, sum_len AS sum_word_chars,
         |       n_alpha AS n_alpha_words, n_stop AS n_stop_hits,
         |       n_dup AS n_dup_grams,
         |       (n >= 20 AND n <= 100000) AS rule_words,
         |       (sum_len >= 2 * n AND sum_len <= 10 * n) AS rule_mean_len,
         |       (n_alpha * 10 >= n * 8) AS rule_alpha,
         |       (n_stop >= 2) AS rule_stops,
         |       (n_dup * 5 <= n_grams) AS rule_repetition,
         |       (${GopherOracle.keepCondition}) AS keep
         |FROM d ORDER BY doc_id""".stripMargin,

    // same planted input computed in-engine; counts precede redaction
    "pii_redact" ->
      s"""WITH ${PiiOracle.plantedCte}
         |SELECT doc_id,
         |       ${PiiOracle.selectColumns}
         |FROM p ORDER BY doc_id""".stripMargin,

    // closed-form square-wave features: A = trunc(amp·32767) with
    // amp = 0.05 + (doc_id % 80)/100 — per-row IEEE scalar math, exact
    // in both engines; rms = A/32768 exactly (sqrt of a perfect square),
    // crossings = floor(799 / halfPeriod)
    "audio_features" ->
      """SELECT doc_id AS media_id,
        |       8000::BIGINT AS sample_rate,
        |       1::BIGINT AS channels,
        |       800::BIGINT AS n_samples,
        |       100::BIGINT AS duration_ms,
        |       trunc((0.05 + (doc_id % 80) / 100.0) * 32767) / 32768.0 AS rms,
        |       ((800 - 1) // (10 + doc_id % 30))::BIGINT AS zero_crossings
        |FROM documents ORDER BY media_id""".stripMargin,

    "image_features" ->
      """SELECT doc_id AS media_id,
        |       (4 + doc_id % 8)::BIGINT AS width,
        |       (3 + doc_id % 5)::BIGINT AS height,
        |       ((doc_id * 7) % 256)::DOUBLE AS mean_r,
        |       ((doc_id * 13) % 256)::DOUBLE AS mean_g,
        |       ((doc_id * 29) % 256)::DOUBLE AS mean_b,
        |       ((((doc_id * 7) % 256) * 299 + ((doc_id * 13) % 256) * 587
        |          + ((doc_id * 29) % 256) * 114) // 1000 // 16)::BIGINT AS luma_bin,
        |       ((4 + doc_id % 8) * (3 + doc_id % 5))::BIGINT AS n_px
        |FROM documents ORDER BY media_id""".stripMargin,

    // the k active burst windows are >= the track mean, silence below:
    // low k bits set, abs_sum = amplitude * 100 samples * k windows
    "audio_fingerprint" ->
      """SELECT doc_id AS media_id,
        |       ((1::BIGINT << (1 + doc_id % 7)) - 1)::BIGINT AS ahash,
        |       ((3277 + (doc_id % 100) * 29) * 100 * (1 + doc_id % 7))::BIGINT AS abs_sum
        |FROM documents ORDER BY media_id""".stripMargin,

    // the md5-bit window pattern IS the envelope hash → exact SQL
    "audio_near_dup" ->
      """WITH h AS (SELECT doc_id,
        |                  xor(('0x' || substr(md5(CAST(doc_id // 2 AS VARCHAR)), 1, 15))::BIGINT,
        |                      CASE WHEN doc_id % 2 = 1 THEN 3::BIGINT ELSE 0::BIGINT END) AS ahash
        |           FROM documents)
        |SELECT a.doc_id AS media_a, b.doc_id AS media_b,
        |       bit_count(xor(a.ahash, b.ahash))::BIGINT AS hamming
        |FROM h a JOIN h b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.ahash, b.ahash)) <= 3
        |ORDER BY media_a, media_b""".stripMargin,

    // top k rows of the 8x8 fixture are >= mean, rest below: the hash is
    // the low 8k bits set
    "image_ahash" ->
      """SELECT doc_id AS media_id,
        |       ((1::BIGINT << (8 * (1 + doc_id % 7))) - 1)::BIGINT AS ahash,
        |       (255 * 8 * (1 + doc_id % 7))::BIGINT AS luma_sum
        |FROM documents ORDER BY media_id""".stripMargin,

    // the md5-bit pixel pattern IS the hash → exact popcount-of-xor SQL
    "image_near_dup" ->
      """WITH h AS (SELECT doc_id,
        |                  xor(('0x' || substr(md5(CAST(doc_id // 2 AS VARCHAR)), 1, 15))::BIGINT,
        |                      CASE WHEN doc_id % 2 = 1 THEN 3::BIGINT ELSE 0::BIGINT END) AS ahash
        |           FROM documents)
        |SELECT a.doc_id AS media_a, b.doc_id AS media_b,
        |       bit_count(xor(a.ahash, b.ahash))::BIGINT AS hamming
        |FROM h a JOIN h b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.ahash, b.ahash)) <= 7
        |ORDER BY media_a, media_b""".stripMargin,

    "image_resize_check" ->
      """SELECT doc_id AS media_id,
        |       5::BIGINT AS width, 4::BIGINT AS height,
        |       ((doc_id * 11) % 256)::DOUBLE AS mean_r,
        |       ((doc_id * 17) % 256)::DOUBLE AS mean_g,
        |       ((doc_id * 23) % 256)::DOUBLE AS mean_b
        |FROM documents ORDER BY media_id""".stripMargin,

    "doc_chunks" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |n AS (SELECT doc_id, toks, len(toks) AS n FROM t),
        |c AS (SELECT doc_id, toks, n,
        |             unnest(range(0, 1 + greatest(0, ceil((n - 32)::DOUBLE / 24)::BIGINT))) AS chunk_no
        |      FROM n)
        |SELECT doc_id, chunk_no::BIGINT AS chunk_no,
        |       (chunk_no * 24)::BIGINT AS start_tok,
        |       least(32, n - chunk_no * 24)::BIGINT AS n_chunk_tokens,
        |       array_to_string(list_slice(toks, chunk_no * 24 + 1, chunk_no * 24 + 32), ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_no""".stripMargin,

    "domain_quota" ->
      """SELECT source,
        |       row_number() OVER (PARTITION BY source
        |                          ORDER BY md5(doc_id::VARCHAR), doc_id)::BIGINT AS rk,
        |       doc_id
        |FROM documents
        |QUALIFY rk <= 10
        |ORDER BY source, rk""".stripMargin,

    // doc-confined pair self-join over distinct tokens, top-50
    "token_cooccurrence" ->
      """WITH t AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
        |           FROM documents)
        |SELECT a.tok AS tok_a, b.tok AS tok_b, count(*)::BIGINT AS n_docs
        |FROM t a JOIN t b ON a.doc_id = b.doc_id AND a.tok < b.tok
        |GROUP BY 1, 2
        |ORDER BY n_docs DESC, tok_a, tok_b LIMIT 50""".stripMargin,

    // keep when h16 · max_chars < 65536 · n_chars
    "importance_sample" ->
      """WITH m AS (SELECT max(n_chars) AS mw FROM documents)
        |SELECT doc_id, n_chars FROM documents CROSS JOIN m
        |WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT * mw < 65536 * n_chars
        |ORDER BY doc_id""".stripMargin,

    // split by integer cross-multiplied md5 per-mille thresholds
    "corpus_split" ->
      """SELECT doc_id,
        |       CASE WHEN h * 1000 < 65536 * 900 THEN 'train'
        |            WHEN h * 1000 < 65536 * 950 THEN 'val'
        |            ELSE 'test' END AS split
        |FROM (SELECT doc_id, ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT AS h
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,

    // per-gram corpus frequency via a count window; integer sum/count
    "lm_score" ->
      """WITH g AS (SELECT doc_id, substr(text, i, 3) AS gram
        |           FROM (SELECT doc_id, text, unnest(range(1, len(text) - 1)) AS i
        |                 FROM documents WHERE len(text) >= 3)),
        |f AS (SELECT doc_id, count(*) OVER (PARTITION BY gram) AS gram_freq FROM g)
        |SELECT doc_id, count(*)::BIGINT AS n_grams, sum(gram_freq)::BIGINT AS freq_sum,
        |       sum(gram_freq)::DOUBLE / count(*) AS avg_gram_freq
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // merges trained on the md5 train split (the bpeOracleRound unroll
    // over a restricted c0), then applied as the same literal replaces
    // to the TEST split's canonical form
    "bpe_apply" -> {
      def app(i: Int): String = {
        val p = if (i == 1) "te" else s"a${i - 1}"
        s"""a$i AS (SELECT doc_id, replace(c, chr(1)||l||chr(1)||chr(1)||r||chr(1),
           |                                chr(1)||l||' '||r||chr(1)) AS c
           |        FROM $p CROSS JOIN m$i)""".stripMargin
      }
      val rounds = (1 to BpeRounds).map(bpeOracleRound).mkString(",\n")
      val applies = (1 to BpeRounds).map(app).mkString(",\n")
      s"""WITH tr AS (SELECT doc_id, text FROM documents
         |            WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT * 1000 < 65536 * 900),
         |c0 AS (SELECT doc_id, chr(1) || replace(text, ' ', chr(1)||chr(1)) || chr(1) AS c FROM tr),
         |$rounds,
         |te AS (SELECT doc_id, chr(1) || replace(text, ' ', chr(1)||chr(1)) || chr(1) AS c
         |       FROM documents
         |       WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT * 1000 >= 65536 * 950),
         |$applies
         |SELECT doc_id,
         |  (len(s) + (length(cs) - length(replace(cs, ' ', ''))))::BIGINT AS n_tokens,
         |  len(s)::BIGINT AS n_symbols,
         |  array_to_string(s, '|') AS symbols_text
         |FROM (SELECT doc_id, substring(c, 2, length(c)-2) AS cs,
         |             string_split(substring(c, 2, length(c)-2), chr(1)||chr(1)) AS s
         |      FROM a$BpeRounds)
         |ORDER BY doc_id""".stripMargin
    },

    // batch-perceptron rounds unrolled: logit → misclassified → delta →
    // weight fold, all int64 (the kmeans_train oracle device on text)
    "classifier_train" -> {
      def rnd(i: Int): String = {
        val p = s"w${i - 1}"
        s"""l$i AS (SELECT doc_id, y, SUM(cnt * coalesce(w, 0))::BIGINT AS logit
           |        FROM feats LEFT JOIN $p USING (bucket) GROUP BY doc_id, y),
           |m$i AS (SELECT doc_id FROM l$i WHERE (logit >= 0) <> (y > 0)),
           |d$i AS (SELECT bucket, SUM(y * cnt)::BIGINT AS d
           |        FROM feats JOIN m$i USING (doc_id) GROUP BY bucket),
           |w$i AS (SELECT b.bucket, coalesce($p.w, 0) + coalesce(d$i.d, 0) AS w
           |        FROM (SELECT DISTINCT bucket FROM feats) b
           |        LEFT JOIN $p USING (bucket) LEFT JOIN d$i USING (bucket))""".stripMargin
      }
      s"""WITH feats AS (
         |  SELECT doc_id,
         |         CASE WHEN list_contains(string_split(text, ' '), 'spark')
         |              THEN 1 ELSE -1 END AS y,
         |         ('0x' || substr(md5(token), 1, 15))::BIGINT % 1024 AS bucket,
         |         count(*) AS cnt
         |  FROM (SELECT doc_id, text, unnest(string_split(text, ' ')) AS token
         |        FROM documents)
         |  GROUP BY 1, 2, 3),
         |w0 AS (SELECT DISTINCT bucket, 0::BIGINT AS w FROM feats),
         |${rnd(1)},
         |${rnd(2)}
         |SELECT bucket, w AS w_micros FROM w2 WHERE w <> 0
         |ORDER BY bucket""".stripMargin
    },

    // the whole FIM serialization recomputed: selection + both cuts from
    // disjoint md5 slices of doc_id#fim, list concat with the sentinels
    "fim_transform" ->
      """WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS toks,
        |                  len(string_split(text, ' ')) AS nt FROM documents),
        |h AS (SELECT doc_id, text, toks, nt,
        |             ('0x' || substr(md5(doc_id::VARCHAR || '#fim'), 1, 4))::BIGINT AS h0,
        |             ('0x' || substr(md5(doc_id::VARCHAR || '#fim'), 5, 4))::BIGINT AS h1,
        |             ('0x' || substr(md5(doc_id::VARCHAR || '#fim'), 9, 4))::BIGINT AS h2
        |      FROM d),
        |c AS (SELECT doc_id, text, toks, nt,
        |             h0 * 1000 < 65536 * 500 AS applied,
        |             least(h1 % nt + 1, h2 % nt + 1) AS c1,
        |             greatest(h1 % nt + 1, h2 % nt + 1) AS c2
        |      FROM h)
        |SELECT doc_id, applied AS fim_applied,
        |       CASE WHEN applied THEN array_to_string(
        |              ['<PRE>'] || toks[1:c1-1] || ['<SUF>'] || toks[c2+1:nt] ||
        |              ['<MID>'] || toks[c1:c2], ' ')
        |            ELSE text END AS text_out
        |FROM c ORDER BY doc_id""".stripMargin,

    // per-source epoch counts as a CASE, replicated by range unnest
    "epoch_mix" ->
      """WITH k AS (SELECT doc_id, source,
        |                  CASE source WHEN 'src0' THEN 3
        |                              WHEN 'src3' THEN 2
        |                              WHEN 'src7' THEN 2
        |                              ELSE 1 END AS n
        |           FROM documents)
        |SELECT doc_id, source, unnest(range(0, n)) AS epoch
        |FROM k ORDER BY doc_id, epoch""".stripMargin,

    // span starts from the same md5 slice, clamped ends, island merge —
    // the whole T5 device recomputed in SQL windows
    "t5_spans" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks,
        |                  len(string_split(text, ' ')) AS nt FROM documents),
        |t AS (SELECT doc_id, nt, unnest(range(1, nt + 1)) AS pos FROM d),
        |sel AS (SELECT doc_id, pos AS s, least(pos + 2, nt) AS e
        |        FROM t
        |        WHERE ('0x' || substr(md5(doc_id::VARCHAR || '#' || pos::VARCHAR), 1, 4))::BIGINT * 1000 < 65536 * 50),
        |m AS (SELECT doc_id, s, e,
        |             CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
        |                  THEN 1 ELSE 0 END AS brk
        |      FROM sel),
        |g AS (SELECT *, sum(brk) OVER (PARTITION BY doc_id ORDER BY s) AS island FROM m)
        |SELECT doc_id, min(s)::BIGINT AS span_start, max(e)::BIGINT AS span_end,
        |       (max(e) - min(s) + 1)::BIGINT AS n_corrupted
        |FROM g GROUP BY doc_id, island
        |ORDER BY doc_id, span_start""".stripMargin,

    // the full MLM recipe recomputed: selection, action, and the random
    // draw from three disjoint md5 hex slices of doc_id#pos
    "mlm_mask" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks,
        |                  len(string_split(text, ' ')) AS nt FROM documents),
        |t AS (SELECT doc_id,
        |             unnest([{'pos': i, 'tok': toks[i]} for i in range(1, nt + 1)]) AS u
        |      FROM d),
        |h AS (SELECT doc_id, u.pos AS pos, u.tok AS token,
        |             ('0x' || substr(md5(doc_id::VARCHAR || '#' || u.pos::VARCHAR), 1, 4))::BIGINT AS h1,
        |             ('0x' || substr(md5(doc_id::VARCHAR || '#' || u.pos::VARCHAR), 5, 4))::BIGINT AS h2,
        |             ('0x' || substr(md5(doc_id::VARCHAR || '#' || u.pos::VARCHAR), 9, 4))::BIGINT AS h3
        |      FROM t)
        |SELECT doc_id, pos::BIGINT AS pos, token,
        |       CASE WHEN h2 * 10 < 65536 * 8 THEN 'mask'
        |            WHEN h2 * 10 < 65536 * 9 THEN 'random'
        |            ELSE 'keep' END AS action,
        |       CASE WHEN h2 * 10 < 65536 * 8 THEN '[MASK]'
        |            WHEN h2 * 10 < 65536 * 9 THEN 'tok' || (h3 % 1000)::VARCHAR
        |            ELSE token END AS replacement
        |FROM h WHERE h1 * 1000 < 65536 * 150
        |ORDER BY doc_id, pos""".stripMargin,

    // DLT priority sampling: priority = w/U with U = u/65536 uniform on
    // (0,1], computed as (w*65536)/u — one IEEE division of two exact
    // integers, bit-identical per row; τ = the (k+1)-th priority IN
    // W-UNITS, est_w = greatest(w, τ) the unbiased DLT estimator
    "priority_sample" ->
      """WITH s AS (SELECT doc_id, n_chars AS w,
        |                  (('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT + 1) AS u
        |           FROM documents),
        |p AS (SELECT doc_id, w, (w * 65536)::DOUBLE / u::DOUBLE AS priority,
        |             row_number() OVER (ORDER BY (w * 65536)::DOUBLE / u::DOUBLE DESC, doc_id) AS rk
        |      FROM s),
        |t AS (SELECT coalesce(min(CASE WHEN rk = 51 THEN priority END), 0.0) AS tau
        |      FROM p WHERE rk <= 51)
        |SELECT doc_id, w, priority, greatest(w::DOUBLE, tau) AS est_w, rk::BIGINT AS rk
        |FROM p CROSS JOIN t WHERE rk <= 50
        |ORDER BY rk""".stripMargin,

    // per-group DLT: rank within lang, τ per group from rk = k+1
    "priority_sample_lang" ->
      """WITH s AS (SELECT doc_id, lang, n_chars AS w,
        |                  (('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT + 1) AS u
        |           FROM documents),
        |p AS (SELECT doc_id, lang, w, (w * 65536)::DOUBLE / u::DOUBLE AS priority,
        |             row_number() OVER (PARTITION BY lang
        |               ORDER BY (w * 65536)::DOUBLE / u::DOUBLE DESC, doc_id) AS rk
        |      FROM s),
        |t AS (SELECT lang,
        |             coalesce(min(CASE WHEN rk = 21 THEN priority END), 0.0) AS tau
        |      FROM p WHERE rk <= 21 GROUP BY lang)
        |SELECT doc_id, p.lang, w, priority,
        |       greatest(w::DOUBLE, tau) AS est_w, rk::BIGINT AS rk
        |FROM p JOIN t ON p.lang = t.lang WHERE rk <= 20
        |ORDER BY p.lang, rk""".stripMargin,

    // the one-shot DLT sampler over ALL documents at k=25 — equality
    // with the three-batch store IS the order-statistic fold law
    "priority_sample_stored" -> SampleK25Oracle,

    "streaming_sample_ingest" -> SampleK25Oracle,

    // the same md5 bucket + md5-derived weight table, exact integer sum
    "classifier_score" ->
      """WITH w AS (SELECT b AS bucket,
        |             (('0x' || substr(md5(b::VARCHAR), 1, 6))::BIGINT - 8388608) AS w_micros
        |           FROM range(1024) t(b)),
        |tb AS (SELECT doc_id,
        |              ('0x' || substr(md5(token), 1, 15))::BIGINT % 1024 AS bucket
        |       FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |             FROM documents)),
        |s AS (SELECT doc_id, SUM(coalesce(w_micros, 0))::BIGINT AS logit
        |      FROM tb LEFT JOIN w USING (bucket) GROUP BY doc_id)
        |SELECT d.doc_id,
        |       len(string_split(d.text, ' '))::BIGINT AS n_tokens,
        |       coalesce(s.logit, 0) AS logit_micros,
        |       coalesce(s.logit, 0) >= 0 AS keep
        |FROM documents d LEFT JOIN s USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // keep when hash16 · count_src < 65536 · min_count (integer
    // cross-multiply — no float rate, no RNG)
    "mixture_downsample" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
        |m AS (SELECT min(n) AS m FROM c)
        |SELECT doc_id, lang
        |FROM documents JOIN c USING (lang) CROSS JOIN m
        |WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT * n < 65536 * m
        |ORDER BY doc_id""".stripMargin,

    "top_ngrams_per_lang" ->
      """WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS toks,
        |                  len(string_split(text, ' ')) AS nt FROM documents),
        |sh AS (SELECT doc_id, lang,
        |              unnest(list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |                                    for i in range(1, nt - 1)])) AS shingle
        |       FROM d),
        |df AS (SELECT lang, shingle, count(DISTINCT doc_id) AS doc_freq
        |       FROM sh GROUP BY 1, 2)
        |SELECT lang, rk, shingle, doc_freq FROM (
        |  SELECT *, row_number() OVER (PARTITION BY lang ORDER BY doc_freq DESC, shingle) AS rk
        |  FROM df) WHERE rk <= 5
        |ORDER BY lang, rk""".stripMargin,

    "text_quality" ->
      """WITH t AS (
        |  SELECT doc_id, n_chars, string_split(text, ' ') AS toks,
        |         len(regexp_extract_all(text, '[^a-z0-9 ]')) AS n_punct
        |  FROM documents)
        |SELECT doc_id, n_chars,
        |       len(toks)::BIGINT AS n_tokens,
        |       len(list_distinct(toks))::BIGINT AS n_distinct,
        |       len(list_filter(toks, t -> list_contains(['the','a','of','and','to','in','is','on'], t)))::BIGINT AS n_stopwords,
        |       n_punct::BIGINT AS n_punct,
        |       len(list_distinct(toks))::DOUBLE / len(toks) AS distinct_ratio,
        |       len(list_filter(toks, t -> list_contains(['the','a','of','and','to','in','is','on'], t)))::DOUBLE / len(toks) AS stopword_ratio,
        |       (len(toks) >= 10 AND
        |        len(list_filter(toks, t -> list_contains(['the','a','of','and','to','in','is','on'], t))) * 20 < len(toks) * 7) AS keep
        |FROM t ORDER BY doc_id""".stripMargin,

    "jsonl_roundtrip" ->
      """SELECT lang, count(*) AS n_docs,
        |       SUM(length(text))::BIGINT AS sum_chars,
        |       SUM(('0x' || substr(md5(text), 1, 15))::BIGINT % 999999937)::BIGINT AS sum_digest,
        |       SUM(doc_id)::BIGINT AS sum_ids
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "repetition_stats" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT doc_id,
        |             CASE WHEN len(toks) >= 3
        |                  THEN list_transform(range(1, len(toks) - 1),
        |                         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
        |                  ELSE []::VARCHAR[] END AS grams
        |      FROM t)
        |SELECT doc_id, len(grams)::BIGINT AS n_grams,
        |       len(list_distinct(grams))::BIGINT AS n_distinct,
        |       CASE WHEN len(grams) > 0
        |            THEN (len(grams) - len(list_distinct(grams)))::DOUBLE / len(grams)::DOUBLE
        |            ELSE 0.0 END AS dup_frac
        |FROM g ORDER BY doc_id""".stripMargin,

    "pack_sequences" ->
      """WITH t AS (SELECT doc_id, source,
        |                  len(string_split(text, ' '))::BIGINT AS n_tokens
        |           FROM documents),
        |c AS (SELECT *, SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |                                    ROWS UNBOUNDED PRECEDING) - n_tokens AS off
        |      FROM t)
        |SELECT doc_id, source, n_tokens, (off // 4096)::BIGINT AS bin_no,
        |       off::BIGINT AS offset_tokens
        |FROM c ORDER BY source, doc_id""".stripMargin,

    "corpus_shuffle" ->
      """WITH t AS (SELECT doc_id, md5('ep0-' || doc_id::VARCHAR) AS h FROM documents),
        |s AS (SELECT doc_id, h,
        |             ('0x' || substr(h, 1, 8))::BIGINT % 8 AS shard
        |      FROM t)
        |SELECT doc_id, shard,
        |       row_number() OVER (PARTITION BY shard ORDER BY h, doc_id)::BIGINT AS pos
        |FROM s ORDER BY shard, pos""".stripMargin,

    "bpe_pair_counts" ->
      """WITH d AS (SELECT string_split(text, ' ') AS toks,
        |                  len(string_split(text, ' ')) AS nt FROM documents),
        |p AS (SELECT unnest([toks[i] || ' ' || toks[i+1] for i in range(1, nt)]) AS pair
        |      FROM d WHERE nt >= 2)
        |SELECT pair, count(*) AS n_occurrences
        |FROM p GROUP BY pair
        |ORDER BY n_occurrences DESC, pair LIMIT 50""".stripMargin,

    "length_histogram" ->
      """WITH t AS (SELECT len(string_split(text, ' '))::BIGINT AS n_tokens FROM documents)
        |SELECT length(bin(n_tokens))::BIGINT AS p2_bucket,
        |       count(*) AS n_docs, SUM(n_tokens)::BIGINT AS sum_tokens
        |FROM t GROUP BY 1 ORDER BY p2_bucket""".stripMargin,

    "token_counts" ->
      """SELECT token, count(*) AS n_occurrences, count(DISTINCT doc_id) AS n_docs
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY token ORDER BY n_occurrences DESC, token LIMIT 50""".stripMargin,

    "lang_id" -> {
      val scores = TextOps.LangMarkers.map { case (l, ms) => markerSql(l, ms) }.mkString(",\n       ")
      // argmax with earliest-lang tie-break = CASE … >= greatest(remaining)
      """WITH t AS (SELECT doc_id, lang AS label, string_split(text, ' ') AS toks FROM documents),
        |s AS (SELECT doc_id, label,
        |       SCORES
        |FROM t)
        |SELECT doc_id, label,
        |       CASE WHEN score_de >= greatest(score_en, score_es, score_fr, score_zh) THEN 'de'
        |            WHEN score_en >= greatest(score_es, score_fr, score_zh) THEN 'en'
        |            WHEN score_es >= greatest(score_fr, score_zh) THEN 'es'
        |            WHEN score_fr >= score_zh THEN 'fr'
        |            ELSE 'zh' END AS predicted,
        |       score_de, score_en, score_es, score_fr, score_zh
        |FROM s ORDER BY doc_id""".stripMargin.replace("SCORES", scores)
    },

    "lang_id_trained" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token FROM documents),
        |prof AS (
        |  SELECT lang AS plang, token FROM (
        |    SELECT lang, token, count(*) AS cnt,
        |           row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, token) AS rk
        |    FROM toks GROUP BY lang, token) WHERE rk <= 20),
        |scores AS (
        |  SELECT doc_id, plang, count(*) AS score
        |  FROM toks JOIN prof USING (token) GROUP BY 1, 2),
        |best AS (
        |  SELECT doc_id, plang, score,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, plang) AS brk
        |  FROM scores)
        |SELECT d.doc_id, d.lang AS label, b.plang AS predicted, b.score::BIGINT AS score
        |FROM documents d LEFT JOIN (SELECT * FROM best WHERE brk = 1) b USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "lang_id_chargram" ->
      """WITH g AS (
        |  SELECT doc_id, lang, substr(text, i::INT, 3) AS gram
        |  FROM (SELECT doc_id, lang, text, unnest(range(1, len(text) - 1)) AS i
        |        FROM documents WHERE len(text) >= 3)),
        |prof AS (
        |  SELECT lang AS plang, gram FROM (
        |    SELECT lang, gram, count(*) AS cnt,
        |           row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, gram) AS rk
        |    FROM g GROUP BY lang, gram) WHERE rk <= 30),
        |scores AS (
        |  SELECT doc_id, plang, count(*) AS score
        |  FROM g JOIN prof USING (gram) GROUP BY 1, 2),
        |best AS (
        |  SELECT doc_id, plang, score,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, plang) AS brk
        |  FROM scores)
        |SELECT d.doc_id, d.lang AS label, b.plang AS predicted, b.score::BIGINT AS score
        |FROM documents d LEFT JOIN (SELECT * FROM best WHERE brk = 1) b USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "doc_fingerprint" ->
      """WITH g AS (
        |  SELECT doc_id,
        |         CASE WHEN len(text) >= 8
        |              THEN [md5(substr(text, i, 8)) for i in range(1, len(text) - 6)]
        |              ELSE NULL END AS grams
        |  FROM documents)
        |SELECT doc_id, list_min(grams) AS fp_min, list_max(grams) AS fp_max,
        |       coalesce(len(list_distinct(grams)), 0)::BIGINT AS n_grams
        |FROM g ORDER BY doc_id""".stripMargin,

    "winnow_fingerprint" ->
      """WITH g AS (
        |  SELECT doc_id, i,
        |         ('0x' || substr(md5(substr(text, i::INT, 8)), 1, 15))::BIGINT % 999999937 AS h
        |  FROM (SELECT doc_id, text, unnest(range(1, len(text) - 6)) AS i
        |        FROM documents WHERE len(text) >= 8)),
        |wm AS (
        |  SELECT doc_id,
        |         min(h) OVER (PARTITION BY doc_id ORDER BY i
        |                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS winmin
        |  FROM g)
        |SELECT doc_id, count(DISTINCT winmin) AS n_fingerprints,
        |       min(winmin) AS fp_min, max(winmin) AS fp_max
        |FROM wm GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "binary_meta" ->
      """SELECT doc_id, source,
        |       octet_length(encode(text))::BIGINT AS n_bytes,
        |       md5(text) AS content_md5,
        |       ceil(octet_length(encode(text)) / 64.0)::BIGINT AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin,

    "explode_outer_tokens" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 8) AS l
        |  FROM documents)
        |SELECT doc_id, unnest(l) AS long_tok FROM t WHERE len(l) > 0
        |UNION ALL
        |SELECT doc_id, NULL AS long_tok FROM t WHERE len(l) = 0
        |ORDER BY doc_id, long_tok NULLS FIRST""".stripMargin,

    "token_counts_bpe" ->
      """WITH m AS (
        |  SELECT doc_id,
        |         regexp_extract_all(text || ' v2.0, id=42; email bob@x.io!',
        |                            '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]') AS toks
        |  FROM documents)
        |SELECT doc_id,
        |       len(toks)::BIGINT AS n_tokens,
        |       len(list_distinct(toks))::BIGINT AS n_distinct,
        |       len(list_filter(toks, t -> regexp_matches(t, '^[a-zA-Z]+$')))::BIGINT AS n_word,
        |       len(list_filter(toks, t -> regexp_matches(t, '^[0-9]+$')))::BIGINT AS n_number,
        |       len(list_filter(toks, t -> regexp_matches(t, '^[^a-zA-Z0-9]$')))::BIGINT AS n_punct
        |FROM m ORDER BY doc_id""".stripMargin,

    "tfidf_components" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |           FROM documents WHERE doc_id < 20),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM t GROUP BY 1, 2),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents WHERE doc_id < 20)
        |SELECT doc_id, token, tf, df, n_docs
        |FROM tf JOIN dfreq USING (token) CROSS JOIN n
        |ORDER BY doc_id, token""".stripMargin,

    "collocations" ->
      """WITH sp AS (SELECT string_split(text, ' ') AS s FROM documents),
        |t AS (SELECT unnest(s) AS token FROM sp),
        |u AS (SELECT token, count(*) AS n_tok FROM t GROUP BY 1),
        |n AS (SELECT count(*) AS n_tokens FROM t),
        |p AS (SELECT s[k] AS token_a, s[k + 1] AS token_b, count(*) AS n_pair
        |      FROM (SELECT s, unnest(range(1, len(s))) AS k
        |            FROM sp WHERE len(s) >= 2)
        |      GROUP BY 1, 2 HAVING count(*) >= 5)
        |SELECT token_a, token_b, n_pair, ua.n_tok AS n_a, ub.n_tok AS n_b,
        |       n_tokens::BIGINT AS n_tokens,
        |       ((1000000::HUGEINT * n_pair * n_tokens) //
        |        (ua.n_tok::HUGEINT * ub.n_tok))::BIGINT AS pmi_ratio_micro
        |FROM p JOIN u ua ON ua.token = p.token_a
        |       JOIN u ub ON ub.token = p.token_b
        |       CROSS JOIN n
        |ORDER BY pmi_ratio_micro DESC, token_a, token_b
        |LIMIT 40""".stripMargin,

    "doc_keywords" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |           FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM t GROUP BY 1, 2),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        |s AS (SELECT doc_id, token, tf, df,
        |             ((1000000::HUGEINT * tf * n_docs) // df)::BIGINT AS score_micro
        |      FROM tf JOIN dfreq USING (token) CROSS JOIN n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |             ORDER BY score_micro DESC, token) AS rk
        |      FROM s)
        |SELECT doc_id, token, tf, df, score_micro, rk::BIGINT AS rk
        |FROM r WHERE rk <= 3 AND doc_id < 100
        |ORDER BY doc_id, rk""".stripMargin,

    "text_normalize" ->
      """WITH dirty AS (
        |  SELECT doc_id,
        |         text || ' Contact: user' || doc_id || '@example.com id 123456789!' AS text_dirty
        |  FROM documents),
        |scrub AS (
        |  SELECT doc_id,
        |         regexp_replace(regexp_replace(text_dirty,
        |           '[a-zA-Z0-9._]+@[a-zA-Z0-9.]+\.[a-zA-Z]+', '<EMAIL>', 'g'),
        |           '[0-9]{7,}', '<NUM>', 'g') AS text_clean
        |  FROM dirty),
        |norm AS (
        |  SELECT doc_id, text_clean,
        |         trim(regexp_replace(regexp_replace(lower(text_clean),
        |           '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS text_norm
        |  FROM scrub)
        |SELECT doc_id, md5(text_clean) AS scrubbed_md5, md5(text_norm) AS norm_md5,
        |       len(text_norm)::BIGINT AS n_norm_chars
        |FROM norm ORDER BY doc_id""".stripMargin,

    // byte slicing == char slicing here: the corpus is pure ASCII
    // (octet_length(encode(text)) == len(text) for every row)
    "frame_sample" ->
      """WITH f AS (
        |  SELECT doc_id AS media_id, i AS frame_idx,
        |         substr(text, (i * 64 + 1)::INT, 64) AS frame
        |  FROM (SELECT doc_id, text,
        |               unnest(range(0, ceil(len(text) / 64.0)::BIGINT)) AS i
        |        FROM documents)
        |  WHERE i % 4 = 0)
        |SELECT media_id, frame_idx::BIGINT AS frame_idx, md5(frame) AS frame_md5
        |FROM f ORDER BY media_id, frame_idx""".stripMargin)
}
