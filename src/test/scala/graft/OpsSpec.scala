package graft

import org.apache.spark.sql.functions._

import graft.ops.{Caches, Dedup, Multimodal, Similarity, TextOps}

/** Unit specs for the training-pipeline extension operators. */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  test("shingles: guard for short texts, distinct 3-grams") {
    val df = Seq((1L, "a b c d"), (2L, "a b"), (3L, "x x x x x")).toDF("doc_id", "text")
    val out = Dedup.withShingles(df).select("doc_id", "shingles")
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(out(1L) == Seq("a b c", "b c d"))
    assert(out(2L) == Seq())                 // shorter than n → empty, not reversed sequence
    assert(out(3L) == Seq("x x x"))          // distinct
  }

  test("exact dedup counts copies") {
    val df = Seq((1L, "same"), (2L, "same"), (3L, "other")).toDF("doc_id", "text")
    val out = Dedup.exact(df).select("keeper_id", "n_copies")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 2L, 3L -> 1L))
  }

  test("minhash finds planted near-dup and skips unrelated") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val near = (1 to 40).map(i => if (i == 20) "CHANGED" else s"tok$i").mkString(" ")
    val far = (100 to 140).map(i => s"zzz$i").mkString(" ")
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(df).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("simhash: near-dup hamming distance is small, unrelated is large") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val near = (1 to 60).map(i => if (i % 20 == 0) s"chg$i" else s"tok$i").mkString(" ")
    val far = (200 to 260).map(i => s"zzz$i").mkString(" ")
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
    val h = Dedup.simhash(df).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h(1L), h(2L)) < ham(h(1L), h(3L)))
    assert(ham(h(1L), h(2L)) <= 8)
  }

  test("cosine top-k: self-similar vector ranks first") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(emb, emb.filter($"vec_id" === 0), k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(out.toSeq.sorted == Seq((0L, 1, 1L), (0L, 2, 2L)))
  }

  test("ivf assigns to nearest centroid and searches within bucket") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),          // centroids
      (2L, Array(0.95f, 0.05f)), (3L, Array(0.1f, 0.9f)),
      (4L, Array(0.9f, 0.1f))).toDF("vec_id", "embedding")
    val assigned = Similarity.assignClusters(emb, emb.filter($"vec_id" < 2))
      .select("vec_id", "cluster").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(assigned(2L) == 0L && assigned(4L) == 0L && assigned(3L) == 1L)
    val out = Similarity.ivfTopK(emb, emb.filter($"vec_id" === 2), emb.filter($"vec_id" < 2), k = 2)
      .select("rk", "neighbor_id").collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(out == Set((1, 0L), (2, 4L)))   // bucket 0 members only, no 1L/3L
  }

  test("semantic dedup keeps the lowest-id member of each in-cluster dup group") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),           // centroids
      (2L, Array(0.99f, 0.01f)), (3L, Array(0.98f, 0.02f)),       // dups of centroid 0
      (4L, Array(0.05f, 0.95f)),                                  // dup of centroid 1
      (5L, Array(-0.9f, 0.1f))).toDF("vec_id", "embedding")       // cluster 1, no near dup
    val out = Similarity.semanticDedup(emb, emb.filter($"vec_id" < 2), thresholdPct = 95)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    // every vector appears exactly once, with its cluster
    assert(out.keySet == Set(0L, 1L, 2L, 3L, 4L, 5L))
    assert(out(2L)._1 == 0L && out(4L)._1 == 1L)
    // centroids keep (lowest ids of their groups); 2/3 lose to 0, 4 loses
    // to 1; 5 shares cluster 1 but sits below the threshold, so it keeps
    assert(out(0L)._2 && out(1L)._2 && out(5L)._2)
    assert(!out(2L)._2 && !out(3L)._2 && !out(4L)._2)
    // consistency with the pair surface: removed ids == distinct vec_b side
    val pairs = Similarity.nearDupPairs(emb, emb.filter($"vec_id" < 2), thresholdPct = 95)
      .select("vec_b").collect().map(_.getLong(0)).toSet
    assert(out.filterNot(_._2._2).keySet == pairs)
  }

  test("multi-probe IVF recall dominates single-probe") {
    val emb = Tables.embeddings(spark, Sf0001)
    val cent = emb.filter($"vec_id" < 8)
    val q = emb.filter($"vec_id" < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val brute = pairs(Similarity.bruteForceTopK(emb, q, 3))
    val p1 = pairs(Similarity.ivfTopK(emb, q, cent, 3))
    val p2 = pairs(Similarity.ivfTopKMultiProbe(emb, q, cent, 3, nprobe = 2))
    // a true top-3 hit found with one probe can never be lost by
    // probing MORE buckets (only globally-closer vectors can displace
    // it, and there are at most k-1 of those)
    assert((p1 intersect brute).subsetOf(p2 intersect brute))
    assert((p2 intersect brute).size >= (p1 intersect brute).size)
  }

  test("multi-probe IVF-PQ recall dominates single-probe, in the metric ADC ranks by") {
    // For RAW multi-probe IVF, recall dominance holds against true
    // distances (OpsSpec proves it above): scoring is exact, so an added
    // candidate displaces a true hit only by being truly closer. For PQ
    // the ranking metric is the ADC approximation, and a probe-2
    // candidate with smaller ADC but LARGER true distance can displace a
    // true hit — measured on this very corpus (a (query, true-hit) pair
    // present at nprobe = 1 falls out of the top-3 at nprobe = 2 under
    // the true-distance subset assertion), so true-distance recall is genuinely
    // non-monotone in nprobe and must not be asserted. What IS provable:
    // against the exhaustive-ADC ranking (the best any ADC index can
    // do), probing more DISJOINT buckets only adds candidates, and a
    // global-ADC-top-3 member found at probe 1 survives at probe 2 —
    // fewer than 3 candidates beat it globally, so fewer than 3 beat it
    // in any candidate subset.
    val emb = Tables.embeddings(spark, Sf0001)
    val book = emb.filter($"vec_id" < 8)
    val q = emb.filter($"vec_id" < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    // ONE centroid = one bucket holding the whole corpus = exhaustive
    // ADC ranking (codes and LUT depend on the codebook, not centroids)
    val adcBrute = pairs(Similarity.ivfPqTopK(emb, q,
      emb.filter($"vec_id" === 0L), book, k = 3))
    val p1 = pairs(Similarity.ivfPqTopK(emb, q, book, book, k = 3))
    val p2 = pairs(Similarity.ivfPqTopK(emb, q, book, book, k = 3, nprobe = 2))
    assert((p1 intersect adcBrute).subsetOf(p2 intersect adcBrute))
    assert((p2 intersect adcBrute).size >= (p1 intersect adcBrute).size)
    // the probe-2 window is doing real work on the DRIVER corpus:
    // strictly more ADC-true hits than single-probe. Fixture strength,
    // not the property — on generated CI embeddings probe 1 can
    // already catch every ADC-top-3 hit (strict gain measured 30 = 30
    // there), while the dominance assertions above hold universally.
    if (isDriverTestdata)
      assert((p2 intersect adcBrute).size > (p1 intersect adcBrute).size)
  }

  test("quality metrics and language id are deterministic") {
    val df = Seq((1L, "the quick brown fox the end", "en")).toDF("doc_id", "text", "lang")
    val q = TextOps.qualityMetrics(df).head
    assert(q.getAs[Int]("n_tokens") == 6)
    assert(q.getAs[Int]("n_stopwords") == 2)
    val l = TextOps.languageId(df).select("predicted").head.getString(0)
    assert(l == "en")
  }

  test("boilerplate strip cuts exactly the tokens under a frequent shingle") {
    // "cookie policy footer" planted in every doc; unique prose survives
    val docs = (1L to 4L).map(i =>
      (i, s"alpha$i beta$i gamma$i cookie policy footer delta$i")) :+
      (5L, "cookie policy footer") :+                  // all template
      (6L, "so tiny")                                  // < 3 tokens: untouched
    val df = docs.toDF("doc_id", "text")
    val out = Dedup.stripBoilerplate(df, dfCap = 3)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) == (("alpha1 beta1 gamma1 delta1", 4L, 3L)))
    assert(out(5L) == (("", 0L, 3L)))                  // fully stripped, row kept
    assert(out(6L) == (("so tiny", 2L, 0L)))
    assert(out.keySet == (1L to 6L).toSet)
  }

  test("gopher rules: each rule isolates its own failure mode") {
    val good = (1 to 25).map(i => s"word$i").mkString(" ") + " the a of"
    val short = "the a of tiny"                                  // < 20 words
    val longWords = (1 to 25).map(_ => "pneumonoultramicroscopic").mkString(" ") + " the a"
    val numeric = (1 to 22).map(_.toString).mkString(" ") + " the a of" // <80% alphabetic
    val noStops = (1 to 25).map(i => s"word$i").mkString(" ")    // 0 stopword hits
    val repeated = Array.fill(30)("spam ham eggs").mkString(" ") + " the a of"
    val df = Seq((1L, good), (2L, short), (3L, longWords), (4L, numeric),
      (5L, noStops), (6L, repeated)).toDF("doc_id", "text")
    val out = TextOps.gopherRules(df).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Boolean]("keep"))
    assert(!out(2L).getAs[Boolean]("rule_words") && out(2L).getAs[Boolean]("rule_alpha"))
    assert(!out(3L).getAs[Boolean]("rule_mean_len"))
    assert(!out(4L).getAs[Boolean]("rule_alpha") && out(4L).getAs[Boolean]("rule_words"))
    assert(!out(5L).getAs[Boolean]("rule_stops"))
    assert(!out(6L).getAs[Boolean]("rule_repetition"))
    assert(Seq(2L, 3L, 4L, 5L, 6L).forall(i => !out(i).getAs[Boolean]("keep")))
  }

  test("pii redaction: counts precede redaction, placeholders land in order") {
    val df = Seq(
      (1L, "mail me at jo.doe+x@corp.example.org or 10.0.0.7 call 555-0199"),
      (2L, "two mails a@b.io c@d.co one ip 192.168.1.1"),
      (3L, "clean text, no pii at all")).toDF("doc_id", "text")
    val out = TextOps.redactPii(df).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("n_emails") == 1 && out(1L).getAs[Long]("n_ips") == 1
      && out(1L).getAs[Long]("n_phones") == 1)
    assert(out(1L).getAs[String]("redacted")
      == "mail me at <EMAIL> or <IP> call <PHONE>")
    assert(out(2L).getAs[Long]("n_emails") == 2 && out(2L).getAs[Long]("n_ips") == 1)
    assert(out(2L).getAs[String]("redacted") == "two mails <EMAIL> <EMAIL> one ip <IP>")
    assert(out(3L).getAs[Long]("n_emails") == 0 && out(3L).getAs[Long]("n_ips") == 0
      && out(3L).getAs[Long]("n_phones") == 0)
    assert(out(3L).getAs[String]("redacted") == "clean text, no pii at all")
  }

  test("multimodal: decode and frame sampling preserve contract") {
    val docs = Tables.documents(spark, Sf0001).limit(10)
    val media = Multimodal.fromText(docs)
    assert(media.schema.fieldNames.toSeq == Seq("media_id", "content", "meta"))
    import spark.implicits._
    val feats = Multimodal.decode(media.as[Multimodal.MediaRow]).collect()
    assert(feats.length == 10)
    assert(feats.forall(f => f.n_bytes > 0 && f.n_frames == (f.n_bytes + 63) / 64))
    // text/plain is not an image: pixel fields must read "no decode"
    assert(feats.forall(f => f.width == -1 && f.luma_hist.isEmpty))
    val sampled = Multimodal.sampleFrames(media)
    val row = sampled.select($"media_id", size($"frames").as("n")).head
    assert(row.getInt(1) > 0)
    // the batched (Arrow-contract) variant yields identical features and
    // respects the batch bound even when it doesn't divide the partition
    val batched = Multimodal.decodeBatched(media.as[Multimodal.MediaRow],
      batchSize = 3).collect()
    // compare as tuples: the Array field inside the case class would
    // otherwise compare by reference
    def key(f: Multimodal.MediaFeatures) =
      (f.media_id, f.n_bytes, f.checksum, f.n_frames, f.mime,
        f.width, f.height, f.mean_r, f.mean_g, f.mean_b, f.luma_hist.toSeq)
    assert(batched.sortBy(_.media_id).map(key).toSeq ==
      feats.sortBy(_.media_id).map(key).toSeq)
    // resize fallback: non-image payloads land at exactly targetW·targetH
    // bytes via stride sampling, metadata tracks it, ids survive
    val resized = Multimodal.resize(media.as[Multimodal.MediaRow], 16, 8).collect()
    assert(resized.length == 10)
    assert(resized.forall(r => r.content.length == 128 && r.meta.sizeBytes == 128L))
    assert(resized.map(_.media_id).sorted.toSeq == feats.map(_.media_id).sorted.toSeq)
  }

  test("multimodal: real PNG decode via javax.imageio yields pixel-derived features") {
    import spark.implicits._
    // A 4×2 PNG with known pixels: left half pure red, right half pure
    // blue — generated in-test, decoded by the library on executors.
    def png(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w)
        img.setRGB(x, y, if (x < w / 2) 0xff0000 else 0x0000ff)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val rows = Seq(
      Multimodal.MediaRow(1L, png(4, 2), Multimodal.MediaMeta("image/png", 0L, "t")),
      Multimodal.MediaRow(2L, "not an image".getBytes("UTF-8"),
        Multimodal.MediaMeta("image/png", 0L, "t")), // corrupt payload
      Multimodal.MediaRow(3L, png(16, 16), Multimodal.MediaMeta("image/png", 0L, "t")))
    val out = Multimodal.decode(spark.createDataset(rows))
      .collect().map(f => f.media_id -> f).toMap
    val a = out(1L)
    assert(a.width == 4 && a.height == 2)
    // half red half blue: mean_r = mean_b = 127.5, mean_g = 0
    assert(a.mean_r == 127.5 && a.mean_g == 0.0 && a.mean_b == 127.5)
    // luma: red=76 (bin 4), blue=29 (bin 1), 4 px each
    assert(a.luma_hist.length == Multimodal.LumaBins)
    assert(a.luma_hist(1) == 4L && a.luma_hist(4) == 4L && a.luma_hist.sum == 8L)
    // corrupt bytes fall back to byte features instead of failing the task
    val bad = out(2L)
    assert(bad.width == -1 && bad.n_bytes == 12L)
    val big = out(3L)
    assert(big.width == 16 && big.height == 16 && big.luma_hist.sum == 256L)
  }

  test("dupShingleFraction separates boilerplate-sharing docs from unique docs") {
    import graft.ops.Dedup
    // three docs share a 9-token footer behind distinct 5-token prefixes;
    // two docs are fully unique. Shared-shingle math: 14 tokens → 12
    // 3-gram shingles, of which the 7 fully inside the footer appear in
    // all three docs; the 5 prefix/bridge shingles are doc-unique.
    val footer = (0 until 9).map(t => s"b$t").mkString(" ")
    val docs = ((0 until 3).map(i =>
      (i.toLong, (0 until 5).map(t => s"u${i}_$t").mkString(" ") + " " + footer)) ++
      (3 until 5).map(i =>
        (i.toLong, (0 until 14).map(t => s"x${i}_$t").mkString(" ")))).toDF("doc_id", "text")
    val got = Dedup.dupShingleFraction(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    (0 until 3).foreach { i =>
      assert(got(i.toLong) == ((12L, 7L, 7.0 / 12.0)), s"doc $i: ${got(i.toLong)}")
    }
    (3 until 5).foreach { i =>
      assert(got(i.toLong) == ((12L, 0L, 0.0)), s"doc $i: ${got(i.toLong)}")
    }
  }

  test("noveltyFraction credits first occurrence only") {
    import graft.ops.Dedup
    // same corpus shape as the dupShingleFraction fixture: docs 0-2
    // share a 9-token footer (7 shingles) behind unique 5-token
    // prefixes; docs 3-4 fully unique. Novelty: doc 0 owns the footer's
    // first occurrence → 12/12; docs 1-2 only their 5 prefix/bridge
    // shingles → 5/12; docs 3-4 → 12/12.
    val footer = (0 until 9).map(t => s"b$t").mkString(" ")
    val docs = ((0 until 3).map(i =>
      (i.toLong, (0 until 5).map(t => s"u${i}_$t").mkString(" ") + " " + footer)) ++
      (3 until 5).map(i =>
        (i.toLong, (0 until 14).map(t => s"x${i}_$t").mkString(" ")))).toDF("doc_id", "text")
    val got = Dedup.noveltyFraction(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(0L) == ((12L, 12L, 1.0)))
    (1 until 3).foreach(i => assert(got(i.toLong) == ((12L, 5L, 5.0 / 12.0))))
    (3 until 5).foreach(i => assert(got(i.toLong) == ((12L, 12L, 1.0))))
  }

  test("keepBestPerCluster keeps the longest member, not the lowest id; singletons survive") {
    import graft.ops.Dedup
    val short = (0 until 14).map(t => s"t$t").mkString(" ")
    val long = short + " t14 t15" // superset → Jaccard 12/14 > 0.5
    val docs = Seq(
      (1L, short, short.length.toLong),
      (2L, long, long.length.toLong),
      (3L, (0 until 20).map(t => s"z$t").mkString(" "), 99L)
    ).toDF("doc_id", "text", "n_chars")
    val got = Dedup.keepBestPerCluster(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    // cluster labeled by min id (1), but the KEEPER is the longer doc 2
    assert(got == Set((1L, 2L, 2L), (3L, 3L, 1L)), got.mkString(","))
  }

  test("containmentPairs finds the quote inside the long doc, in that direction only") {
    import graft.ops.Dedup
    // doc 0 = a 14-token "quote"; doc 1 = the quote + a 30-token tail;
    // doc 2 = unrelated. Quote has 12 shingles, ALL inside doc 1 →
    // containment 0→1 = 100%; doc 1 has 42 shingles of which only 12
    // are in doc 0 → 1→0 ≈ 29% (below the 80% bar). Jaccard 0↔1 =
    // 12/42 ≈ 29% — the pair ngramJaccardPairs would MISS at its 30%
    // default; containment is the signal that catches it.
    val quote = (0 until 14).map(t => s"q$t").mkString(" ")
    val tail = (0 until 30).map(t => s"t$t").mkString(" ")
    val docs = Seq(
      (0L, quote),
      (1L, quote + " " + tail),
      (2L, (0 until 40).map(t => s"z$t").mkString(" "))).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((0L, 1L, 12L, 12L)), got.mkString(","))
  }

  test("aHash: solid image through the scale path hashes all-ones; garbage doesn't decode") {
    import graft.ops.Multimodal
    // 16×16 solid color exercises the bilinear scale branch; every
    // scaled pixel equals the mean, so luma·n >= sum holds for all 64
    // bits → hash = -1L (all ones). Garbage bytes must flag, not throw.
    val img = new java.awt.image.BufferedImage(16, 16,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until 16).foreach(y => (0 until 16).foreach(x => img.setRGB(x, y, 0x40a070)))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val rows = Seq(
      Multimodal.MediaRow(1L, bos.toByteArray,
        Multimodal.MediaMeta("image/png", bos.size.toLong, "t")),
      Multimodal.MediaRow(2L, Array[Byte](1, 2, 3),
        Multimodal.MediaMeta("image/png", 3L, "t"))).toDS()
    val got = Multimodal.aHash(rows).collect().map(r => r.media_id -> r).toMap
    assert(got(1L).decoded && got(1L).ahash == -1L)
    assert(!got(2L).decoded)
  }

  test("audioHash: burst windows set the low bits; uniform track is all-ones; garbage flags") {
    import graft.ops.Multimodal
    val rows = Seq(
      // 3 active windows of amplitude 5000 → bits 0..2, abs_sum 5000·100·3
      Multimodal.MediaRow(1L, Multimodal.synthBurstWav(3, 8, 100, 5000),
        Multimodal.MediaMeta("audio/wav", 1L, "t")),
      // constant square wave: every window has equal |energy| → all 8 bits
      Multimodal.MediaRow(2L, Multimodal.synthSquareWav(10, 0.5, 800),
        Multimodal.MediaMeta("audio/wav", 1L, "t")),
      Multimodal.MediaRow(3L, Array[Byte](9, 9, 9),
        Multimodal.MediaMeta("audio/wav", 3L, "t"))).toDS()
    val got = Multimodal.audioHash(rows).collect().map(r => r.media_id -> r).toMap
    assert(got(1L).decoded && got(1L).ahash == 7L && got(1L).abs_sum == 5000L * 100 * 3)
    assert(got(2L).decoded && got(2L).ahash == 255L)
    assert(!got(3L).decoded)
  }

  test("curate: no exact dups survive, near-dup clusters keep one member, gate and split hold") {
    val docs = Tables.documents(spark, Sf0001)
    val out = graft.jobs.CurateCorpus.curate(docs).cache()
    try {
      val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids.nonEmpty && ids.subsetOf(
        docs.select("doc_id").collect().map(_.getLong(0)).toSet))
      // exact-dup free: every surviving text is unique
      assert(out.groupBy(md5($"text")).count().filter($"count" > 1).count() == 0)
      // every near-dup pair of the ORIGINAL corpus has at most one survivor
      val pairs = graft.ops.Dedup.minhashPairs(docs)
        .select("doc_a", "doc_b").collect()
      pairs.foreach { r =>
        assert(!(ids.contains(r.getLong(0)) && ids.contains(r.getLong(1))),
          s"both members of near-dup pair $r survived")
      }
      // gate + split shape
      assert(out.filter($"n_chars" < 100).count() == 0)
      assert(out.select("split").distinct().collect().map(_.getString(0)).toSet
        .subsetOf(Set("train", "val", "test")))
    } finally out.unpersist()
  }

  test("scd2 collapses runs, reopens on return, handles ties and singletons") {
    import graft.ops.Dimensions
    val log = Seq(
      // key 1: A,A (collapse), B, back to A (reopen — 3 intervals)
      (1L, "A", 10L, 100L), (1L, "A", 20L, 101L), (1L, "B", 30L, 102L), (1L, "A", 40L, 103L),
      // key 2: single row → one open interval
      (2L, "X", 5L, 104L),
      // key 3: two changes at ONE timestamp → deterministic zero-length
      // interval via the tie column
      (3L, "A", 10L, 105L), (3L, "B", 10L, 106L)
    ).toDF("k", "attr", "ts", "tie")
    val got = Dimensions.scd2(log, "k", "attr", "ts", "tie").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    assert(got == Set(
      (1L, "A", 10L, 30L), (1L, "B", 30L, 40L), (1L, "A", 40L, -1L),
      (2L, "X", 5L, -1L),
      (3L, "A", 10L, 10L), (3L, "B", 10L, -1L)))
  }

  test("scd2 treats NULL attribute values as first-class history states") {
    // ADVICE r6 (medium): with the old `__prev =!= attr` condition a
    // transition TO null was silently dropped (the comparison is null,
    // the filter removes the row) and consecutive nulls each re-passed
    // the `__prev.isNull` first-row arm, fabricating an interval per
    // unchanged null row. A CDC log where the attribute is nullable must
    // produce: null-run collapse, open-on-null-to-value, and
    // open-on-value-to-null.
    import graft.ops.Dimensions
    val log = Seq(
      // key 1: null, null (collapse), A, null (reopen), A — 4 intervals
      (1L, Option.empty[String], 10L, 100L), (1L, Option.empty[String], 20L, 101L),
      (1L, Option("A"), 30L, 102L), (1L, Option.empty[String], 40L, 103L),
      (1L, Option("A"), 50L, 104L),
      // key 2: starts non-null, changes to null and stays — 2 intervals
      (2L, Option("X"), 5L, 105L), (2L, Option.empty[String], 6L, 106L),
      (2L, Option.empty[String], 7L, 107L)
    ).toDF("k", "attr", "ts", "tie")
    val got = Dimensions.scd2(log, "k", "attr", "ts", "tie").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) "∅" else r.getString(1),
        r.getLong(2), if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    assert(got == Set(
      (1L, "∅", 10L, 30L), (1L, "A", 30L, 40L), (1L, "∅", 40L, 50L),
      (1L, "A", 50L, -1L),
      (2L, "X", 5L, 6L), (2L, "∅", 6L, -1L)))
  }

  test("corpusSplit is a stable pure function of the id: growth never migrates a doc") {
    import graft.ops.TextOps
    import java.security.MessageDigest
    def h16(id: Long): Long = {
      val hex = MessageDigest.getInstance("MD5").digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(4)
      java.lang.Long.parseLong(hex, 16)
    }
    def expected(id: Long): String =
      if (h16(id) * 1000 < 65536L * 900) "train"
      else if (h16(id) * 1000 < 65536L * 950) "val" else "test"
    val small = (0L until 200L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val grown = (0L until 1000L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val gotSmall = TextOps.corpusSplit(small).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val gotGrown = TextOps.corpusSplit(grown).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    gotSmall.foreach { case (id, s) => assert(s == expected(id)) }
    // growing the corpus must not move any existing doc's split
    assert(gotSmall.forall { case (id, s) => gotGrown(id) == s })
    val dist = gotGrown.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(dist("train") > 850 && dist("train") < 950, dist.toString)
    assert(dist.keySet == Set("train", "val", "test"))
  }

  test("importanceSample equals the exact recompute; max-weight rows always survive") {
    import graft.ops.TextOps
    import java.security.MessageDigest
    def h16(id: Long): Long = {
      val hex = MessageDigest.getInstance("MD5").digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(4)
      java.lang.Long.parseLong(hex, 16)
    }
    // weights 1..100 with several rows at the max
    val rows = (0L until 100L).map(i => (i, 1L + i % 100)) ++ Seq((200L, 100L), (201L, 100L))
    val docs = rows.toDF("doc_id", "n_chars")
    val expected = rows.filter { case (id, w) => h16(id) * 100 < 65536L * w }.toSet
    val got = TextOps.importanceSample(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected)
    // a max-weight row keeps with certainty (h16 < 65536 always)
    assert(got.contains((200L, 100L)) && got.contains((201L, 100L)))
    assert(got.size < rows.size, "must actually downsample")
  }

  test("profile: one pass yields exact per-column rows/nulls/distincts/min/max") {
    import graft.ops.DataQuality
    val df = Seq[(java.lang.Long, String)]((1L, "a"), (2L, "b"), (2L, null), (null, "a"))
      .toDF("k", "s")
    val got = DataQuality.profile(df, Seq("k", "s")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5)))).toMap
    assert(got("k") == ((4L, 3L, 2L, "1", "2")))
    assert(got("s") == ((4L, 3L, 2L, "a", "b")))
  }

  test("mixtureDownsample equals the exact md5-threshold recompute; minority group kept whole") {
    import graft.ops.TextOps
    import java.security.MessageDigest
    // skewed corpus: 40 docs in g1, 10 in g2 → g1 keeps at 25%, g2 at 100%
    val docs = ((0L until 40L).map((_, "g1")) ++ (100L until 110L).map((_, "g2")))
      .toDF("doc_id", "source")
    def h16(id: Long): Long = {
      val hex = MessageDigest.getInstance("MD5").digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(4)
      java.lang.Long.parseLong(hex, 16)
    }
    val expected = ((0L until 40L).filter(h16(_) * 40 < 65536 * 10).map((_, "g1")) ++
      (100L until 110L).filter(h16(_) * 10 < 65536 * 10).map((_, "g2"))).toSet
    val got = TextOps.mixtureDownsample(docs).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == expected)
    assert(got.count(_._2 == "g2") == 10, "minority group must be kept whole")
    val g1 = got.count(_._2 == "g1")
    assert(g1 > 0 && g1 < 40, s"majority group must be really downsampled, kept $g1")
  }

  test("chunkDocs covers every token, chunks agree with slices, quota is a stable cap") {
    import graft.ops.TextOps
    // doc lengths straddling every boundary case: shorter than one
    // window, exactly one window, one token over, multi-chunk
    val lens = Seq(1, 31, 32, 33, 56, 80, 200)
    val docs = lens.zipWithIndex.map { case (n, i) =>
      (i.toLong, (0 until n).map(t => s"w$t").mkString(" "))
    }.toDF("doc_id", "text")
    val chunks = TextOps.chunkDocs(docs, windowTokens = 32, strideTokens = 24)
      .collect().groupBy(_.getLong(0))
    lens.zipWithIndex.foreach { case (n, i) =>
      val cs = chunks(i.toLong).sortBy(_.getLong(1))
      // every doc emits >= 1 chunk; starts advance by the stride
      assert(cs.nonEmpty)
      cs.zipWithIndex.foreach { case (r, k) =>
        assert(r.getLong(1) == k && r.getLong(2) == k * 24L)
        // chunk_text is exactly the token slice it claims to be
        val want = (k * 24 until math.min(k * 24 + 32, n)).map(t => s"w$t").mkString(" ")
        assert(r.getString(4) == want, s"doc len $n chunk $k")
        assert(r.getLong(3) == math.min(32L, n - k * 24L))
      }
      // full coverage: the last chunk reaches the end of the doc
      val last = cs.last
      assert(last.getLong(2) + last.getLong(3) == n.toLong)
      // and the second-to-last chunk does NOT already reach the end
      // (no redundant trailing chunk)
      if (cs.length > 1) {
        val prev = cs(cs.length - 2)
        assert(prev.getLong(2) + 32 < n)
      }
    }

    // groupQuota: at most k rows per group, a subset of the input, and
    // byte-identical across invocations (hash order, not rand())
    val docs2 = Tables.documents(spark, Sf0001)
    val a = graft.ops.TextOps.groupQuota(docs2, k = 7)
      .select($"source", $"doc_id").collect().map(_.toSeq).toSet
    val b = graft.ops.TextOps.groupQuota(docs2, k = 7)
      .select($"source", $"doc_id").collect().map(_.toSeq).toSet
    assert(a == b)
    val perGroup = a.groupBy(_.head).map(_._2.size)
    assert(perGroup.forall(_ <= 7))
    val all = docs2.select($"source", $"doc_id").collect().map(_.toSeq).toSet
    assert(a.subsetOf(all))
  }

  test("two-phase sequence packing equals the single-window form") {
    import graft.ops.TextOps
    // the escape-hatch contract: bucketing by id range + per-bucket
    // windows + prefix-merged base offsets must reproduce the
    // single-window packing EXACTLY, for any bucket width
    val docs = Tables.documents(spark, Sf0001)
      .select($"doc_id", $"source",
        size(split($"text", " ")).cast("long").as("n_tokens"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val one = rows(TextOps.packSequences(docs))
    // multi-doc buckets, one-doc buckets, and a width past every id
    // (degenerates to the single-window form) all agree
    Seq(64L, 1L, 1000000L).foreach { w =>
      assert(rows(TextOps.packSequencesTwoPhase(docs, bucketWidth = w)) == one,
        s"bucketWidth=$w")
    }
  }

  test("multimodal: real image resize re-encodes at target dims with preserved color") {
    import spark.implicits._
    def png(w: Int, h: Int, rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val rows = Seq(
      Multimodal.MediaRow(1L, png(8, 8, 0x00ff00), Multimodal.MediaMeta("image/png", 0L, "t")),
      Multimodal.MediaRow(2L, "definitely not pixels".getBytes("UTF-8"),
        Multimodal.MediaMeta("image/png", 0L, "t"))) // corrupt → stride fallback
    val resized = Multimodal.resize(spark.createDataset(rows), 4, 4)
    // decode the RESIZED payloads: the green image must come back as a
    // real 4×4 PNG with its color intact (bilinear on a solid color is
    // exact); the corrupt one falls back to 16 stride-sampled bytes
    val feats = Multimodal.decode(resized).collect().map(f => f.media_id -> f).toMap
    val g = feats(1L)
    assert(g.width == 4 && g.height == 4)
    assert(math.abs(g.mean_g - 255.0) < 1.0 && g.mean_r < 1.0 && g.mean_b < 1.0)
    val bad = resized.collect().find(_.media_id == 2L).get
    assert(bad.content.length == 16 && bad.meta.sizeBytes == 16L)
  }

  test("multimodal: real WAV decode via javax.sound yields audio features") {
    import spark.implicits._
    // 1 s of 440 Hz sine at 8 kHz mono 16-bit PCM, generated in-test and
    // containerized as WAV by the JDK itself.
    def wav(freqHz: Double, amp: Double): Array[Byte] = {
      val rate = 8000f; val n = 8000
      val samples = new Array[Byte](n * 2)
      for (i <- 0 until n) {
        // StrictMath: bit-identical by spec across JVMs (Math.sin is 1-ulp)
        val v = (StrictMath.sin(2 * math.Pi * freqHz * i / rate) * amp * 32767).toInt.toShort
        samples(2 * i) = (v & 0xff).toByte // little-endian
        samples(2 * i + 1) = ((v >> 8) & 0xff).toByte
      }
      val fmt = new javax.sound.sampled.AudioFormat(rate, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(samples), fmt, n.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val rows = Seq(
      Multimodal.MediaRow(1L, wav(440.0, 0.5), Multimodal.MediaMeta("audio/wav", 0L, "t")),
      Multimodal.MediaRow(2L, wav(440.0, 0.0), Multimodal.MediaMeta("audio/wav", 0L, "t")),
      Multimodal.MediaRow(3L, "not audio at all".getBytes("UTF-8"),
        Multimodal.MediaMeta("audio/wav", 0L, "t")))
    val out = Multimodal.decodeAudio(spark.createDataset(rows))
      .collect().map(f => f.media_id -> f).toMap
    val tone = out(1L)
    assert(tone.sample_rate == 8000 && tone.channels == 1)
    assert(tone.n_samples == 8000L && tone.duration_ms == 1000L)
    // sine RMS = amp/sqrt(2); 440 Hz crosses zero 880 times per second
    assert(math.abs(tone.rms - 0.5 / math.sqrt(2)) < 0.01, tone.rms.toString)
    assert(math.abs(tone.zero_crossings - 880L) <= 2, tone.zero_crossings.toString)
    val silent = out(2L)
    assert(silent.rms == 0.0 && silent.zero_crossings == 0L)
    // corrupt payload: visible fallback, not a task failure
    assert(out(3L).sample_rate == -1)

    // stereo + big-endian AIFF exercises the channel-stride and
    // endianness paths: channel-0 features must match the mono tone
    val n = 8000
    val stereo = new Array[Byte](n * 4)
    for (i <- 0 until n) {
      val v = (StrictMath.sin(2 * math.Pi * 440.0 * i / 8000.0) * 0.5 * 32767).toInt.toShort
      stereo(4 * i) = ((v >> 8) & 0xff).toByte // big-endian ch0
      stereo(4 * i + 1) = (v & 0xff).toByte
      stereo(4 * i + 2) = 0; stereo(4 * i + 3) = 0 // silent ch1
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 2, true, true)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(stereo), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.AIFF, bos)
    val st = Multimodal.decodeAudio(spark.createDataset(Seq(
      Multimodal.MediaRow(4L, bos.toByteArray,
        Multimodal.MediaMeta("audio/aiff", 0L, "t"))))).collect().head
    assert(st.channels == 2 && st.sample_rate == 8000 && st.n_samples == 8000L)
    assert(math.abs(st.rms - 0.5 / math.sqrt(2)) < 0.01, st.rms.toString)
    assert(math.abs(st.zero_crossings - 880L) <= 2, st.zero_crossings.toString)
  }

  test("multimodal: square-wave WAV decodes to EXACT closed-form features") {
    import spark.implicits._
    // the audio_features oracle's contract: every decoded feature must
    // equal its closed form EXACTLY (==, no tolerance) — this is what
    // lets the query run under a full hash-match DuckDB oracle
    val cases = Seq((1L, 10, 0.05), (2L, 17, 0.5), (3L, 39, 0.84), (4L, 800, 0.3))
    val rows = cases.map { case (id, h, amp) =>
      Multimodal.MediaRow(id, Multimodal.synthSquareWav(h, amp, nSamples = 800),
        Multimodal.MediaMeta("audio/wav", 0L, "t"))
    }
    val out = Multimodal.decodeAudio(spark.createDataset(rows))
      .collect().map(f => f.media_id -> f).toMap
    cases.foreach { case (id, h, amp) =>
      val f = out(id)
      val a = (amp * 32767).toInt
      assert(f.sample_rate == 8000 && f.channels == 1)
      assert(f.n_samples == 800L && f.duration_ms == 100L)
      assert(f.rms == a / 32768.0, s"id=$id rms=${f.rms} != ${a / 32768.0}")
      assert(f.zero_crossings == 799L / h, s"id=$id zc=${f.zero_crossings}")
    }
  }

  test("multimodal: decompression-bomb header is rejected before raster allocation") {
    import spark.implicits._
    // A syntactically valid PNG signature + IHDR declaring a 10-gigapixel
    // canvas from a ~33-byte payload — the classic bomb shape. The header
    // guard must reject it from dimensions alone; ImageIO.read would
    // attempt a width*height raster (~40 GB) and kill the executor with
    // an OutOfMemoryError no Exception-catch can stop.
    def bombHeader(w: Int, h: Int): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val dos = new java.io.DataOutputStream(bos)
      dos.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
      val ihdr = new java.io.ByteArrayOutputStream()
      val d = new java.io.DataOutputStream(ihdr)
      d.writeBytes("IHDR"); d.writeInt(w); d.writeInt(h)
      d.write(8); d.write(2); d.write(0); d.write(0); d.write(0)
      val body = ihdr.toByteArray
      dos.writeInt(13)
      dos.write(body)
      val crc = new java.util.zip.CRC32(); crc.update(body)
      dos.writeInt(crc.getValue.toInt)
      bos.toByteArray
    }
    val rows = Seq(Multimodal.MediaRow(1L, bombHeader(100000, 100000),
      Multimodal.MediaMeta("image/png", 0L, "t")))
    val out = Multimodal.decode(spark.createDataset(rows)).collect()
    // rejected before decode: byte-level fallback, not an OOM
    assert(out.length == 1 && out.head.width == -1)
    val resized = Multimodal.resize(spark.createDataset(rows), 4, 4).collect()
    assert(resized.head.content.length == 16) // stride fallback, no raster
    // fallback rows are re-tagged: the 16 stride-sampled bytes are not a
    // PNG and must not claim to be one
    assert(resized.head.meta.mimeType == "application/octet-stream")
  }

  test("int8 quantization: reconstruction error bounded by half a quantization step") {
    val emb = Tables.embeddings(spark, Sf0001)
    val q = Similarity.quantizeInt8(emb)
    val orig = emb.select($"vec_id",
      posexplode($"embedding".cast("array<double>")).as(Seq("dim", "x")))
      .withColumn("dim", $"dim".cast("long"))
    val m = orig.groupBy($"vec_id").agg(max(abs($"x")).as("m"))
    val joined = q.join(orig, Seq("vec_id", "dim")).join(m, "vec_id")
      .withColumn("err", abs($"x" - $"q8" * $"m" / 127.0))
    // |x − q8·m/127| ≤ m/254 (round-half-up within ±0.5 step)
    val bad = joined.filter($"err" > $"m" / 254.0 + 1e-12).count()
    assert(bad == 0)
    // the max-magnitude element of every non-zero vector hits ±127
    val peaks = joined.filter(abs(abs($"x") - $"m") < 1e-15 && $"m" > 0)
      .filter(abs($"q8") =!= 127).count()
    assert(peaks == 0)
  }

  test("PQ codes: one code per (vector, subspace); codebook vectors self-assign") {
    val emb = Tables.embeddings(spark, Sf0001)
    val book = emb.filter($"vec_id" < 8)
    val codes = Similarity.pqCodes(emb, book, subspaces = 4)
    val n = emb.count()
    val rows = codes.collect()
    // exactly one code per (vector, subspace), codes drawn from the book
    assert(rows.length == n * 4)
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).distinct.length == rows.length)
    assert(rows.forall(r => r.getLong(2) >= 0 && r.getLong(2) < 8))
    // a codebook vector's nearest sub-centroid is itself (distance 0);
    // id tie-break could only override it if another book vector had an
    // IDENTICAL sub-vector, which this corpus does not
    rows.filter(_.getLong(0) < 8).foreach { r =>
      assert(r.getLong(2) == r.getLong(0), s"self-assignment broken: $r")
    }
    // deterministic across invocations
    val again = Similarity.pqCodes(emb, book, subspaces = 4).collect()
    assert(rows.map(_.toSeq).toSet == again.map(_.toSeq).toSet)
    // non-divisible subspaces must raise, not silently drop trailing
    // components (integer-division width) — same loud posture as the
    // SRP dims guard
    val e = intercept[Exception] {
      Similarity.pqCodes(emb, book, subspaces = 7).collect()
    }
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(t => t.getMessage != null && t.getMessage.contains("not divisible")),
      e.toString)
  }

  test("integer PageRank: K3 is an exact fixed point; path graph matches hand arithmetic") {
    import graft.ops.Graph
    // complete graph K3 (bidirected): every node keeps EXACTLY 10^6 —
    // inc = 2·(10^6 div 2) = 10^6, rank' = 150000 + (10^6·17) div 20
    // = 10^6 — for any number of rounds
    val k3 = Seq((1L,2L),(2L,1L),(1L,3L),(3L,1L),(2L,3L),(3L,2L)).toDF("src","dst")
    val k3ranks = Graph.pageRank(k3, iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(k3ranks == Map(1L -> 1000000L, 2L -> 1000000L, 3L -> 1000000L))
    // path 1—2—3 (bidirected), 2 rounds, floor arithmetic by hand:
    // r1 = (575000, 1850000, 575000); r2 = (936250, 1127500, 936250)
    val path = Seq((1L,2L),(2L,1L),(2L,3L),(3L,2L)).toDF("src","dst")
    val r2 = Graph.pageRank(path, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r2 == Map(1L -> 936250L, 2L -> 1127500L, 3L -> 936250L), r2.toString)
    // weighted: star 1→2 (w=3), 1→3 (w=1), one round by hand —
    // wsum(1)=4; contrib 750000/250000; ranks 787500/362500; source 150000
    val star = Seq((1L, 2L, 3L), (1L, 3L, 1L)).toDF("src", "dst", "w")
    val rw = Graph.pageRank(star, iters = 1, weightCol = "w")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Caches.releaseAll()
    assert(rw == Map(1L -> 150000L, 2L -> 787500L, 3L -> 362500L), rw.toString)
  }

  test("BFS hops: exact distances on a path; unreached nodes absent") {
    import graft.ops.Graph
    // path 1→2→3→4→5 (directed): from seed 1, 3 rounds reach node 4 at
    // hop 3; node 5 stays absent
    val path = Seq((1L,2L),(2L,3L),(3L,4L),(4L,5L)).toDF("src","dst")
    val seeds = Seq(Tuple1(1L)).toDF("node")
    val hops = Graph.bfsHops(path, seeds, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hops == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L), hops.toString)
    // a second seed shortens distances through the min-fold
    val hops2 = Graph.bfsHops(path, Seq(Tuple1(1L), Tuple1(4L)).toDF("node"), rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Caches.releaseAll()
    assert(hops2 == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 0L, 5L -> 1L), hops2.toString)
  }

  test("triangle counts: K4 exact, path triangle-free, direction/duplicate-proof") {
    import graft.ops.Graph
    // K4: 4 triangles, every node on exactly 3 — fed as a MESSY edge
    // list (reversed directions, duplicates) to prove canonicalization
    val k4 = Seq((1L,2L),(2L,1L),(3L,1L),(1L,4L),(2L,3L),(4L,2L),(2L,4L),(3L,4L),(4L,3L))
      .toDF("src","dst")
    val counts = Graph.triangleCounts(k4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), counts.toString)
    // a path has no triangles: empty output, not zero-count rows
    val path = Seq((1L,2L),(2L,3L),(3L,4L)).toDF("src","dst")
    assert(Graph.triangleCounts(path).count() == 0)
  }

  test("assignToTrained on seed centroids equals the direct quantized assignment") {
    val emb = Tables.embeddings(spark, Sf0001)
    val seeds = emb.filter($"vec_id" < 8)
    // exploded (cluster, dim, comp) form of the UNtrained seeds — the
    // same layout kmeansTrain emits — must reproduce the one-shot
    // quantized argmin exactly (repack is lossless, no float detour)
    val exploded = Similarity.quantVectors(seeds, "vec_id", "embedding", "cluster")
      .select($"cluster", posexplode($"__qv").as(Seq("dim", "comp")))
    val viaTrained = Similarity.assignToTrained(emb, exploded)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val direct = Similarity.assignClustersL2(emb, seeds)
      .select($"vec_id", $"cluster")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaTrained == direct)
    // and composing with the real trainer refines the objective: total
    // within-cluster d2 after 3 Lloyd rounds must not exceed the seed
    // assignment's (Lloyd is monotone non-increasing)
    val trained = Similarity.kmeansTrain(emb, seeds, maxIter = 3,
      requireConvergence = false).centroids
    val d2After = Similarity.assignToTrained(emb, trained)
      .agg(sum($"d2")).head().getLong(0)
    val d2Before = Similarity.assignToTrained(emb, exploded)
      .agg(sum($"d2")).head().getLong(0)
    Caches.releaseAll()
    assert(d2After <= d2Before, s"Lloyd worsened the objective: $d2After > $d2Before")
  }

  test("PQ near-dup blocking: pairs share full code tuples and pass the exact cosine bar") {
    val emb = Tables.embeddings(spark, Sf0001)
    val book = emb.filter($"vec_id" < 8)
    val pairs = Similarity.pqNearDupPairs(emb, book, thresholdPct = 42, subspaces = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.nonEmpty)
    assert(pairs.forall { case (a, b) => a < b })
    // blocking soundness: both members of every pair carry the SAME
    // ordered code tuple
    val key = Similarity.pqCodes(emb, book, subspaces = 2)
      .collect().groupBy(_.getLong(0))
      .map { case (id, rs) =>
        id -> rs.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq }
    pairs.foreach { case (a, b) =>
      assert(key(a) == key(b), s"pair ($a, $b) crosses code blocks") }
    // verification soundness: every pair is a subset of the brute-force
    // above-threshold set (no false positives; misses are the doc'd
    // LSH recall trade)
    val brute = {
      val rows = emb.select($"vec_id", $"embedding".cast("array<double>"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1))
      def cos(x: Seq[Double], y: Seq[Double]): Double = {
        val d = x.zip(y).map { case (p, q) => p * q }.sum
        d / (math.sqrt(x.map(v => v * v).sum) * math.sqrt(y.map(v => v * v).sum))
      }
      (for { (ia, va) <- rows; (ib, vb) <- rows if ia < ib
             if cos(va, vb) * 100 > 42 } yield (ia, ib)).toSet
    }
    assert(pairs.subsetOf(brute),
      s"false positives: ${pairs.diff(brute).take(5)}")
  }

  test("IVF-PQ ADC: k per query, no self, equals a from-scratch ADC recompute") {
    val emb = Tables.embeddings(spark, Sf0001)
    val book = emb.filter($"vec_id" < 8)
    val res = Similarity.ivfPqTopK(emb, emb.filter($"vec_id" < 10), book, book, k = 3).collect()
    val byQuery = res.groupBy(_.getLong(0))
    assert(byQuery.keySet == (0L until 10L).toSet)
    byQuery.values.foreach { rows =>
      assert(rows.map(_.getLong(1)).sorted.toSeq == Seq(1L, 2L, 3L))
    }
    assert(res.forall(r => r.getLong(0) != r.getLong(2)), "self-match leaked")
    // recompute the ENTIRE ADC top-3 from first principles in Scala:
    // bucket = the library's coarse assignment, codes = the library's PQ
    // codes (both independently pinned — pq_codes oracle, k-means spec),
    // but the LUT math, bucket confinement, ADC sum, and (adc, id)
    // ranking are all re-derived here
    val quant: Map[Long, Array[Long]] = emb.collect().map(r => r.getLong(0) ->
      r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1e6).toLong).toArray).toMap
    val codes = Similarity.pqCodes(emb, book).collect()
      .map(r => (r.getLong(0), r.getLong(1).toInt) -> r.getLong(2)).toMap
    val cluster = Similarity.assignClustersL2(emb, book)
      .select($"vec_id", $"cluster").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def sub(v: Array[Long], s: Int) = v.slice(s * 16, (s + 1) * 16)
    def l2(a: Array[Long], b: Array[Long]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val expected = (0L until 10L).flatMap { q =>
      val cands = quant.keys.filter(v => v != q && cluster(v) == cluster(q))
      val scored = cands.map { v =>
        val adc = (0 until 4).map(s => l2(sub(quant(q), s), sub(quant(codes((v, s))), s))).sum
        (adc, v)
      }.toSeq.sorted.take(3)
      scored.zipWithIndex.map { case ((adc, v), i) => (q, i + 1L, v, adc) }
    }.toSet
    assert(res.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet == expected)
  }

  test("k-means step: equals a from-scratch Scala Lloyd update on the full corpus") {
    val emb = Tables.embeddings(spark, Sf0001)
    val res = Similarity.kmeansStep(emb, emb.filter($"vec_id" < 8)).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val all = emb.collect().map(r => r.getLong(0) ->
      r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1e6).toLong).toArray)
    val seeds = all.filter(_._1 < 8).toMap
    val expected = scala.collection.mutable.Map.empty[(Long, Long), (Long, Long)]
    all.foreach { case (_, v) =>
      val cluster = seeds.toSeq.map { case (cid, c) =>
        (v.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum, cid)
      }.min._2
      v.zipWithIndex.foreach { case (comp, d) =>
        val k = (cluster, d.toLong)
        val (s, n) = expected.getOrElse(k, (0L, 0L))
        expected(k) = (s + comp, n + 1)
      }
    }
    assert(res == expected.toMap)
  }

  test("k-means trainer: round 1 equals kmeansStep's exact floor means") {
    // the composition contract: one trainer round IS the oracled update
    // statistic, floor-divided in pure integer arithmetic
    val emb = Tables.embeddings(spark, Sf0001)
    val seeds = emb.filter($"vec_id" < 8)
    val t = Similarity.kmeansTrain(emb, seeds, maxIter = 1,
        requireConvergence = false).centroids.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val s = Similarity.kmeansStep(emb, seeds).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        Math.floorDiv(r.getLong(2), r.getLong(3))).toMap
    assert(s.nonEmpty && s.forall { case (k, v) => t.get(k).contains(v) },
      "trainer round 1 diverged from the step statistic")
    Caches.releaseAll()
  }

  test("k-means trainer stops at the fixed point, not the budget") {
    // seeds == corpus: every vector is its own nearest centroid and the
    // round-1 update reproduces the seeds exactly → movement 0 after one
    // round; the 5-round budget must NOT be spent
    val pts = Seq((0L, Array(0.0f, 0.0f)), (1L, Array(1.0f, 2.0f)),
      (2L, Array(-3.0f, 4.0f))).toDF("vec_id", "embedding")
    val r = Similarity.kmeansTrain(pts, pts, maxIter = 5)
    assert(r.converged && r.iterations == 1 && r.lastMovementMicros == 0L)
    val cents = r.centroids.collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(2)).toMap
    assert(cents((2L, 0L)) == -3000000L && cents((2L, 1L)) == 4000000L)
    Caches.releaseAll()
  }

  test("k-means trainer fails loudly on a too-small budget; opt-out is explicit") {
    // one seed between two points: round 1 moves the centroid to the
    // floor-mean (5e6 micros) — maxIter = 1 cannot reach movement 0
    val pts = Seq((0L, Array(0.0f)), (1L, Array(10.0f))).toDF("vec_id", "embedding")
    val seeds = pts.filter($"vec_id" === 0L)
    val e = intercept[IllegalStateException](
      Similarity.kmeansTrain(pts, seeds, maxIter = 1))
    assert(e.getMessage.contains("did not converge"))
    // the CC discipline: an explicit fixed budget returns honest metadata
    val r = Similarity.kmeansTrain(pts, seeds, maxIter = 1,
      requireConvergence = false)
    assert(!r.converged && r.iterations == 1 && r.lastMovementMicros == 5000000L)
    assert(r.centroids.collect().map(_.getLong(2)).toSeq == Seq(5000000L))
    Caches.releaseAll()
  }

  test("SRP bits: 16 bits per vector, values in {0,1}, deterministic") {
    val emb = Tables.embeddings(spark, Sf0001).limit(50)
    val bits = Similarity.srpBits(emb).collect()
    assert(bits.length == 50 * 16)
    assert(bits.forall(r => r.getLong(2) == 0L || r.getLong(2) == 1L))
    val again = Similarity.srpBits(emb).collect()
    assert(bits.map(_.toSeq).toSet == again.map(_.toSeq).toSet)
  }

  test("SRP raises loudly on embeddings wider than the configured dims") {
    // Regression guard: before the raise_error guard, a >256-dim vector
    // sliced against the 256-wide hyperplane matrix, zip_with padded with
    // nulls, the projection folded to NULL, and EVERY bit silently came
    // out 0 — garbage signatures with no error.
    val wide = spark.range(3).select($"id".as("vec_id"),
      transform(sequence(lit(0), lit(299)), d => d.cast("double") / 300.0)
        .as("embedding"))
    val err = intercept[Exception] { Similarity.srpBits(wide).collect() }
    assert(err.getMessage.contains("dims"), err.getMessage)
    val errC = intercept[Exception] { Similarity.srpBitsCentered(wide).collect() }
    assert(errC.getMessage.contains("dims"), errC.getMessage)
    // exactly at the bound still works
    val atBound = spark.range(3).select($"id".as("vec_id"),
      transform(sequence(lit(0), lit(255)), d => d.cast("double") / 256.0 - 0.5)
        .as("embedding"))
    assert(Similarity.srpBits(atBound).count() == 3 * 16)
  }

  test("SRP processes standard 384-dim embeddings end-to-end with dims parameter") {
    // Round-5 verdict item 3: 256 < common embedding widths (384/768) —
    // the dim is known at call time, so the matrix is built from a dims
    // parameter. A 384-dim corpus with planted near-duplicates must flow
    // green through srpBits AND srpNearDupPairs, and the blocking must
    // still find the planted pair.
    import spark.implicits._
    val d384 = 384
    // 20 pseudo-random base vectors + one near-copy of vector 0
    def component(id: Long, d: Int): Double = {
      val h = (id * 1000003L + d * 7919L) * 2654435761L
      (((h >>> 16) & 0xffff).toDouble / 65535.0) - 0.5
    }
    val vecs = (0L until 20L).map(id => (id, Seq.tabulate(d384)(component(id, _)))) :+
      (100L, Seq.tabulate(d384)(d => component(0L, d) + (if (d == 0) 0.001 else 0.0)))
    val corpus = vecs.toDF("vec_id", "embedding").cache()
    try {
      // default 256-wide matrix refuses; dims=384 processes
      val err = intercept[Exception] { Similarity.srpBits(corpus).collect() }
      assert(err.getMessage.contains("dims"), err.getMessage)
      val bits = Similarity.srpBits(corpus, dims = d384)
      assert(bits.count() == 21 * 16)
      assert(bits.collect().forall(r => r.getLong(2) == 0L || r.getLong(2) == 1L))
      val pairs = Similarity.srpNearDupPairs(corpus, thresholdPct = 95, dims = d384)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs.contains((0L, 100L)), s"planted 384-dim near-dup not found: $pairs")
      // centered variant also runs at 384 dims
      assert(Similarity.srpBitsCentered(corpus, dims = d384).count() == 21 * 16)
    } finally corpus.unpersist()
  }

  test("centered SRP collapses the collision rate of a mean-shifted corpus") {
    // Plant the failure mode: a per-component shift far above the
    // corpus's own component scale makes all vectors near-parallel to
    // the mean, origin hyperplanes assign them nearly identical bits,
    // and banding stops blocking. Centering must restore the blocking
    // rate of the unshifted corpus. The shift is 20x the mean |x| so
    // the collapse is corpus-independent — a fixed +1.0 failed to
    // dominate the generated CI embeddings' larger components.
    val emb = Tables.embeddings(spark, Sf0001)
    val compScale = emb
      .select(explode($"embedding".cast("array<double>")).as("x"))
      .agg(avg(abs($"x"))).head.getDouble(0)
    val shift = 20.0 * compScale
    val biased = emb.withColumn("embedding",
      transform($"embedding".cast("array<double>"), x => x + lit(shift)))
    val nVec = emb.count()
    def candRate(bits: org.apache.spark.sql.DataFrame): Double = {
      val bands = Similarity.srpBands(bits, bandBits = 8)
      val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.band_sig") === col("b.band_sig") &&
          col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id"), col("b.vec_id")).distinct().count()
      cand.toDouble / (nVec * (nVec - 1) / 2)
    }
    val shiftedRaw = candRate(Similarity.srpBits(biased))
    val shiftedCentered = candRate(Similarity.srpBitsCentered(biased))
    val baseline = candRate(Similarity.srpBits(emb))
    info(f"candidate rate: shifted=$shiftedRaw%.3f centered=$shiftedCentered%.3f baseline=$baseline%.3f")
    assert(shiftedRaw > 0.5, s"bias should collapse blocking, got $shiftedRaw")
    assert(shiftedCentered < shiftedRaw / 10,
      s"centering should restore blocking: $shiftedCentered vs $shiftedRaw")
    // centered bits are balanced even on the shifted corpus
    val mean = Similarity.srpBitsCentered(biased)
      .agg(avg(col("bit_val"))).head.getDouble(0)
    assert(mean > 0.35 && mean < 0.65, s"bit mean $mean")
  }

  test("SRP near-dup pairs all verify above the cosine threshold") {
    val emb = Tables.embeddings(spark, Sf0001)
    val pairs = Similarity.srpNearDupPairs(emb, thresholdPct = 30)
    val e = emb.select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val checked = pairs
      .join(e.select($"vec_id".as("vec_a"), $"v".as("va")), "vec_a")
      .join(e.select($"vec_id".as("vec_b"), $"v".as("vb")), "vec_b")
      .withColumn("cos", Similarity.cosine($"va", $"vb"))
      .collect()
    assert(checked.nonEmpty) // probed: 37 verified pairs at sf0.001
    assert(checked.forall(_.getAs[Double]("cos") * 100 > 30))
    // canonical orientation, no self-pairs
    assert(checked.forall(r => r.getAs[Long]("vec_a") < r.getAs[Long]("vec_b")))
  }

  test("TopK aggregator equals window row_number top-k") {
    import graft.ops.TopK
    val li = Tables.lineitem(spark, Sf0001)
    val viaAgg = li.groupBy($"l_returnflag")
      .agg(TopK.topKUdaf(3)($"l_extendedprice", $"l_orderkey").as("topk"))
      .select($"l_returnflag", explode($"topk").as("t"))
      .select($"l_returnflag", $"t._1".as("score"), $"t._2".as("key"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"l_returnflag").orderBy($"l_extendedprice".desc, $"l_orderkey")
    val viaWindow = li
      .withColumn("rk", row_number().over(w)).filter($"rk" <= 3)
      .select($"l_returnflag", $"l_extendedprice", $"l_orderkey")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(viaAgg == viaWindow)
  }

  test("native DotProduct expression equals HOF dot product bit-for-bit") {
    import graft.expressions.DotProduct.dotNative
    val emb = Tables.embeddings(spark, Sf0001)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val both = emb.select($"vec_id",
        dotNative($"v", $"v").as("native"),
        graft.ops.Similarity.dot($"v", $"v").as("hof"))
      .withColumn("eq", $"native" === $"hof")
    assert(both.filter(!$"eq").count() == 0)
    // and alone it stays inside a codegen stage (starred project), unlike
    // the HOF version whose lambda forces an interpreted projection
    val nativeOnly = emb.select(dotNative($"v", $"v").as("d"))
    val planLine = nativeOnly.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("dotproduct")).getOrElse("")
    assert(planLine.trim.startsWith("*"), planLine)
  }

  test("IntL2 native matches the HOF fold, incl. null / unequal-length / overflow") {
    import graft.expressions.IntL2.intL2Native
    spark.conf.set("spark.sql.codegen.fallback", "false")
    def hofL2(a: org.apache.spark.sql.Column,
        b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, x) => acc + x)
    val df = spark.range(4).select($"id",
      when($"id" === 3, lit(null).cast("array<bigint>"))
        .when($"id" === 2, array(lit(1L), lit(null).cast("bigint")))
        .when($"id" === 1, array(lit(1L), lit(2L), lit(5L)))
        .otherwise(array(lit(1L), lit(5L))).as("a"),
      array(lit(3L), lit(1L)).as("b"))
    val rows = df.select($"id",
        intL2Native($"a", $"b").as("n"), hofL2($"a", $"b").as("h"))
      .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2))))
    rows.foreach { case (id, n, h) => assert(n == h, s"id=$id native=$n hof=$h") }
    assert(rows.find(_._1 == 0L).get._2 == Some(20L)) // (1-3)² + (5-1)²
    assert(rows.filter(_._1 > 0).forall(_._2.isEmpty))
    // real-corpus bit equality + codegen residency
    val emb = Tables.embeddings(spark, Sf0001).select($"vec_id",
      transform($"embedding".cast("array<double>"),
        x => floor(x * lit(1000000.0)).cast("long")).as("q"))
    val both = emb.select(intL2Native($"q", $"q").as("n"), hofL2($"q", $"q").as("h"))
    assert(both.filter($"n" =!= $"h").count() == 0)
    val planLine = emb.select(intL2Native($"q", $"q").as("d"))
      .queryExecution.executedPlan.toString
      .linesIterator.find(_.toLowerCase.contains("intl2")).getOrElse("")
    assert(planLine.trim.startsWith("*"), planLine)
    // ANSI parity on overflow: both forms must refuse (not wrap) in an
    // ANSI session — the default since Spark 4
    if (spark.conf.get("spark.sql.ansi.enabled") == "true") {
      def overflowCondition(t: Throwable): Boolean =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null).exists {
          case st: org.apache.spark.SparkThrowable =>
            st.getCondition == "ARITHMETIC_OVERFLOW"
          case _ => false
        }
      val big = spark.range(1).select(
        array(lit(Long.MaxValue), lit(0L)).as("a"), array(lit(-2L), lit(0L)).as("b"))
      // not just "some exception": the SAME SparkThrowable condition ANSI
      // arithmetic raises, so SparkThrowable handlers can't tell the
      // native path from the HOF
      assert(overflowCondition(intercept[Exception] {
        big.select(intL2Native($"a", $"b")).collect() }))
      assert(overflowCondition(intercept[Exception] {
        big.select(hofL2($"a", $"b")).collect() }))
      // element-order parity: an overflow AFTER a null element still
      // throws in both forms — zip_with evaluates every pair before the
      // fold sees anything, and the native loop replays that
      val nullThenBig = spark.range(1).select(
        array(lit(null).cast("bigint"), lit(Long.MaxValue)).as("a"),
        array(lit(0L), lit(-2L)).as("b"))
      assert(overflowCondition(intercept[Exception] {
        nullThenBig.select(intL2Native($"a", $"b")).collect() }))
      assert(overflowCondition(intercept[Exception] {
        nullThenBig.select(hofL2($"a", $"b")).collect() }))
    }
    spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("IntL2 strength reduction rewrites the HOF squared-L2 and preserves values") {
    import graft.expressions.IntL2StrengthReduction
    val emb = Tables.embeddings(spark, Sf0001).select($"vec_id",
      transform($"embedding".cast("array<double>"),
        x => floor(x * lit(1000000.0)).cast("long")).as("q"))
    val hof = emb.select($"vec_id",
      aggregate(zip_with($"q", $"q", (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, x) => acc + x).as("d"))
    val analyzed = hof.queryExecution.analyzed
    val rewritten = IntL2StrengthReduction(analyzed)
    assert(rewritten.expressions.exists(
      _.exists(_.isInstanceOf[graft.expressions.IntL2])), rewritten.toString)
    val before = hof.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val after = org.apache.spark.sql.graftbridge.Bridge.dataFrame(spark, rewritten)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(before == after)
    // a plain sum-of-squares (no subtraction) is left untouched
    val other = emb.select(aggregate(zip_with($"q", $"q", (x, y) => x * y),
      lit(0L), (acc, x) => acc + x).as("s"))
    val untouched = IntL2StrengthReduction(other.queryExecution.analyzed)
    assert(!untouched.expressions.exists(
      _.exists(_.isInstanceOf[graft.expressions.IntL2])))
    // ANSI lambdas must stay ANSI through the rewrite: the HOF throws on
    // (Long.MaxValue - (-2)), so the rewritten plan must throw too, not
    // wrap to 1
    graft.queries.QueryHarness.withConf(spark, "spark.sql.ansi.enabled" -> "true") {
      val big = spark.range(1).select(
        array(lit(Long.MaxValue), lit(0L)).as("a"), array(lit(-2L), lit(0L)).as("b"))
        .select(aggregate(zip_with($"a", $"b", (x, y) => (x - y) * (x - y)),
          lit(0L), (acc, x) => acc + x).as("d"))
      val bigRewritten = IntL2StrengthReduction(big.queryExecution.analyzed)
      assert(bigRewritten.expressions.exists(
        _.exists(_.isInstanceOf[graft.expressions.IntL2])), bigRewritten.toString)
      val e = intercept[Exception] {
        org.apache.spark.sql.graftbridge.Bridge.dataFrame(spark, bigRewritten).collect()
      }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).exists {
        case st: org.apache.spark.SparkThrowable =>
          st.getCondition == "ARITHMETIC_OVERFLOW"
        case _ => false
      }, e.toString)
    }
  }

  test("IntersectSize equals size(array_intersect) incl. duplicates and null elements") {
    // driver-computed expected (independent of either engine path):
    // |distinct ∩ distinct| with null counting iff BOTH sides carry one
    def expected(a: Seq[String], b: Seq[String]): Int = {
      val common = a.filter(_ != null).distinct.intersect(b.filter(_ != null).distinct).size
      common + (if (a.contains(null) && b.contains(null)) 1 else 0)
    }
    val rnd = new scala.util.Random(7)
    val fixtures = Seq(
      (Seq("a", "b", "c"), Seq("b", "c", "d")),
      (Seq("a", "a", "b", "b"), Seq("a", "b", "a")),          // duplicates both sides
      (Seq[String](null, "x", null), Seq("x", null)),         // nulls both sides → +1
      (Seq[String](null, null), Seq("y")),                    // null one side only
      (Seq.empty[String], Seq("a")),                          // empty
      (Seq("q"), Seq.empty[String])) ++
      (1 to 20).map { _ =>
        def arr = Seq.fill(rnd.nextInt(12))(
          if (rnd.nextInt(10) == 0) null else s"t${rnd.nextInt(6)}")
        (arr, arr.reverse ++ arr.take(rnd.nextInt(3)))
      }
    val df = fixtures.zipWithIndex
      .map { case ((a, b), i) => (i.toLong, a, b) }.toDF("id", "a", "b")
    val got = df.select($"id",
      graft.expressions.IntersectSize.intersectSizeNative($"a", $"b").as("n"),
      graft.expressions.UnionSize.unionSizeNative($"a", $"b").as("u"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    def expectedUnion(a: Seq[String], b: Seq[String]): Int =
      (a.filter(_ != null) ++ b.filter(_ != null)).distinct.size +
        (if (a.contains(null) || b.contains(null)) 1 else 0)
    fixtures.zipWithIndex.foreach { case ((a, b), i) =>
      assert(got(i.toLong)._1 == expected(a, b), s"intersect fixture $i: $a vs $b")
      assert(got(i.toLong)._2 == expectedUnion(a, b), s"union fixture $i: $a vs $b")
    }
    // the unary member: distinct count with null-kept-once semantics
    val gotD = df.select($"id",
      graft.expressions.DistinctSize.distinctSizeNative($"a").as("d"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    fixtures.zipWithIndex.foreach { case ((a, _), i) =>
      val want = a.filter(_ != null).distinct.size + (if (a.contains(null)) 1 else 0)
      assert(gotD(i.toLong) == want, s"distinct fixture $i: $a")
    }
    // null ARRAY → null, matching non-legacy size(array_intersect(null, x))
    val withNull = Seq((1L, null, Seq("a")))
      .toDF("id", "a", "b")
      .select(graft.expressions.IntersectSize.intersectSizeNative(
        $"a".cast("array<string>"), $"b").as("n"))
    assert(withNull.collect().head.isNullAt(0))
  }

  test("IntersectSize rule rewrites counting forms; overlap keeps the >0 predicate") {
    // the shared test session carries no extensions, so rules apply
    // manually in their GraftExtensions registration order (the IntL2/
    // DotProduct test pattern): Overlap first, then IntersectSize
    import graft.expressions.{IntersectSizeStrengthReduction, OverlapStrengthReduction}
    def chain(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      IntersectSizeStrengthReduction(OverlapStrengthReduction(p))
    val docs = Tables.documents(spark, Sf0001)
      .select($"doc_id", split($"text", " ").as("toks")) // containsNull = false
    val counting = docs.as("x").join(docs.as("y"), $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id", size(array_intersect($"x.toks", $"y.toks")).as("inter"),
        size(array_union($"x.toks", $"y.toks")).as("uni"),
        size(array_distinct($"x.toks")).as("nd"))
    val rewritten = chain(counting.queryExecution.optimizedPlan)
    assert(rewritten.expressions.exists(
      _.exists(_.isInstanceOf[graft.expressions.IntersectSize])), rewritten.toString)
    assert(rewritten.expressions.exists(
      _.exists(_.isInstanceOf[graft.expressions.UnionSize])), rewritten.toString)
    assert(rewritten.expressions.exists(
      _.exists(_.isInstanceOf[graft.expressions.DistinctSize])), rewritten.toString)
    // and the rewrite preserves every value (built-in chain vs native)
    val before = counting.limit(500).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3))).sorted.toSeq
    val after = org.apache.spark.sql.graftbridge.Bridge.dataFrame(spark,
        chain(counting.limit(500).queryExecution.optimizedPlan))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3))).sorted.toSeq
    assert(before == after)
    // a >0 EXISTENCE predicate on non-nullable elements goes to the
    // short-circuiting ArraysOverlap, NOT the counting expression
    val exists = docs.as("x").join(docs.as("y"), $"x.doc_id" < $"y.doc_id")
      .filter(size(array_intersect($"x.toks", $"y.toks")) > 0)
    val both = chain(exists.queryExecution.optimizedPlan)
    assert(both.expressions.exists(
      _.exists(_.isInstanceOf[
        org.apache.spark.sql.catalyst.expressions.ArraysOverlap])), both.toString)
    assert(!both.expressions.exists(
      _.exists(_.isInstanceOf[graft.expressions.IntersectSize])), both.toString)
  }

  test("strength-reduction rule rewrites the HOF dot product to DotProduct") {
    import graft.expressions.DotProductStrengthReduction
    val emb = Tables.embeddings(spark, Sf0001)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val hof = emb.select($"vec_id", graft.ops.Similarity.dot($"v", $"v").as("d"))
    val analyzed = hof.queryExecution.analyzed
    val rewritten = DotProductStrengthReduction(analyzed)
    assert(rewritten.expressions.exists(
      _.exists(_.isInstanceOf[graft.expressions.DotProduct])), rewritten.toString)
    // the rewritten plan computes bit-identical values
    val before = hof.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val after = org.apache.spark.sql.graftbridge.Bridge.dataFrame(spark, rewritten)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(before == after)
    // and a non-dot aggregate is left untouched
    val other = emb.select(aggregate(transform($"v", x => x), lit(0.0),
      (acc, x) => acc + x).as("s"))
    val untouched = DotProductStrengthReduction(other.queryExecution.analyzed)
    assert(!untouched.expressions.exists(
      _.exists(_.isInstanceOf[graft.expressions.DotProduct])))
  }

  test("strength-reduction leaves a real finish lambda untouched") {
    import graft.expressions.DotProductStrengthReduction
    val emb = Tables.embeddings(spark, Sf0001)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    // same zip_with/merge shape but a NON-identity finish: acc -> acc / 10
    val withFinish = emb.select($"vec_id",
      aggregate(zip_with($"v", $"v", (x, y) => x * y), lit(0.0),
        (acc, x) => acc + x, acc => acc / 10).as("d"))
    val after = DotProductStrengthReduction(withFinish.queryExecution.analyzed)
    assert(!after.expressions.exists(
      _.exists(_.isInstanceOf[graft.expressions.DotProduct])), after.toString)
    // and the rewritten-session values still carry the /10 finish
    val viaRule = org.apache.spark.sql.graftbridge.Bridge.dataFrame(spark, after)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val plain = withFinish.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaRule == plain)
  }

  test("DotProduct matches HOF fold on null / unequal-length arrays") {
    import graft.expressions.DotProduct.dotNative
    // Forbid the silent interpreted fallback: if the generated
    // null-branch code failed to compile this test must fail, not
    // quietly pass on the interpreted path.
    spark.conf.set("spark.sql.codegen.fallback", "false")
    // Built from spark.range so nothing constant-folds: the codegen path
    // (null branch included) actually executes.
    val df = spark.range(4).select($"id",
      when($"id" === 3, lit(null).cast("array<double>"))
        .when($"id" === 2, array(lit(1.0), lit(null).cast("double")))
        .when($"id" === 1, array(lit(1.0), lit(2.0), lit(5.0)))
        .otherwise(array(lit(1.0), lit(2.0))).as("a"),
      array(lit(3.0), lit(4.0)).as("b"))
    val rows = df.select($"id",
        dotNative($"a", $"b").as("n"),
        graft.ops.Similarity.dot($"a", $"b").as("h"))
      .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2))))
    rows.foreach { case (id, n, h) => assert(n == h, s"id=$id native=$n hof=$h") }
    val byId = rows.map(r => r._1 -> r._2).toMap
    assert(byId(0L) == Some(11.0))  // 1*3 + 2*4
    assert(byId(1L).isEmpty)        // unequal length → NULL (zip_with padding)
    assert(byId(2L).isEmpty)        // null element → NULL
    assert(byId(3L).isEmpty)        // null array → NULL
    // non-nullable-element arrays with unequal lengths: the fast loop
    // (no per-element checks compiled in) must still yield NULL
    val nn = spark.range(2).select(
      array(lit(1.0), lit(2.0)).as("a"),
      when($"id" === 0, array(lit(3.0), lit(4.0))).otherwise(array(lit(3.0))).as("b"))
    val out = nn.select(dotNative($"a", $"b").as("n"), graft.ops.Similarity.dot($"a", $"b").as("h"))
      .collect().map(r => (Option(r.get(0)), Option(r.get(1))))
    assert(out.toSet == Set((Some(11.0), Some(11.0)), (None, None)))
    spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("overlap strength reduction rewrites the size(intersect) existence test") {
    import graft.expressions.OverlapStrengthReduction
    import org.apache.spark.sql.catalyst.expressions.ArraysOverlap
    // NOTE: +/* preserve non-nullability; % does NOT (x % 0 is null in
    // non-ANSI, so Remainder is always nullable and would — correctly —
    // make the guard refuse the rewrite).
    val df = spark.range(100).select(
      array($"id", $"id" + 1).as("a"),
      array($"id" * 2, lit(4L)).as("b"))
    val q = df.select($"a", (size(array_intersect($"a", $"b")) > 0).as("p"))
    val rewritten = OverlapStrengthReduction(q.queryExecution.analyzed)
    assert(rewritten.expressions.exists(_.exists(_.isInstanceOf[ArraysOverlap])),
      rewritten.toString)
    val before = q.select($"p").collect().map(_.getBoolean(0)).toSeq
    val after = org.apache.spark.sql.graftbridge.Bridge.dataFrame(spark, rewritten)
      .select($"p").collect().map(_.getBoolean(0)).toSeq
    assert(before == after)
    // the reversed literal form rewrites too
    val rev = df.select((lit(0) < size(array_intersect($"a", $"b"))).as("p"))
    assert(OverlapStrengthReduction(rev.queryExecution.analyzed)
      .expressions.exists(_.exists(_.isInstanceOf[ArraysOverlap])))
    // nullable-element arrays are LEFT ALONE: the two forms disagree on
    // null-element inputs (see the rule's scaladoc)
    val nn = df.select(
      (size(array_intersect(array(lit(1L), lit(null).cast("long")), $"a")) > 0).as("p"))
    val untouched = OverlapStrengthReduction(nn.queryExecution.analyzed)
    assert(!untouched.expressions.exists(_.exists(_.isInstanceOf[ArraysOverlap])))
    // and a non-existence use of size(intersect) (e.g. >= 2) is untouched
    val cnt = df.select((size(array_intersect($"a", $"b")) >= 2).as("p"))
    assert(!OverlapStrengthReduction(cnt.queryExecution.analyzed)
      .expressions.exists(_.exists(_.isInstanceOf[ArraysOverlap])))
  }

  test("every query has an oracle except the documented sketch exceptions") {
    // ONLY the two sketches remain (error-band specs in this suite):
    // approximation cannot hash-match any exact oracle. audio_features
    // left this set in round 6 (closed-form square-wave fixture);
    // srp_signature_centered left in round 7 (the centered sign test
    // distributes to a checked-integer form DuckDB can evaluate).
    val rowsOnly = Set("approx_distinct_parts", "approx_percentiles")
    val q = graft.SparkEntry.queries.keySet
    val o = graft.SparkEntry.oracleSql.keySet
    assert((q -- o) == rowsOnly, s"queries missing oracles: ${(q -- o) -- rowsOnly}")
    assert((o -- q).isEmpty, s"oracles without queries: ${o -- q}")
  }

  test("GraftExtensions injects dot_native into a session-extensions set") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.GraftExtensions().apply(ext)
    // building the injected registry must expose the function
    val base = org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin.clone()
    org.apache.spark.sql.graftbridge.Bridge.registerFunctions(ext, base)
    assert(base.functionExists(
      org.apache.spark.sql.catalyst.FunctionIdentifier("dot_native")))
  }

  test("dot_native is callable from spark.sql after registration") {
    graft.Functions.register(spark)
    Tables.embeddings(spark, Sf0001)
      .selectExpr("vec_id", "cast(embedding as array<double>) as v")
      .createOrReplaceTempView("emb_v")
    val r = spark.sql(
      "SELECT vec_id, dot_native(v, v) AS d FROM emb_v ORDER BY vec_id LIMIT 5")
      .collect()
    assert(r.length == 5 && r.forall(_.getDouble(1) > 0))
  }

  test("winnowing fingerprints are robust to a local edit") {
    val base = ("the quick brown fox jumps over the lazy dog " * 8).trim
    val edited = base.replaceFirst("lazy dog", "LAZY cat") // ONE local change
    val far = ("completely different content with other words entirely " * 8).trim
    val df = Seq((1L, base), (2L, edited), (3L, far)).toDF("doc_id", "text")
    val fp = graft.ops.TextOps.winnow(df, withSet = true)
      .select("doc_id", "fingerprints")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    def jac(a: Set[Long], b: Set[Long]) =
      a.intersect(b).size.toDouble / a.union(b).size
    // a local edit preserves most selected fingerprints; unrelated
    // content shares essentially none
    assert(jac(fp(1L), fp(2L)) > 0.5, jac(fp(1L), fp(2L)))
    assert(jac(fp(1L), fp(3L)) < 0.2, jac(fp(1L), fp(3L)))
  }

  test("fingerprint stable across duplicate content") {
    val df = Seq((1L, "abcdefghijklmnop"), (2L, "abcdefghijklmnop"), (3L, "qrstuvwxyz012345"))
      .toDF("doc_id", "text")
    val fp = TextOps.fingerprint(df).select("doc_id", "fp_min")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) != fp(3L))
  }

  test("native HammingDist equals Long.bitCount(xor) and stays codegen'd") {
    import graft.expressions.HammingDist.hammingNative
    val df = Seq((0L, 0L), (13L, 9L), (-1L, 0L), (Long.MinValue, Long.MaxValue))
      .toDF("a", "b")
    val got = df.select(hammingNative($"a", $"b")).collect().map(_.getInt(0))
    assert(got.toSeq == Seq(0, 1, 64, 64))
    // codegen check over a range scan (a local relation would fold the
    // projection away; an exchange would leave an unfinalized AQE plan)
    val ranged = spark.range(16).select(hammingNative($"id", lit(0L)).as("h"))
    val planLine = ranged.queryExecution.executedPlan.toString
      .linesIterator.find(_.toLowerCase.contains("hammingdist")).getOrElse("")
    assert(planLine.trim.startsWith("*"), planLine)
    assert(ranged.collect().map(_.getInt(0)).sum ==
      (0 until 16).map(java.lang.Long.bitCount(_)).sum)
    graft.Functions.register(spark)
    val viaSql = spark.sql("SELECT hamming_native(13L, 9L)").head.getInt(0)
    assert(viaSql == 1)
  }

  test("simhash pigeonhole blocking finds exactly the brute-force pairs") {
    // 60 docs in 20 families of 3 mutated copies: blocking must return
    // the same Hamming<=3 pair set as the all-pairs scan of simhashes.
    val docs = (0 until 60).map { i =>
      val fam = i / 3
      val toks = (0 until 40).map(t =>
        if (t == i % 3 * 5) s"mut${i}_$t" else s"fam${fam}_tok$t")
      (i.toLong, toks.mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    val blocked = Dedup.simhashNearDup(df)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sims = Dedup.simhash(df).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = (for {
      a <- sims.keys; b <- sims.keys if a < b
      if java.lang.Long.bitCount(sims(a) ^ sims(b)) <= 3
    } yield (a, b)).toSet
    assert(blocked == brute)
    assert(brute.nonEmpty) // the fixture actually plants close pairs
  }

  test("64-bit hamming blocking on a precomputed hash equals brute force") {
    // generic hammingNearDupOnHash at full 64-bit width (the image
    // aHash path): diffs planted within chunks, across chunk
    // boundaries, and in the sign bit — the brute-force popcount scan
    // is the oracle. maxDist=7 → 8 chunks of 8 bits.
    val base = 0x0123456789abcdefL
    val hashes = Seq(
      0L -> base,
      1L -> (base ^ 1L),                  // 1 bit, chunk 0
      2L -> (base ^ (1L << 8)),           // 1 bit, chunk 1
      3L -> (base ^ 0x8000000000000000L), // sign bit (chunk 7)
      4L -> (base ^ 0x0101010101010101L), // 8 bits spread over ALL chunks
      5L -> (base ^ 0xffL),               // 8 bits, one full chunk
      6L -> ~base,                        // 64 bits away
      7L -> (base ^ (0x3L << 7))          // 2 bits straddling a boundary
    ).toDF("media_id", "ahash")
    val got = Dedup.hammingNearDupOnHash(hashes, "media_id", "ahash",
        maxDist = 7, bits = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val vals = Seq(base, base ^ 1L, base ^ (1L << 8),
      base ^ 0x8000000000000000L, base ^ 0x0101010101010101L,
      base ^ 0xffL, ~base, base ^ (0x3L << 7))
    val brute = (for {
      a <- vals.indices; b <- vals.indices if a < b
      d = java.lang.Long.bitCount(vals(a) ^ vals(b)) if d <= 7
    } yield (a.toLong, b.toLong) -> d).toMap
    assert(got == brute)
    // the 8-bits-in-every-chunk hash has NO agreeing chunk with base:
    // correctly absent (distance 8 > maxDist anyway), while the
    // one-full-chunk diff (also distance 8) is absent for the same
    // reason — and the straddling 2-bit pair IS found
    assert(got.contains((0L, 7L)) && got((0L, 7L)) == 2)
    assert(brute.nonEmpty)
  }

  test("hamming blocking equals brute force on 300 seeded-random 64-bit hashes") {
    // fixed-seed randoms + planted perturbations: every distance regime
    // near the maxDist boundary appears, and the pigeonhole guarantee
    // (d <= maxDist => some chunk agrees) is exercised on arbitrary bit
    // patterns, not crafted ones
    val rnd = new scala.util.Random(42)
    val base = Vector.fill(100)(rnd.nextLong())
    val vals = base ++ base.take(100).map { h =>
      var x = h; val flips = rnd.nextInt(6) // 0..5 bit flips
      (0 until flips).foreach(_ => x ^= (1L << rnd.nextInt(64))); x
    } ++ base.take(100).map(h => ~h)
    val df = vals.zipWithIndex.map { case (h, i) => (i.toLong, h) }
      .toDF("media_id", "ahash")
    for (maxDist <- Seq(3, 7)) {
      val got = Dedup.hammingNearDupOnHash(df, "media_id", "ahash",
          maxDist, bits = 64)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
      val brute = (for {
        a <- vals.indices; b <- vals.indices if a < b
        d = java.lang.Long.bitCount(vals(a) ^ vals(b)) if d <= maxDist
      } yield (a.toLong, b.toLong) -> d).toMap
      assert(got == brute, s"maxDist=$maxDist: ${got.size} vs ${brute.size}")
      assert(brute.nonEmpty)
    }
  }

  test("normalize and scrubPii transform as specified") {
    val df = Seq((1L, "Hello, WORLD!!  x"), (2L, "reach me: bob.jones@mail.example.com or 12345678"))
      .toDF("doc_id", "text")
    val norm = TextOps.normalize(df).select("doc_id", "text_norm")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(norm(1L) == "hello world x")
    val scrub = TextOps.scrubPii(df).select("doc_id", "text_clean")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(scrub(2L) == "reach me: <EMAIL> or <NUM>")
    assert(scrub(1L) == "Hello, WORLD!!  x") // untouched
  }

  test("tfidf components are exact and consistent") {
    val df = Seq((1L, "a b a"), (2L, "a c")).toDF("doc_id", "text")
    val out = TextOps.tfidf(df)
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out((1L, "a")) == ((2L, 2L, 2L))) // tf=2, df=2, N=2
    assert(out((1L, "b")) == ((1L, 1L, 2L)))
    assert(out((2L, "c")) == ((1L, 1L, 2L)))
  }

  test("dropNearDuplicates keeps one representative per component") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val near = (1 to 40).map(i => if (i == 20) "CHANGED" else s"tok$i").mkString(" ")
    val far = (100 to 140).map(i => s"zzz$i").mkString(" ")
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
    val kept = Dedup.dropNearDuplicates(df)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 3L)) // 2 is 1's near-dup; min id kept
  }

  test("ops are safe on empty and null-text inputs") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.minhashPairs(empty).count() == 0)
    assert(Dedup.connectedComponents(
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")).count() == 0)
    assert(Dedup.simhashNearDup(empty).count() == 0)
    // null text: rows survive where defined, null-derived fields null out
    val withNull = Seq((1L, "a b c d"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    assert(Dedup.exact(withNull).count() == 2) // null text is its own group
    val shingled = Dedup.shingleRows(withNull).collect()
    assert(shingled.forall(_.getLong(0) == 1L)) // null text → no shingles
    val q = TextOps.qualityMetrics(withNull)
      .filter($"doc_id" === 2L).select("n_chars").head
    assert(q.isNullAt(0))
  }

  test("sketch estimates stay within documented error of exact answers") {
    // The two rows-only CORRECTNESS entries (approx_distinct_parts,
    // approx_percentiles) are correct to skip hash-match — but their
    // sketches still carry contracts, asserted here against the exact
    // answers the engine can also compute.
    val li = Tables.lineitem(spark, Sf001)
    // HLL++ (approx_count_distinct, default rsd 0.05): each group's
    // estimate within 3 standard deviations (15%) of the exact count.
    val exactD = li.groupBy($"l_returnflag")
      .agg(countDistinct($"l_partkey").as("ex")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val approxD = li.groupBy($"l_returnflag")
      .agg(approx_count_distinct($"l_partkey").as("ap")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(exactD.keySet == approxD.keySet && exactD.nonEmpty)
    exactD.foreach { case (k, ex) =>
      assert(math.abs(approxD(k) - ex) <= 0.15 * ex,
        s"$k: approx=${approxD(k)} exact=$ex exceeds 3*rsd")
    }
    // Quantile sketch (percentile_approx, accuracy 10000): the returned
    // value is an actual element whose RANK is within n/accuracy of the
    // target — assert it sits between the exact order statistics at
    // rank ± (n/accuracy + 1).
    val qs = Seq(0.5, 0.95, 0.99)
    val apx = li.groupBy($"l_returnflag")
      .agg(percentile_approx($"l_extendedprice",
        array(qs.map(lit): _*), lit(10000)).as("apx")).collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    val byGroup = li.select($"l_returnflag", $"l_extendedprice").collect()
      .groupBy(_.getString(0)).map { case (k, rows) =>
        k -> rows.map(_.getDouble(1)).sorted }
    assert(byGroup.keySet == apx.keySet)
    byGroup.foreach { case (k, sorted) =>
      val n = sorted.length
      val slack = n.toDouble / 10000.0 + 1
      qs.zipWithIndex.foreach { case (q, i) =>
        val target = math.ceil(q * n)
        val lo = sorted(math.max(0, (target - slack).toInt - 1))
        val hi = sorted(math.min(n - 1, (target + slack).toInt - 1))
        val got = apx(k)(i)
        assert(got >= lo && got <= hi,
          s"$k q=$q: approx=$got outside exact rank bounds [$lo, $hi] (n=$n)")
      }
    }
  }

  test("SketchBounds emits a within-bounds artifact with per-group evidence") {
    // The generator behind SKETCH_BOUNDS.json (r7 verdict item 5): the
    // exact rank bounds come from a distributed per-group window (the
    // driver holds groups × quantiles rows, never lineitem rows), and
    // the artifact must carry one HLL row per group and one quantile
    // row per (group, q), all within bounds on the gate corpus.
    val json = graft.tools.SketchBounds.reportJson(spark, Sf001)
    assert(json.contains("\"all_within_bounds\":true"), json.take(400))
    // 3 groups in the HLL++ section + 3 in the deterministic-HLL
    // accuracy section (r11) share the rel_err key
    assert("\"rel_err\"".r.findAllIn(json).size == 6, "2 x 3 HLL groups")
    assert("\"rank_lo\"".r.findAllIn(json).size == 9, "3 groups x 3 quantiles")
    assert("\"in_design_regime\"".r.findAllIn(json).size == 3,
      "3 deterministic-HLL groups carry the regime flag")
  }

  test("HLL sketches built per day merge into correct weekly estimates") {
    // The mergeable-sketch rollup pattern: persist one small sketch per
    // (day) partition, answer ANY coarser distinct-count rollup by
    // merging sketches — no rescan of the 100 TB base table. Weekly
    // estimates from merged daily sketches must match direct exact
    // counts within the sketch's error envelope.
    val ev = Tables.events(spark, Sf001)
      .select($"user_id", to_date($"ts").as("day"))
    val weekly = ev.groupBy($"day").agg(hll_sketch_agg($"user_id").as("sk"))
      .groupBy(weekofyear($"day").as("wk"))
      .agg(hll_sketch_estimate(hll_union_agg($"sk")).as("est"))
    val exact = ev.groupBy(weekofyear($"day").as("wk"))
      .agg(countDistinct($"user_id").as("ex"))
    val rows = weekly.join(exact, "wk").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (est, ex) = (r.getLong(1), r.getLong(2))
      assert(math.abs(est - ex) <= math.max(3, 0.15 * ex),
        s"wk=${r.get(0)}: merged estimate $est vs exact $ex")
    }
  }

  test("dedup ops leave no persistent RDDs once released") {
    def extra(before: Set[Int]): Set[Int] =
      spark.sparkContext.getPersistentRDDs.keySet.toSet.diff(before)
    val docs = Tables.documents(spark, Sf0001)
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    Dedup.minhashPairs(docs).count()
    Caches.releaseAll()
    assert(extra(before).isEmpty)
    Dedup.simhashNearDup(docs).count()
    Caches.releaseAll()
    assert(extra(before).isEmpty)
    Dedup.ngramJaccardPairs(docs).count()
    Caches.releaseAll()
    assert(extra(before).isEmpty, "ngram shingle cache must release")
    Dedup.ngramJaccardPairs(docs, cacheShingles = false).count()
    assert(extra(before).isEmpty, "uncached ngram path must cache nothing")
    // iterative CC over a chain (forces several rounds): every
    // intermediate round and the edge RDD must be freed INLINE — only
    // the final round's cache may be alive before release
    val edges = (1L until 40L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    Dedup.connectedComponents(edges).count()
    assert(extra(before).size <= 1, s"loop leaked caches: ${extra(before)}")
    Caches.releaseAll()
    assert(extra(before).isEmpty)
    // the basket and RFM composites register their own caches
    graft.ops.Associations.rules(Tables.lineitem(spark, Sf0001),
      "l_orderkey", "l_partkey", minSupport = 3L).count()
    assert(extra(before).nonEmpty, "basket rules cache their basket items")
    Caches.releaseAll()
    assert(extra(before).isEmpty, "basket-items cache must release")
    graft.ops.Commerce.rfmSegments(Tables.orders(spark, Sf0001)).count()
    assert(extra(before).nonEmpty, "RFM caches its per-customer table")
    Caches.releaseAll()
    assert(extra(before).isEmpty, "per-customer RFM caches must release")
  }

  test("connected components refuses to return unconverged labels") {
    val chain = (1L until 60L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIter = 2).count()
    }
    assert(e.getMessage.contains("maxIter"))
    Caches.releaseAll()
  }

  test("connected components: chains, cliques and isolated pairs") {
    // chain 1-2-3-4-5 (diameter 4, exercises pointer jumping),
    // triangle 10-11-12, pair 20-21
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("hashedLinearScore: exact integer logit matches an independent recompute") {
    // classifier inference must be exactly reproducible: recompute every
    // document's logit independently (JVM md5, plain Scala fold) and
    // require equality — including the missing-bucket → 0 contribution
    // path (weights cover only buckets 0-7 of 16) and the bias.
    val docs = Seq((1L, "alpha beta alpha"), (2L, "zulu"),
      (3L, "quick brown fox jumps")).toDF("doc_id", "text")
    val weights = spark.range(8L)
      .select($"id".as("bucket"), ($"id" * 1000L - 3000L).as("w_micros"))
    val got = TextOps.hashedLinearScore(docs, weights, nBuckets = 16,
        biasMicros = 5L)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    def bucketOf(t: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map(b => f"$b%02x").mkString
        .substring(0, 15), 16) % 16
    def wOf(b: Long): Long = if (b < 8) b * 1000L - 3000L else 0L
    val want = Seq((1L, "alpha beta alpha"), (2L, "zulu"),
      (3L, "quick brown fox jumps")).map { case (id, text) =>
      val toks = text.split(" ").toSeq
      val logit = toks.map(t => wOf(bucketOf(t))).sum + 5L
      (id, toks.size.toLong, logit, logit >= 0)
    }
    assert(got.toSeq == want, s"got ${got.toSeq} want $want")
    // a token repeated twice contributes twice (bag-of-words, not set)
    assert(got(0)._3 == wOf(bucketOf("alpha")) * 2 + wOf(bucketOf("beta")) + 5L)
  }

  test("editDistancePairs: FastSS d=1 blocking is exact — sub/ins/del found, d=2 not") {
    // abc~abd (substitution), ab~abc and ab~abd (insertion/deletion),
    // xyz isolated, abde at distance 2 from abd must NOT pair with abc
    // (d=2) but DOES pair with abd (one insertion). Duplicate raw rows
    // collapse via the distinct dictionary.
    val df = Seq("abc", "abd", "ab", "xyz", "abde", "abc")
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val got = Dedup.editDistancePairs(df, "v").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val want = Set(
      ("ab", "abc", 1L), ("ab", "abd", 1L), ("abc", "abd", 1L),
      ("abd", "abde", 1L))
    assert(got == want, s"got $got")
    // loud short-field contract: a document-length value would explode
    // O(len²) variant bytes — refused, not silently joined
    val long = Seq((1L, "x" * 300)).toDF("id", "v")
    val e = intercept[Exception] { Dedup.editDistancePairs(long, "v").count() }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("short-field")), e.toString)
    // maxDist = 2: the composed neighborhood now
    // reaches abc~abd e (2 edits) and ab~abd e... enumerate exactly —
    // every pair within levenshtein ≤ 2 of the dictionary, nothing else
    val got2 = Dedup.editDistancePairs(df, "v", maxDist = 2).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val dict = Seq("abc", "abd", "ab", "xyz", "abde")
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val want2 = (for {
      a <- dict; b <- dict if a < b
      d = lev(a, b) if d <= 2
    } yield (a, b, d.toLong)).toSet
    assert(got2 == want2, s"got $got2\nwant $want2")
    // d invariants: maxDist=2 is a superset of d=1; distance labels exact
    assert(want.subsetOf(got2))
    // refusal beyond the supported neighborhood depth
    val e3 = intercept[IllegalArgumentException] {
      Dedup.editDistancePairs(df, "v", maxDist = 3)
    }
    assert(e3.getMessage.contains("maxDist must be 1 or 2"))
  }

  test("perRowSignature equals the batch aggregate signature (all 24 mins)") {
    // The streaming band-ingest path computes signatures as per-row
    // array folds (append-legal, no groupBy); the batch path aggregates
    // exploded shingle rows. Same universal hashes, same minimums —
    // byte-equal on the real corpus, and the empty-shingle doc (< 3
    // tokens) is ABSENT from the batch form and null-signatured in the
    // per-row form (which is why the stream filters size >= 1 first).
    val docs = Dedup.withShingles(
      Tables.documents(spark, Sf0001).select(col("doc_id"), col("text")))
    val perRow = Dedup.perRowSignature(docs.filter(size(col("shingles")) >= 1))
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val batch = Dedup.minhashSignatureRows(
        Dedup.shingleRows(Tables.documents(spark, Sf0001)))
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(perRow.nonEmpty && perRow == batch,
      s"per-row/batch signature divergence (${perRow.size} vs ${batch.size} rows)")
    val short = Seq((1L, "one two")).toDF("doc_id", "text")
    assert(Dedup.perRowSignature(Dedup.withShingles(short))
      .filter(col("h0").isNotNull).count() == 0)
  }

  test("hot-band cap preserves clusters: capped == uncapped components end-to-end") {
    // A 300-member identical-text cluster (over the 256 default cap →
    // the chain path fires in every band bucket) plus background
    // near-dup structure (cold buckets → the all-pairs path runs
    // unchanged). The cap's contract is COMPONENT preservation: the
    // verified pair LIST shrinks for the hot cluster (k−1 chain edges
    // instead of k·(k−1)/2), but connectedComponents over capped pairs
    // must label every doc identically to the uncapped run.
    val hot = spark.range(300).select(($"id" + 1000L).as("doc_id"),
      lit("omega phi chi psi sigma tau upsilon rho pi omicron").as("text"))
    // bgA/bgB docs share tokens 2..10, so they form one background
    // near-dup component of their own through ordinary cold buckets
    val bgA = spark.range(10).select(($"id" * 2).as("doc_id"),
      concat(lit("base"), $"id",
        lit(" one two three four five six seven eight nine")).as("text"))
    val bgB = spark.range(10).select(($"id" * 2 + 1).as("doc_id"),
      concat(lit("base"), $"id",
        lit(" one two three four five six seven eight ten")).as("text"))
    val solo = spark.range(5).select(($"id" + 5000L).as("doc_id"),
      concat(lit("lonely"), $"id", lit("a lonely"), $"id",
        lit("b lonely"), $"id", lit("c end")).as("text"))
    val docs = hot.unionByName(bgA).unionByName(bgB).unionByName(solo)

    val capped = Dedup.minhashPairs(docs) // default cap 256
    val cappedPairs = capped.select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cappedCC = Dedup.connectedComponents(capped.select(col("doc_a"), col("doc_b")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Caches.releaseAll()
    val uncapped = Dedup.minhashPairs(docs, maxBandSize = 0)
    val uncappedPairs = uncapped.select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncappedCC = Dedup.connectedComponents(uncapped.select(col("doc_a"), col("doc_b")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Caches.releaseAll()

    // the cap actually fired (identical docs verify at jaccard 1, so
    // uncapped emits the full clique) and emitted a strict subset
    assert(uncappedPairs.count(p => p._1 >= 1000L) == 300 * 299 / 2)
    assert(cappedPairs.count(p => p._1 >= 1000L) == 299)
    assert(cappedPairs.subsetOf(uncappedPairs),
      "capped pairs must be a subset of the uncapped clique")
    // ...while components — the dedup-semantics surface — are identical
    assert(cappedCC == uncappedCC,
      "hot-band cap changed connected components")
    // and the hot cluster is one component labeled by its min id
    assert(cappedCC.filter(_._1 >= 1000L).forall(_._2 == 1000L))
  }

  test("Dedup.lshCandidates: maxBandSize = 0 restores every hot-bucket pair that 8 chains") {
    // r10 verdict: above the cap the raw pair list is COMPONENTS-exact,
    // not pairs-exact — a silent subset for raw-pair consumers (pair
    // audits, similarity-graph exports). The pairs-exact mode,
    // maxBandSize = 0, must restore every colliding pair; the default
    // must stay the k−1 chain so the contract difference is visible,
    // not vibes.
    val docs = spark.range(20).select(($"id" + 100L).as("doc_id"),
      lit("alpha beta gamma delta epsilon zeta eta theta iota kappa").as("text"))
    def candidates(maxBandSize: Int) = Dedup.lshCandidates(
      Dedup.minhashSignatureRows(Dedup.shingleRows(docs)),
      maxBandSize = maxBandSize)
    val chained = candidates(maxBandSize = 8)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Caches.releaseAll()
    val exhaustive = candidates(maxBandSize = 0)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Caches.releaseAll()
    assert(exhaustive.size == 20 * 19 / 2,
      s"pairsExact must emit the full clique, got ${exhaustive.size}")
    assert(chained.size == 19,
      s"default mode must emit the component-spanning chain, got ${chained.size}")
    assert(chained.subsetOf(exhaustive))
  }

  test("bloomNovelDocuments: exact under forced false positives; filter bits verified") {
    // mBits = 64 (one word) with 50 seen docs saturates the filter, so
    // nearly every novel doc is a bloom FALSE POSITIVE — the exact
    // verify must still return it as novel. Dups must always be found
    // (a bloom has no false negatives).
    val seen = (0L until 50L).map(i => (i, s"seen doc number $i"))
      .toDF("doc_id", "text")
    val inc = ((100L until 110L).map(i => (i, s"seen doc number ${i - 100}")) ++
      (200L until 210L).map(i => (i, s"fresh doc $i")))
      .toDF("doc_id", "text")
    val got = Dedup.bloomNovelDocuments(inc, seen, mBits = 64, kProbes = 2)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val want = ((100L until 110L).map(_ -> false) ++
      (200L until 210L).map(_ -> true)).toMap
    assert(got == want, s"got $got")
    // with one 64-bit word and 100 set positions the saturated filter
    // proves the FP path actually ran (not vacuous): at least one fresh
    // doc must have been a bloom candidate — count hits directly
    val bloom = Dedup.bloomTextFilter(seen, mBits = 64, kProbes = 2).collect()
    assert(bloom.length == 1 && java.lang.Long.bitCount(bloom(0).getLong(1)) >= 30,
      s"expected a near-saturated single word, got ${bloom.toSeq}")
    // empty seen corpus: no filter rows, everything novel, no throw
    val empty = seen.filter(col("doc_id") < 0)
    val allNovel = Dedup.bloomNovelDocuments(inc, empty, mBits = 64, kProbes = 2)
      .collect().map(_.getBoolean(1))
    assert(allNovel.length == 20 && allNovel.forall(identity))
    // default-size filter: a planted text's probe bits are all set
    val big = Dedup.bloomTextFilter(seen, mBits = 65536, kProbes = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val h = md5hex("seen doc number 7")
    (0 until 4).foreach { i =>
      val pos = java.lang.Long.parseLong(h.substring(8 * i, 8 * i + 8), 16) % 65536L
      val word = pos / 64; val mask = 1L << (pos % 64).toInt
      assert((big.getOrElse(word, 0L) & mask) == mask,
        s"probe $i of planted text not set (word $word)")
    }
  }

  test("canonicalizeValues: transitive typo cluster maps to its most frequent member") {
    // {ab, abc, abd, abde} chain into one cluster (abde joins only
    // through abd — TRANSITIVE closure, not direct pairs); canonical is
    // abc (3 raw rows, beating ab's 2); xyz maps to itself.
    val rows = Seq.fill(3)("abc") ++ Seq.fill(2)("ab") ++
      Seq("abd", "abde", "xyz")
    val df = rows.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "v")
    val got = Dedup.canonicalizeValues(df, "v").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getLong(2))).toMap
    Caches.releaseAll()
    assert(got == Map(
      "ab" -> ("abc", 2L), "abc" -> ("abc", 3L), "abd" -> ("abc", 1L),
      "abde" -> ("abc", 1L), "xyz" -> ("xyz", 1L)), s"got $got")
  }

  test("prioritySample: exact top-k by w/u with the DLT threshold estimator") {
    // Independent recompute: same md5 uniform, same single IEEE
    // division, driver-side sort — the whole sample, τ, and every
    // est_w must be bit-equal.
    val docs = (1L to 20L).map(i => (i, s"doc $i", i * 10L))
      .toDF("doc_id", "text", "n_chars")
    def uOf(id: Long): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map(b => f"$b%02x").mkString
        .substring(0, 4), 16) + 1
    val ref = (1L to 20L).map { i =>
      val w = i * 10L
      (i, w, (w * 65536L).toDouble / uOf(i).toDouble)
    }.sortBy(r => (-r._3, r._1))
    val k = 5
    val tau = ref(k)._3 // the (k+1)-th priority
    val want = ref.take(k).zipWithIndex.map { case ((id, w, p), i) =>
      (id, w, p, math.max(w.toDouble, tau), (i + 1).toLong)
    }
    val got = TextOps.prioritySample(docs, k).orderBy("rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4)))
    assert(got.toSeq == want, s"got ${got.toSeq}\nwant $want")
    // corpus smaller than k: everything sampled, τ = 0, est_w = w exact
    val all = TextOps.prioritySample(docs, k = 50).orderBy("rk").collect()
    assert(all.length == 20)
    assert(all.forall(r => r.getDouble(3) == r.getLong(1).toDouble),
      "with the full corpus sampled the estimator must be exact")
    // the estimator's sanity at this fixture: Σ est_w over the sample
    // is within 3x of the true total (a smoke bound, not the proof —
    // unbiasedness is over the u-randomness, fixed here)
    val total = (1L to 20L).map(_ * 10L).sum.toDouble
    val est = got.map(_._4).sum
    assert(est > total / 3 && est < total * 3, s"est=$est total=$total")
    // …and at a REAL n/k ratio (n=2000, k=25, n/k=80) the estimate
    // must land within 2x of the true total. DLT's relative std-err is
    // ~1/sqrt(k-1) ≈ 20% at k=25, so 2x is loose — but the r8 bug
    // (τ computed 65536x too small, est_w collapsing to w) would
    // report ≈ the top-k weight sum, underestimating total by ~20x
    // here, failing this loudly.
    val big = (1L to 2000L).map(i => (i, s"d$i", 100L + (i * 2654435761L) % 900L))
      .toDF("doc_id", "text", "n_chars")
    val bigTotal = (1L to 2000L).map(i => 100L + (i * 2654435761L) % 900L).sum.toDouble
    val bigEst = TextOps.prioritySample(big, k = 25)
      .agg(sum("est_w")).head().getDouble(0)
    assert(bigEst > bigTotal / 2 && bigEst < bigTotal * 2,
      s"DLT estimator off at n/k=80: est=$bigEst total=$bigTotal")
    // loud precondition: a negative or null weight would silently sink
    // its row and corrupt tau — refused instead
    val bad = Seq((1L, "x", 10L), (2L, "y", -5L)).toDF("doc_id", "text", "n_chars")
    val e = intercept[Exception] { TextOps.prioritySample(bad, 1).count() }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("non-negative")), e.toString)
    // ...and the UPPER bound: w > 2^47-1 would silently wrap the exact
    // long numerator w*65536 negative (corrupting the sample and tau
    // with no error) — refused just as loudly
    val huge = Seq((1L, "x", 10L), (2L, "y", (Long.MaxValue >> 16) + 1))
      .toDF("doc_id", "text", "n_chars")
    val e2 = intercept[Exception] { TextOps.prioritySample(huge, 1).count() }
    assert(msgs(e2).exists(_.contains("overflow")), e2.toString)
    val e3 = intercept[Exception] {
      TextOps.prioritySamplePerGroup(
        huge.withColumn("grp", lit("a")), 1, groupCol = "grp").count()
    }
    assert(msgs(e3).exists(_.contains("overflow")), e3.toString)
    // the exact boundary value 2^47-1 is still legal — no false refusal
    val edge = Seq((1L, "x", Long.MaxValue >> 16)).toDF("doc_id", "text", "n_chars")
    assert(TextOps.prioritySample(edge, 1).count() == 1L)
  }

  test("prioritySamplePerGroup: per-group top-k, per-group tau, small groups exact") {
    // Group A has 10 rows (k=3 → τ_A = its 4th priority); group B has 2
    // rows (< k → τ_B = 0, both sampled, est_w = w exact).
    val docs = ((1L to 10L).map(i => (i, "A", i * 10L)) ++
      Seq((100L, "B", 70L), (101L, "B", 30L)))
      .toDF("doc_id", "grp", "n_chars")
    def uOf(id: Long): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map(b => f"$b%02x").mkString
        .substring(0, 4), 16) + 1
    val refA = (1L to 10L).map { i =>
      (i, i * 10L, (i * 10L * 65536L).toDouble / uOf(i).toDouble)
    }.sortBy(r => (-r._3, r._1))
    val tauA = refA(3)._3
    val wantA = refA.take(3).zipWithIndex.map { case ((id, w, p), i) =>
      (id, "A", w, p, math.max(w.toDouble, tauA), (i + 1).toLong)
    }
    val refB = Seq((100L, 70L), (101L, 30L)).map { case (id, w) =>
      (id, w, (w * 65536L).toDouble / uOf(id).toDouble)
    }.sortBy(r => (-r._3, r._1))
    val wantB = refB.zipWithIndex.map { case ((id, w, p), i) =>
      (id, "B", w, p, w.toDouble, (i + 1).toLong)
    }
    val got = TextOps.prioritySamplePerGroup(docs, k = 3, groupCol = "grp")
      .orderBy("grp", "rk").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getLong(5)))
    assert(got.toSeq == wantA ++ wantB, s"got ${got.toSeq}\nwant ${wantA ++ wantB}")
  }

  test("linearScore (literal-map serving form) equals hashedLinearScore (broadcast form)") {
    // The two inference forms must be bit-identical: the batch form
    // shuffles (doc, bucket) pairs; the serving form is a pure per-row
    // fold over a typedlit map — same buckets, same integer sums, same
    // bias, including missing buckets and repeated tokens.
    val docs = Tables.documents(spark, Sf0001).limit(200)
    val wMap: Map[Long, Long] = (0L until 32L).map(b => b -> (b * 7L - 100L)).toMap
    val wDf = wMap.toSeq.toDF("bucket", "w_micros")
    val a = TextOps.hashedLinearScore(docs, wDf, nBuckets = 64, biasMicros = 13L)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val b = TextOps.linearScore(docs, wMap, nBuckets = 64, biasMicros = 13L)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(a == b)
    assert(a.nonEmpty)
    // …including null text: both forms must fold it to (n_tokens 0,
    // logit = bias, keep = bias ≥ 0) — a null keep in the serving form
    // would let a downstream filter silently drop rows the batch form
    // keeps (real corpora contain null docs)
    val withNull = Seq((1L, "a b"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val an = TextOps.hashedLinearScore(withNull, wDf, nBuckets = 64,
      biasMicros = 13L).orderBy("doc_id").collect().map(_.toSeq).toSeq
    val bn = TextOps.linearScore(withNull, wMap, nBuckets = 64,
      biasMicros = 13L).orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(an == bn, s"null-text divergence: $an vs $bn")
    assert(bn(1) == Seq(2L, 0L, 13L, true), s"null doc row: ${bn(1)}")
    // loud precondition: an externally trained weights table with a
    // DUPLICATE bucket row would multiply the exploded token rows in
    // the join, silently inflating n_tokens and the logit — refused
    val dupW = Seq((5L, 10L), (5L, 20L), (6L, 30L)).toDF("bucket", "w_micros")
    // collect(), not count(): count() lets column pruning drop the
    // weight column — and with it the guard — before it ever evaluates
    val e = intercept[Exception] {
      TextOps.hashedLinearScore(docs, dupW, nBuckets = 64).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("buckets must be unique")), e.toString)
  }

  test("mlmMask: driver recompute, 80/10/10 proportions, corpus-growth stability") {
    // Independent recompute of selection + action + replacement from
    // the same md5 slices, driver-side, on the real corpus.
    val docs = Tables.documents(spark, Sf0001).select(col("doc_id"), col("text"))
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    def expect(id: Long, text: String): Seq[(Long, Long, String, String, String)] =
      text.split(" ", -1).toSeq.zipWithIndex.flatMap { case (tok, p0) =>
        val pos = p0 + 1L
        val h = md5hex(s"$id#$pos")
        val h1 = java.lang.Long.parseLong(h.substring(0, 4), 16)
        val h2 = java.lang.Long.parseLong(h.substring(4, 8), 16)
        val h3 = java.lang.Long.parseLong(h.substring(8, 12), 16)
        if (h1 * 1000 >= 65536L * 150) None
        else {
          val (action, repl) =
            if (h2 * 10 < 65536L * 8) ("mask", "[MASK]")
            else if (h2 * 10 < 65536L * 9) ("random", s"tok${h3 % 1000}")
            else ("keep", tok)
          Some((id, pos, tok, action, repl))
        }
      }
    val want = docs.collect()
      .flatMap(r => expect(r.getLong(0), r.getString(1))).toSeq.sortBy(_.toString)
    val got = TextOps.mlmMask(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3),
        r.getString(4))).toSeq.sortBy(_.toString)
    assert(got == want, s"sizes ${got.size} vs ${want.size}")
    // proportions at corpus size: ~15% selected, of those ~80/10/10
    val nTok = docs.collect().map(_.getString(1).split(" ", -1).length.toLong).sum
    assert(got.size > nTok * 10 / 100 && got.size < nTok * 20 / 100,
      s"selection rate off: ${got.size} of $nTok")
    val byAction = got.groupBy(_._4).view.mapValues(_.size).toMap
    assert(byAction("mask") > got.size * 7 / 10, s"mask share off: $byAction")
    assert(byAction.getOrElse("random", 0) > 0 && byAction.getOrElse("keep", 0) > 0)
    // growth stability: masking doc 0 alone equals its rows in the full
    // corpus run — a grown corpus never re-masks old docs differently
    val solo = TextOps.mlmMask(docs.filter(col("doc_id") === 0L)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3),
        r.getString(4))).toSeq.sortBy(_.toString)
    assert(solo == got.filter(_._1 == 0L))
  }

  test("corruptionSpans: recomputed starts, island merge, clamped ends") {
    // Driver recompute on the corpus: the same md5 start selection,
    // clamp, and overlapping-or-adjacent interval union per doc.
    val docs = Tables.documents(spark, Sf0001).select(col("doc_id"), col("text"))
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    def expect(id: Long, text: String): Seq[(Long, Long, Long, Long)] = {
      val n = text.split(" ", -1).length.toLong
      val starts = (1L to n).filter { pos =>
        java.lang.Long.parseLong(md5hex(s"$id#$pos").substring(0, 4), 16) *
          1000 < 65536L * 50
      }
      val spans = starts.map(s => (s, math.min(s + 2, n)))
      val merged = spans.foldLeft(Vector.empty[(Long, Long)]) {
        case (acc, (s, e)) if acc.nonEmpty && s <= acc.last._2 + 1 =>
          acc.init :+ (acc.last._1, math.max(acc.last._2, e))
        case (acc, span) => acc :+ span
      }
      merged.map { case (s, e) => (id, s, e, e - s + 1) }
    }
    val want = docs.collect()
      .flatMap(r => expect(r.getLong(0), r.getString(1))).toSeq.sortBy(_.toString)
    val got = TextOps.corruptionSpans(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq.sortBy(_.toString)
    assert(got == want, s"sizes ${got.size} vs ${want.size}")
    assert(got.nonEmpty)
    // the corruption budget lands near the design point: ~15% of tokens
    val nTok = docs.collect().map(_.getString(1).split(" ", -1).length.toLong).sum
    val corrupted = got.map(_._4).sum
    assert(corrupted > nTok * 8 / 100 && corrupted < nTok * 25 / 100,
      s"corruption rate off: $corrupted of $nTok")
    // spans are disjoint and non-adjacent after the merge, per doc
    got.groupBy(_._1).values.foreach { spans =>
      spans.sortBy(_._2).sliding(2).foreach {
        case Seq(a, b) => assert(b._2 > a._3 + 1, s"unmerged adjacency: $a $b")
        case _ => ()
      }
    }
  }

  test("fimTransform: recomputed cuts, clean empty-segment serialization; epochMix counts") {
    // Driver recompute of selection + cuts on the corpus, PSM
    // serialization compared byte-for-byte (empty prefix/suffix must
    // not leave stray spaces — the sentinels ride the same array join).
    val docs = Tables.documents(spark, Sf0001).select(col("doc_id"), col("text"))
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    def expect(id: Long, text: String): (Long, Boolean, String) = {
      val toks = text.split(" ", -1).toVector
      val n = toks.length.toLong
      val h = md5hex(s"$id#fim")
      val h0 = java.lang.Long.parseLong(h.substring(0, 4), 16)
      val h1 = java.lang.Long.parseLong(h.substring(4, 8), 16)
      val h2 = java.lang.Long.parseLong(h.substring(8, 12), 16)
      if (h0 * 1000 >= 65536L * 500) (id, false, text)
      else {
        val (a, b) = (h1 % n + 1, h2 % n + 1)
        val c1 = math.min(a, b).toInt; val c2 = math.max(a, b).toInt
        val out = (Vector("<PRE>") ++ toks.slice(0, c1 - 1) ++
          Vector("<SUF>") ++ toks.slice(c2, toks.length) ++
          Vector("<MID>") ++ toks.slice(c1 - 1, c2)).mkString(" ")
        (id, true, out)
      }
    }
    val want = docs.collect()
      .map(r => expect(r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)
    val got = TextOps.fimTransform(docs).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getString(2))).toSeq
    assert(got == want, s"first diff: ${got.zip(want).find(p => p._1 != p._2)}")
    val applied = got.count(_._2)
    assert(applied > got.size * 35 / 100 && applied < got.size * 65 / 100,
      s"FIM rate off: $applied of ${got.size}")
    // single-token doc: prefix and suffix both empty, no double spaces
    val one = Seq((7L, "solo")).toDF("doc_id", "text")
    val soloOut = TextOps.fimTransform(one, perMille = 1000).collect()(0).getString(2)
    assert(soloOut == "<PRE> <SUF> <MID> solo", soloOut)

    // epochMix: exact replication per the map, epoch numbering 0..k-1,
    // unlisted sources default to one pass
    val mix = TextOps.epochMix(Tables.documents(spark, Sf0001),
      Map("src0" -> 3, "src3" -> 2))
    val bySrc = mix.groupBy(col("source"))
      .agg(count(lit(1)).as("n"), max(col("epoch")).as("maxe"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val baseCounts = Tables.documents(spark, Sf0001).groupBy(col("source"))
      .agg(count(lit(1))).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    baseCounts.foreach { case (src, n) =>
      val k = Map("src0" -> 3L, "src3" -> 2L).getOrElse(src, 1L)
      assert(bySrc(src) == (n * k, k - 1), s"$src: ${bySrc(src)} want ${(n * k, k - 1)}")
    }
  }

  test("sketch bounds hold at sf0.01 — a sketch regression is a red test") {
    // CI-grade enforcement of the two no-oracle queries' error bands
    // (r8 verdict #7): SketchBounds runs under Verify but its result was
    // only a JSON field — nothing failed when all_within_bounds went
    // false. This asserts the same report at the driver's own
    // correctness SF, so a regression in either sketch (HLL++ rel-err,
    // quantile rank-band) turns the suite red instead of silently
    // shipping "false" in an artifact.
    val report = graft.tools.SketchBounds.reportJson(spark, Sf001)
    assert(report.contains("\"all_within_bounds\":true"),
      s"sketch error bands violated:\n$report")
  }

  test("perceptronTrain: hand-traced rounds, early convergence, trained model classifies") {
    // nBuckets=16; 'good' hashes to bucket 9, 'bad' to 3 (no collision).
    // Hand trace: r1 w=0 → all predicted +, doc2 mis → bad=-1.
    // r2: doc3 logit -1 mis → good=+1, bad=0. r3: doc2 logit 0 predicted
    // + mis → bad=-1. r4: all correct → converged. Final {good:1, bad:-1}.
    val docs = Seq(
      (1L, "good good", 1),
      (2L, "bad", -1),
      (3L, "good bad", 1)).toDF("doc_id", "text", "y")
    def bucketOf(t: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map(b => f"$b%02x").mkString
        .substring(0, 15), 16) % 16
    val trained = TextOps.perceptronTrain(docs, nBuckets = 16, rounds = 10)
    val w = trained.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Caches.releaseAll()
    assert(w == Map(bucketOf("good") -> 1L, bucketOf("bad") -> -1L), s"w=$w")
    // and the trained model, applied through the inference op, separates
    // the training set exactly
    val scored = TextOps.hashedLinearScore(docs, trained, nBuckets = 16)
      .orderBy("doc_id").collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(scored == Map(1L -> true, 2L -> false, 3L -> true), s"scored=$scored")
    // early stop ≡ unrolled: 4 rounds land on the converged weights too
    val w4 = TextOps.perceptronTrain(docs, nBuckets = 16, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Caches.releaseAll()
    assert(w4 == w)
  }

  test("bpeTrain: greedy non-overlapping merges, deterministic tie-break") {
    // (a,b) dominates with 4 overlapping-counted occurrences; after
    // merging, ("a b","c") and ("c","c") tie at 2 → left-symbol
    // tie-break picks "a b" < "c" (binary string order).
    val df = Seq((0L, "a b c a b"), (1L, "a b a b c"), (2L, "c c c"))
      .toDF("doc_id", "text")
    val res = TextOps.bpeTrain(df, nMerges = 3)
    val merges = res.merges.orderBy("merge_rank")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(merges.toSeq == Seq(
      (1L, "a", "b", 4L),        // overlapping adjacent COUNT, greedy APPLY
      (2L, "a b", "c", 2L),
      (3L, "c", "c", 2L)))       // "c c c" merges only the FIRST pair
    val segs = TextOps.bpeSegments(res.encoded).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(segs.toSeq == Seq(
      (0L, 5L, 2L, "a b c|a b"),
      (1L, 5L, 2L, "a b|a b c"),
      (2L, 3L, 2L, "c c|c")))    // greedy left-to-right on c c c
    Caches.releaseAll()
  }

  test("bpe segmentation is lossless and compression is monotone") {
    // merges only ever JOIN tokens with spaces and the segmentation
    // separates symbols with '|', so replacing '|' by ' ' must
    // reconstruct every document exactly — the tokenizer round-trip
    // invariant. And each extra merge can only shrink symbol counts.
    val docs = Tables.documents(spark, Sf0001).limit(200)
    val res4 = TextOps.bpeTrain(docs, nMerges = 4)
    val seg4 = TextOps.bpeSegments(res4.encoded)
    val mismatches = seg4
      .select($"doc_id", regexp_replace($"symbols_text", "\\|", " ").as("rejoined"))
      .join(docs.select($"doc_id", $"text"), "doc_id")
      .filter($"rejoined" =!= $"text").count()
    assert(mismatches == 0L, "BPE segmentation must be lossless")
    val n4 = seg4.agg(sum($"n_symbols")).head.getLong(0)
    Caches.releaseAll()
    val res1 = TextOps.bpeTrain(docs, nMerges = 1)
    val n1 = TextOps.bpeSegments(res1.encoded).agg(sum($"n_symbols")).head.getLong(0)
    Caches.releaseAll()
    val n0 = docs.select(sum(size(split($"text", " ")))).head.getLong(0)
    assert(n0 >= n1 && n1 >= n4, s"symbol counts must shrink: $n0 >= $n1 >= $n4")
    assert(n4 < n0, "4 merges must compress a real corpus")
  }

  test("bpeApply on the training corpus equals bpeSegments; unseen text encodes; guards hold") {
    // Self-application oracle: the serving encoder's per-row loop must
    // reproduce EXACTLY what the trainer's literal replaces did to its
    // own corpus — then unseen text goes through the same sequential
    // rank-order semantics.
    val docs = Tables.documents(spark, Sf0001).limit(150)
    val res = TextOps.bpeTrain(docs, nMerges = 4)
    val merges = res.merges.orderBy("merge_rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val fromTrainer = TextOps.bpeSegments(res.encoded)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val fromApply = TextOps.bpeApply(docs, merges)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    Caches.releaseAll()
    assert(fromApply == fromTrainer, "serving encoder diverged from the trainer")
    // unseen text: merges apply sequentially in rank order
    val unseen = Seq((900L, "a b c"), (901L, "zz qq")).toDF("doc_id", "text")
    val enc = TextOps.bpeApply(unseen, Seq(("a", "b"), ("a b", "c")))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(enc.toSeq == Seq((900L, 3L, 1L, "a b c"), (901L, 2L, 2L, "zz|qq")))
    // guards mirror the trainer's
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    val bad = Seq((1L, "ok doc"), (2L, " leading")).toDF("doc_id", "text")
    val e = intercept[Exception] {
      TextOps.bpeApply(bad, Seq(("a", "b"))).count()
    }
    assert(messages(e).exists(_.contains("empty token")), e.toString)
  }

  test("bpeApply pair-index gate is bit-identical to the naive replace loop") {
    // The r9 serving optimization probes a present-pairs hash set and
    // pays the replace pass only for merges that occur. This pins its
    // equality to the NAIVE loop (replace every merge unconditionally)
    // over an adversarial dense fixture: merges that chain (a b + c),
    // merges whose pair only EXISTS because an earlier merge fired,
    // earlier-rank pairs re-created later (must stay unmerged — pass
    // semantics), and merges absent everywhere.
    val alphabet = Seq("a", "b", "c", "d")
    val rnd = new scala.util.Random(9)
    val docs = (0L until 200L).map { i =>
      val n = 1 + rnd.nextInt(12)
      (i, Seq.fill(n)(alphabet(rnd.nextInt(alphabet.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val merges = Seq(("a", "b"), ("c", "d"), ("a b", "c"), ("b", "c"),
      ("a b c", "d"), ("d", "a"), ("zz", "qq"), ("a", "a"))
    val D = TextOps.BpeDelim
    def naive(text: String): String = {
      var c = D + text.replace(" ", D + D) + D
      merges.foreach { case (l, r) =>
        c = c.replace(D + l + D + D + r + D, D + l + " " + r + D)
      }
      c.substring(1, c.length - 1)
        .split(java.util.regex.Pattern.quote(D + D), -1).mkString("|")
    }
    val want = docs.collect().map(r => r.getLong(0) -> naive(r.getString(1))).toMap
    val got = TextOps.bpeApply(docs, merges).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(got == want, s"indexed/naive divergence: ${
      got.collect { case (k, v) if want(k) != v => (k, v, want(k)) }.take(3)}")
  }

  test("bpeTrain refuses empty tokens (leading/trailing/double spaces)") {
    // split(' a b', ' ') = ["", "a", "b"]: empty tokens are real tokens,
    // but an empty SYMBOL's canonical form is a bare ␁␁, which makes the
    // doubled-delimiter merge encoding ambiguous — in ␁a␁␁␁␁b␁ (tokens
    // a,"",b) the ("","") merge pattern ␁␁␁␁ false-matches the close of
    // `a` + the empty + the open of `b` and corrupts the corpus
    // (observed: "a  b" re-segmented as "a b" after a ("","") merge).
    // The r7 btrim extraction instead silently DROPPED outer empties.
    // Both failure modes are now closed by refusing the row loudly.
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    for (bad <- Seq(" a b", "a b ", "a  b", " ")) {
      val df = Seq((0L, "a b a b"), (1L, bad)).toDF("doc_id", "text")
      val e = intercept[Exception] { TextOps.bpeTrain(df, nMerges = 1) }
      assert(messages(e).exists(_.contains("empty token")),
        s"'$bad' must be refused: $e")
      Caches.releaseAll()
    }
    // whitespace-normalized input round-trips exactly — the invariant
    // the guard protects
    val df = Seq((0L, " a  b ".trim.replaceAll(" +", " ")), (1L, "a b a b"))
      .toDF("doc_id", "text")
    val res = TextOps.bpeTrain(df, nMerges = 2)
    val bad = TextOps.bpeSegments(res.encoded)
      .select($"doc_id", $"n_tokens",
        regexp_replace($"symbols_text", "\\|", " ").as("rejoined"))
      .join(df.select($"doc_id", $"text",
        size(split($"text", " ")).cast("long").as("n_expected")), "doc_id")
      .filter($"rejoined" =!= $"text" || $"n_tokens" =!= $"n_expected")
    assert(bad.count() == 0L, bad.collect().mkString("; "))
    Caches.releaseAll()
  }

  test("bpeTrain refuses text containing the symbol delimiter") {
    val df = Seq((0L, "ok doc"), (1L, "bad \u0001 doc")).toDF("doc_id", "text")
    val e = intercept[Exception] { TextOps.bpeTrain(df, nMerges = 1) }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("U+0001")), e.toString)
    Caches.releaseAll()
  }

  test("bpeTrain: pair exhaustion stops early; caches release") {
    def extra(before: Set[Int]): Set[Int] =
      spark.sparkContext.getPersistentRDDs.keySet.toSet.diff(before)
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    // single-token docs: no adjacent pairs at all → zero merges learned
    val df = Seq((0L, "solo"), (1L, "alone")).toDF("doc_id", "text")
    val res = TextOps.bpeTrain(df, nMerges = 3)
    assert(res.nRounds == 0 && res.merges.count() == 0L)
    assert(TextOps.bpeSegments(res.encoded).collect()
      .map(r => r.getLong(2)).toSeq == Seq(1L, 1L))
    Caches.releaseAll() // free the exhausted trainer's round-0 cache
    // the loop must hold at most ONE corpus round before release
    val docs = Tables.documents(spark, Sf0001)
    TextOps.bpeTrain(docs, nMerges = 3).encoded.count()
    assert(extra(before).size <= 1, s"bpe loop leaked caches: ${extra(before)}")
    Caches.releaseAll()
    assert(extra(before).isEmpty)
  }

  test("maxDupSpan: planted contiguous span, scattered shares, unique doc") {
    // docs 1/2 share a 6-token verbatim span (4 consecutive dup
    // 3-shingles → span 6); doc 3 shares single scattered shingles with
    // 1 (runs of 1 → span 3); doc 4 is fully unique; doc 5 too short
    // for any shingle.
    val span = "v1 v2 v3 v4 v5 v6"
    val df = Seq(
      (1L, s"u1 u2 $span u3 u4"),
      (2L, s"w1 w2 w3 $span w4"),
      (3L, "z1 u1 u2 v1 z2 z3 z4"),    // no 3-shingle shared (u1 u2 v1? doc1 has u1 u2 v1!)
      (4L, "q1 q2 q3 q4 q5"),
      (5L, "p1 p2")).toDF("doc_id", "text")
    val got = Dedup.maxDupSpan(df).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // doc1 dup starts: 1 ("u1 u2 v1", shared with doc3) and 3..6 (the
    // span shingles) — start 2 "u2 v1 v2" is nowhere else, so the runs
    // are {1} and {3,4,5,6}: max run 4 → 6 tokens, 5 dup positions
    assert(got(1L) == (6L, 5L))
    assert(got(2L) == (6L, 4L))        // exactly the 4 span shingles
    assert(got(3L) == (3L, 1L))        // one shared shingle → span 3
    assert(got(4L) == (0L, 0L))
    assert(got(5L) == (0L, 0L))        // shorter than one shingle
  }

  test("bpeTrainBatched: batch=1 equals the sequential trainer; batches are disjoint") {
    val docs = Tables.documents(spark, Sf0001)
    // batchSize = 1 must degenerate EXACTLY to bpeTrain round-for-round
    val seq3 = TextOps.bpeTrain(docs, nMerges = 3).merges
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    Caches.releaseAll()
    val batch1 = TextOps.bpeTrainBatched(docs, nRounds = 3, batchSize = 1).merges
      .collect().map(r => (r.getLong(0), r.getString(2), r.getString(3), r.getLong(4))).toSeq
    Caches.releaseAll()
    assert(batch1 == seq3)
    // within a round, picked symbols never repeat (the commuting guarantee)
    val batched = TextOps.bpeTrainBatched(docs, nRounds = 2, batchSize = 3)
    val byRound = batched.merges.collect()
      .map(r => (r.getLong(0), r.getString(2), r.getString(3)))
      .groupBy(_._1)
    byRound.values.foreach { ms =>
      // a self-pair (x, x) is one pick and legal; disjointness means no
      // symbol is shared across DIFFERENT picks of the same round
      val perPick = ms.map(m => Set(m._2, m._3))
      for (i <- perPick.indices; j <- i + 1 until perPick.length)
        assert(perPick(i).intersect(perPick(j)).isEmpty,
          s"overlapping batch: ${ms.toSeq}")
    }
    // the encoded corpus reflects every learned merge: merged symbols
    // (containing spaces) appear as symbols in the segmentation
    val segs = TextOps.bpeSegments(batched.encoded)
      .select("symbols_text").collect().map(_.getString(0)).mkString("|")
    val firstMerge = batched.merges.orderBy("round", "slot").collect().head
    assert(segs.contains(firstMerge.getString(2) + " " + firstMerge.getString(3)))
    Caches.releaseAll()
  }

  test("stripDupSpans: cuts qualifying runs, keeps scattered shares") {
    // docs 1/2 share a 6-token span (run of 4 shingles → qualifies at
    // minSpanTokens = 6); docs 1/3 share ONE scattered shingle (run 1 →
    // 3 tokens < 6 → kept)
    val span = "v1 v2 v3 v4 v5 v6"
    val df = Seq(
      (1L, s"u1 u2 u3 $span u4"),
      (2L, s"w1 $span w2 w3"),
      (3L, "z1 u1 u2 u3 z2")).toDF("doc_id", "text")
    // doc1's only doc3-shared shingle is "u1 u2 u3" (start 1; start 2's
    // "u2 u3 v1" appears nowhere else) → a run of ONE, below the
    // threshold, so those tokens survive in both docs
    val got = Dedup.stripDupSpans(df, minSpanTokens = 6).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(got(1L) == (("u1 u2 u3 u4", 4L, 6L)))   // span cut, scattered kept
    assert(got(2L) == (("w1 w2 w3", 3L, 6L)))
    assert(got(3L) == (("z1 u1 u2 u3 z2", 5L, 0L))) // short run untouched
  }

  test("crossDupSpan: contamination against a reference set only") {
    // doc 1 contains a verbatim 5-token benchmark region (3 consecutive
    // ref shingles → span 5); docs 1 and 2 share a span with EACH OTHER
    // but not with the reference — cross mode must NOT flag it.
    val trainOnly = "s1 s2 s3 s4 s5 s6"
    val df = Seq(
      (1L, s"x1 b1 b2 b3 b4 b5 x2 $trainOnly"),
      (2L, s"y1 y2 $trainOnly y3")).toDF("doc_id", "text")
    val ref = Seq((100L, "r1 b1 b2 b3 b4 b5 r2 r3")).toDF("doc_id", "text")
    val got = Dedup.crossDupSpan(df, ref).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // doc1: ref shingles are exactly "b1 b2 b3","b2 b3 b4","b3 b4 b5"
    // (starts 2..4) → one run of 3 → 5 tokens; trainOnly never flags
    assert(got(1L) == (5L, 3L))
    assert(got(2L) == (0L, 0L))
  }

  test("collocations: hand-computed PMI ratio on a tiny corpus") {
    // tokens: a×3, b×3, c×1, N = 7; adjacent pairs (a,b)×3, (b,a)×1,
    // (b,c)×1 — minCount 2 keeps only (a,b):
    // ratio = 10⁶·3·7/(3·3) = 2,333,333 (floor)
    val df = Seq("a b a b", "a b c").toDF("text")
    val got = graft.ops.TextOps.collocations(df, minCount = 2L)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      .toMap
    assert(got === Map(("a", "b") -> ((3L, 3L, 3L, 7L, 2333333L))))
    // minCount 1 admits the hapax pairs with their exact ratios:
    // (b,a): 10⁶·1·7/(3·3) = 777777; (b,c): 10⁶·1·7/(3·1) = 2333333
    val all = graft.ops.TextOps.collocations(df, minCount = 1L)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(6))
      .toMap
    assert(all === Map(("a", "b") -> 2333333L, ("b", "a") -> 777777L,
      ("b", "c") -> 2333333L))
  }

  test("grouped quantile bounds equal the global form run per group") {
    import graft.ops.Sketches
    val df = (Seq.tabulate(40)(i => ("a", (i * 3 + 1).toLong)) ++
      Seq.tabulate(25)(i => ("b", (i * 11 + 5).toLong)))
      .toDF("grp", "v")
    val width = 10L
    val qs = Seq((1, 4), (1, 2), (9, 10))
    val grouped = Sketches.groupedBucketedQuantiles(
        Sketches.groupedBucketHistogram(df, "v", width, Seq("grp")),
        width, qs, Seq("grp"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2)) ->
        (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
      .toMap
    for (g <- Seq("a", "b")) {
      val solo = Sketches.bucketedQuantiles(
          Sketches.bucketHistogram(df.filter($"grp" === g), "v", width),
          width, qs)
        .collect().map(r => (g, r.getInt(0), r.getInt(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
        .toMap
      solo.foreach { case (k, v) => assert(grouped(k) === v, s"$k") }
    }
    assert(grouped.size === 6)
  }

  test("kCorePeel: peel depths on a K4 + pendant path; idempotent past convergence") {
    import graft.ops.Graph
    // K4 {1,2,3,4} with the pendant path 1–5–6; k = 2:
    // round 1 peels 6 (deg 1); round 2 peels 5 (its only remaining
    // neighbor is 1 → deg 1); the K4 (deg 3) survives forever
    val k4 = for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b)
    val edges = (k4 ++ Seq((1L, 5L), (5L, 6L))).toDF("src", "dst")
    val got = Graph.kCorePeel(edges, k = 2L, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L,
      5L -> 2L, 6L -> 1L))
    Caches.releaseAll()
    // extra rounds past convergence change nothing (the property that
    // keeps the fixed round count oracle-safe)
    val more = Graph.kCorePeel(edges, k = 2L, rounds = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(more === got)
    Caches.releaseAll()
    // symmetric = true (the pre-canonicalized contract) must be
    // result-identical when the input really is symmetrized + deduped
    val sym = edges.unionAll(edges.select($"dst".as("src"), $"src".as("dst")))
    val fast = Graph.kCorePeel(sym, k = 2L, rounds = 3, symmetric = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast === got,
      "symmetric=true on canonical input must equal the default path")
    Caches.releaseAll()
  }

  test("rfmSegments: width-1 thresholds are exact quartiles on a hand fixture") {
    import org.apache.spark.sql.functions.timestamp_micros
    // 4 customers strictly ordered on every metric; width 1 on all
    // three makes the histogram thresholds EXACT quartiles, so the
    // expected segments are hand-computable: recency inverts (larger
    // days = staler = higher q), frequency/monetary ascend
    val orders = Seq(
      (1L, 0L, 1.0), // 1 order, day 0, $1 total
      (2L, 10L, 1.0), (2L, 10L, 1.0),
      (3L, 20L, 1.0), (3L, 20L, 1.0), (3L, 20L, 1.0),
      (4L, 30L, 1.0), (4L, 30L, 1.0), (4L, 30L, 1.0), (4L, 30L, 1.0))
      .toDF("o_custkey", "day", "o_totalprice")
      .select($"o_custkey",
        timestamp_micros($"day" * 86400000000L).as("o_orderdate"),
        $"o_totalprice")
    val got = graft.ops.Commerce.rfmSegments(orders,
        recencyWidthDays = 1L, monetaryWidthCents = 1L)
      .collect().map(r => r.getLong(0) -> r.getLong(7)).toMap
    assert(got === Map(1L -> 411L, 2L -> 322L, 3L -> 233L, 4L -> 144L))
    Caches.releaseAll()
  }

  test("labelPropagation: hand-traced rounds, ties to smallest, no-in-edge keep") {
    import graft.ops.Graph
    // bidirectional star 0–{1,2,3,4} plus the directed stub 9 → 10
    val star = Seq(1L, 2L, 3L, 4L).flatMap(l => Seq((0L, l), (l, 0L)))
    val edges = (star :+ ((9L, 10L))).toDF("src", "dst")
    // round 1: center sees labels {1,2,3,4} once each → tie → 1;
    // leaves see {0} → 0; 9 has no in-edges → keeps 9; 10 adopts 9
    val r1 = Graph.labelPropagation(edges, rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1 === Map(0L -> 1L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L,
      9L -> 9L, 10L -> 9L))
    // round 2 (synchronous): center sees the leaves' round-1 labels
    // {0,0,0,0} → 0; leaves see the center's round-1 label → 1 — the
    // classic bipartite oscillation, which is exactly what makes the
    // determinism observable
    val r2 = Graph.labelPropagation(edges, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r2 === Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      9L -> 9L, 10L -> 9L))
    Caches.releaseAll()
    // two DISJOINT K3s converge to one label per community (the min
    // member, by the tie rule) within 3 rounds — note a BRIDGED pair
    // would legitimately leak labels across (ties at the bridge pick
    // the smaller, foreign label), which is LPA behavior, not a bug
    val k3a = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    val k3b = Seq((4L, 5L), (5L, 6L), (4L, 6L))
    val und = (k3a ++ k3b)
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    val got = Graph.labelPropagation(und, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 4L, 6L -> 4L))
    Caches.releaseAll()
  }

  test("graph ops past the lineage cut (rounds = 6) match a driver-side simulation") {
    import graft.ops.Graph
    // the graph ops cut every 5th round, never the last, so only
    // rounds > 5 run the cut: a seeded 20-node random core plus the
    // 20-node pendant path 20–21–…–39 hanging off node 0, which keeps
    // peeling, BFS and label flow moving one step per round
    val rnd = new scala.util.Random(7)
    val core = for (a <- 0L until 20L; b <- a + 1 until 20L if rnd.nextDouble() < 0.3)
      yield (a, b)
    val und = core ++ Seq((0L, 20L)) ++ (20L until 39L).map(a => (a, a + 1))
    val dir = und.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val nodes = dir.map(_._1).distinct
    val out = dir.groupBy(_._1).map { case (a, es) => a -> es.map(_._2) }
    val in = dir.groupBy(_._2).map { case (b, es) => b -> es.map(_._1) }
    val rounds = 6
    val edges = dir.toDF("src", "dst")
    def asMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    // pageRank: rank' = 150000 + (Σ_in rank div outdeg · 17) div 20
    var rank = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to rounds) rank = nodes.map { v =>
      val inc = in.getOrElse(v, Nil).map(u => rank(u) / out(u).size).sum
      v -> (150000L + inc * 17 / 20)
    }.toMap
    assert(asMap(Graph.pageRank(edges, iters = rounds)) == rank)
    // labelPropagation: most frequent in-neighbour label, ties to smallest
    var label = nodes.map(v => v -> v).toMap
    for (_ <- 1 to rounds) label = nodes.map { v =>
      v -> in.get(v).fold(label(v)) { us =>
        us.groupBy(label).toSeq.map { case (l, vs) => (-vs.size, l) }.min._2
      }
    }.toMap
    assert(asMap(Graph.labelPropagation(edges, rounds = rounds)) == label)
    // bfsHops from the path's far end: exact distances up to `rounds`
    var hops = Map(39L -> 0L)
    for (r <- 1 to rounds) hops ++= hops.collect { case (v, h) if h == r - 1 =>
      out(v).filterNot(hops.contains).map(_ -> r.toLong) }.flatten
    assert(asMap(Graph.bfsHops(edges, Seq(Tuple1(39L)).toDF("node"),
      rounds = rounds)) == hops)
    // kCorePeel, k = 2: synchronous removal of alive nodes with < k
    // alive neighbours; 0 = survived every round
    var alive = nodes.toSet
    var peeled = nodes.map(_ -> 0L).toMap
    for (r <- 1 to rounds) {
      val gone = alive.filter(v => out(v).count(alive) < 2)
      peeled ++= gone.map(_ -> r.toLong)
      alive --= gone
    }
    assert((1L to rounds.toLong).forall(peeled.values.toSet), s"peel depths: $peeled")
    assert(asMap(Graph.kCorePeel(edges, k = 2L, rounds = rounds)) == peeled)
    Caches.releaseAll()
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet.diff(before).isEmpty,
      "a graph op's cut survived Caches.releaseAll()")
  }

  test("cmsJoinSize: never undercounts, exact on single-key sketches, loud guards") {
    import graft.ops.Sketches
    // single shared key: every sketch row's dot is exactly fA·fB = 6 —
    // no other key exists to collide with
    val a = Seq.fill(3)("x").toDF("item")
    val b = Seq.fill(2)("x").toDF("item")
    val est = Sketches.cmsJoinSize(
      Sketches.cmsCounters(a), Sketches.cmsCounters(b)).head().getLong(0)
    assert(est === 6L)
    // real data: the events self-join — estimate >= exact, always, and
    // within the 3x-of-expected-overshoot band (F1² / width per row)
    val users = Tables.events(spark, Sf0001)
      .select($"user_id".cast("string").as("item"))
    val c4k = Sketches.cmsCounters(users, width = 4096)
    val got = Sketches.cmsJoinSize(c4k, c4k, width = 4096).head().getLong(0)
    val exact = users.groupBy($"item").count()
      .agg(sum($"count" * $"count")).head().getLong(0)
    val f1 = users.count()
    assert(got >= exact, s"CMS inner product must never undercount: $got < $exact")
    assert(got - exact <= 3L * f1 * f1 / 4096L,
      s"overshoot $got - $exact outside 3x the expected F1²/w band")
    // geometry mismatch refuses (4096-wide cells at the default width)
    val e = intercept[IllegalArgumentException] {
      Sketches.cmsJoinSize(c4k, c4k)
    }
    assert(e.getMessage.contains("different geometry"))
    // an estimate past 2^63 refuses loudly instead of truncating
    val huge = (0 until 3).map(r => (r, 0L, 1L << 40)).toDF("row", "bucket", "cnt")
    val e2 = intercept[Exception] {
      Sketches.cmsJoinSize(huge, huge).collect()
    }
    assert(e2.getMessage.contains("astronomically") ||
      Option(e2.getCause).exists(_.getMessage.contains("astronomically")))
  }

  test("cms saturation statistic: min per-row saturated fraction, silent/loud split") {
    import graft.ops.Sketches
    // width 4, depth 2: row 0 has 3 of 4 buckets >= 10, row 1 has 1 of
    // 4 — the statistic is the MINIMUM (an item must pass every row),
    // so 0.25, below the 0.5 alarm line
    val cells = Seq((0, 0L, 12L), (0, 1L, 10L), (0, 2L, 11L), (0, 3L, 2L),
      (1, 0L, 10L), (1, 1L, 3L), (1, 2L, 4L))
    assert(Sketches.saturatedFraction(cells, 4, 2, 10L) === 0.25)
    // raise every row-1 bucket past the threshold -> 0.75, alarm-loud
    val sat = cells.map { case (r, b, c) => (r, b, if (r == 1) 100L else c) }
    assert(Sketches.saturatedFraction(sat, 4, 2, 10L) === 0.75)
    // absent cells count as unsaturated (they estimate 0)
    assert(Sketches.saturatedFraction(Seq.empty, 4, 2, 10L) === 0.0)
    assert(Sketches.SaturationWarnFraction === 0.5)
  }

  test("association rules: hand-computed fixture, dedup, both directions") {
    // b1:{1,2,3} (item 1 repeated — must dedup), b2:{1,2}, b3:{1,2},
    // b4:{2,4}. Pairs: (1,2)=3, (1,3)=1, (2,3)=1, (2,4)=1.
    val df = Seq((10L, 1L), (10L, 1L), (10L, 2L), (10L, 3L),
      (20L, 1L), (20L, 2L), (30L, 1L), (30L, 2L), (40L, 2L), (40L, 4L))
      .toDF("basket", "item")
    val pairs = graft.ops.Associations.pairCounts(df, "basket", "item")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs === Map((1L, 2L) -> 3L, (1L, 3L) -> 1L,
      (2L, 3L) -> 1L, (2L, 4L) -> 1L))
    // rules at support 3: only (1,2) survives; supports 1→3, 2→4, N=4
    val rules = graft.ops.Associations.rules(df, "basket", "item", 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getLong(7))).toMap
    // 1→2: conf = 1000·3/3 = 1000; lift = 10⁶·3·4/(3·4) = 10⁶
    assert(rules === Map(
      (1L, 2L) -> ((3L, 3L, 4L, 4L, 1000L, 1000000L)),
      (2L, 1L) -> ((3L, 4L, 3L, 4L, 750L, 1000000L))))
  }

  test("association rules: oversized baskets raise in-row, never truncate") {
    val df = Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 1L))
      .toDF("basket", "item")
    val e = intercept[Exception] {
      graft.ops.Associations.pairCounts(df, "basket", "item",
        maxBasket = 2).collect()
    }
    assert(e.getMessage != null &&
      (e.getMessage.contains("quadratic") ||
        Option(e.getCause).exists(_.getMessage.contains("quadratic"))))
  }
}
