package graft

import org.apache.spark.sql.functions._

import graft.ops.{Caches, Search, Sketches}

/** Full-text retrieval + CMS heavy-hitter semantics. The DuckDB gate
  * covers corpus-level parity; these fixtures pin the semantics a
  * hash-match cannot localize — hand-computed scores, overlap/edge
  * shapes, the sketch's overestimate invariant, and loud guards.
  */
class SearchSpec extends SparkSpec {
  import spark.implicits._

  private def docs2 = Seq(
    // doc 1: dl 4, 'cat' x2; doc 2: dl 2, 'cat' x1; doc 3: no hits
    (1L, "cat dog cat bird"),
    (2L, "cat fish"),
    (3L, "bird bird")).toDF("doc_id", "text")

  test("rankedSearch: hand-computed fixed-point scores, exact") {
    // N = 3, T = 8, avgdl_milli = 8000/3 = 2666.
    // 'cat': df 2, rarity = 1000000*(3-2+1)//4 = 500000
    // 'dog': df 1, rarity = 1000000*(3-1+1)//4 = 750000
    // doc 1 (dl 4): dlnorm = 9000000*4 // 2666 = 13503
    //   cat tf 2: sat = 44e9 // (20000+3000+13503) = 44e9 // 36503 = 1205380
    //   dog tf 1: sat = 22e9 // (10000+3000+13503) = 22e9 // 26503 = 830094
    //   score = 500000*1205380 + 750000*830094
    // doc 2 (dl 2): dlnorm = 9000000*2 // 2666 = 6751
    //   cat tf 1: sat = 22e9 // (10000+3000+6751) = 22e9 // 19751 = 1113867
    //   score = 500000*1113867
    val r = Search.rankedSearch(docs2, Seq("cat", "dog"), k = 10)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    assert(r.toSeq == Seq(
      (1L, 500000L * 1205380L + 750000L * 830094L, 2L),
      (2L, 500000L * 1113867L, 1L)))
  }

  test("rankedSearch: duplicate query terms collapse; k truncates; guards fire") {
    val dup = Search.rankedSearch(docs2, Seq("cat", "cat", "dog"), k = 10).collect()
    val one = Search.rankedSearch(docs2, Seq("cat", "dog"), k = 10).collect()
    assert(dup.toSeq == one.toSeq, "a repeated term must not double-score")
    assert(Search.rankedSearch(docs2, Seq("cat", "dog"), k = 1).count() == 1)
    intercept[IllegalArgumentException] {
      Search.rankedSearch(docs2, Seq.empty)
    }
    intercept[IllegalArgumentException] {
      Search.rankedSearch(docs2, Seq("two words"))
    }
  }

  test("booleanSearch: conjunction, negation, tf_sum; guards") {
    val r = Search.booleanSearch(docs2, all = Seq("cat", "bird"))
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(r.toSeq == Seq((1L, 3L)), "doc 1 has cat x2 + bird x1")
    val neg = Search.booleanSearch(docs2, all = Seq("cat"), none = Seq("bird"))
      .collect().map(_.getLong(0))
    assert(neg.toSeq == Seq(2L), "doc 1 banned by 'bird', doc 3 lacks 'cat'")
    intercept[IllegalArgumentException] {
      Search.booleanSearch(docs2, all = Seq.empty, none = Seq("x"))
    }
    intercept[IllegalArgumentException] {
      Search.booleanSearch(docs2, all = Seq("cat"), none = Seq("cat"))
    }
  }

  test("phraseSearch: overlapping matches, m=3, single term, absent phrase") {
    val d = Seq((1L, "a a a b c"), (2L, "a b c a"), (3L, "c b a"))
      .toDF("doc_id", "text")
    // overlapping starts: 'a a' occurs at 0 and 1 in doc 1
    val aa = Search.phraseSearch(d, Seq("a", "a"))
      .collect().map(x => (x.getLong(0), x.getInt(1))).toSet
    assert(aa == Set((1L, 0), (1L, 1)))
    val abc = Search.phraseSearch(d, Seq("a", "b", "c"))
      .collect().map(x => (x.getLong(0), x.getInt(1))).toSet
    assert(abc == Set((1L, 2), (2L, 0)))
    val single = Search.phraseSearch(d, Seq("c"))
      .collect().map(x => (x.getLong(0), x.getInt(1))).toSet
    assert(single == Set((1L, 4), (2L, 2), (3L, 0)))
    assert(Search.phraseSearch(d, Seq("c", "c")).count() == 0)
    Caches.releaseAll()
  }

  test("postings and positionalPostings agree with each other") {
    val p = Search.postings(docs2)
    val fromPos = Search.positionalPostings(docs2)
      .groupBy($"token", $"doc_id").agg(count(lit(1)).as("tf"))
    assert(p.exceptAll(fromPos).count() == 0 &&
      fromPos.exceptAll(p).count() == 0)
  }

  test("CMS estimate never undercounts, even at adversarial width") {
    // width 2, depth 2: massive collisions — the overestimate
    // invariant est >= n_true must hold regardless
    val items = Tables.documents(spark, Sf0001).limit(50)
      .select(explode(split($"text", " ")).as("item"))
    val est = Sketches.cmsEstimates(items,
      Sketches.cmsCounters(items, width = 2, depth = 2),
      width = 2, depth = 2)
    assert(est.filter($"est" < $"n_true").count() == 0)
    assert(est.count() > 10, "fixture must have a real vocabulary")
  }

  test("cmsHeavyHitters equals brute force under forced collisions") {
    val items = Tables.documents(spark, Sf0001).limit(80)
      .select(explode(split($"text", " ")).as("item"))
    val thr = 40L
    val viaCms = Sketches.cmsHeavyHitters(items, thr, width = 4, depth = 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val brute = items.groupBy($"item").agg(count(lit(1)).as("n_occurrences"))
      .filter($"n_occurrences" >= thr)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(viaCms == brute,
      "collision false-positives must be trimmed by the exact verify")
    assert(brute.nonEmpty, "fixture must contain heavies")
    intercept[IllegalArgumentException] {
      Sketches.cmsHeavyHitters(items, 0L)
    }
  }

  test("CMS prune actually prunes: light items never reach the exact aggregate") {
    // Skewed fixture: one mega-item + a long unique tail. With an
    // adequate width, every tail item's estimate stays below the
    // threshold, so the exact aggregate's input is just the mega-item's
    // occurrences — THE claim that replaces the universe-wide shuffle.
    val items = spark.range(10000)
      .select(when($"id" < 5000, lit("mega"))
        .otherwise(concat(lit("tail"), $"id")).as("item"))
    val counters = Sketches.cmsCounters(items, width = 4096, depth = 3)
    val est = Sketches.cmsEstimates(items, counters, width = 4096, depth = 3)
    val survivors = est.filter($"est" >= 1000L)
    assert(survivors.count() < 50,
      "width 4096 must prove almost every tail item light")
    val hh = Sketches.cmsHeavyHitters(items, 1000L, width = 4096, depth = 3)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(hh.toSeq == Seq(("mega", 5000L)))
  }

  test("fresh item against stale counters estimates 0, not null") {
    val seen = Seq("a", "a", "b").toDF("item")
    val counters = Sketches.cmsCounters(seen, width = 8, depth = 2)
    val fresh = Seq("zzz-never-seen").toDF("item")
    val est = Sketches.cmsEstimates(fresh, counters, width = 8, depth = 2)
      .collect()
    assert(est.length == 1 && !est(0).isNullAt(1) &&
      est(0).getLong(1) == 0L)
  }

  test("perRowPostings exactly equals the batch postings aggregate") {
    // the streaming ingest rides this equivalence: a lost run or an
    // off-by-one run length would desync the stored index from the
    // batch path
    val docs = Tables.documents(spark, Sf0001).limit(120)
    // positions compare as '|'-joined keys: exceptAll's array equality
    // is fine, but a string key makes a mismatch readable
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.select($"token", $"doc_id", $"dl", $"tf",
        concat_ws("|", transform($"positions", p => p.cast("string")))
          .as("pos_key"))
    val perRow = keyed(Search.perRowPostings(docs))
    val batch = keyed(graft.jobs.BuildTextIndex.postingsTable(docs))
    assert(perRow.exceptAll(batch).count() == 0 &&
      batch.exceptAll(perRow).count() == 0)
    // edge shapes: empty text (one "" token), single token, all-same,
    // all-distinct
    val edges = Seq((1L, ""), (2L, "x"), (3L, "y y y"), (4L, "a b c"))
      .toDF("doc_id", "text")
    val e = Search.perRowPostings(edges)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .toSet
    assert(e == Set(("", 1L, 1, 1L), ("x", 2L, 1, 1L), ("y", 3L, 3, 3L),
      ("a", 4L, 3, 1L), ("b", 4L, 3, 1L), ("c", 4L, 3, 1L)))
  }

  test("proximitySearch: window semantics, same-term pairs, guards") {
    val d = Seq(
      (1L, "x a b y"),      // dist(a,y) = 2
      (2L, "a q q q q y"),  // dist 5 > window
      (3L, "y a y"),        // two pairs at dist 1; min 1
      (4L, "a a a")).toDF("doc_id", "text")
    val r = Search.proximitySearch(d, "a", "y", window = 2)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    assert(r == Set((1L, 1L, 2L), (3L, 2L, 1L)))
    // same term: unordered occurrence pairs, never self-pairs
    val same = Search.proximitySearch(d, "a", "a", window = 1)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    assert(same == Set((4L, 2L, 1L)), "doc 4 has (0,1) and (1,2); never (i,i)")
    intercept[IllegalArgumentException] {
      Search.proximitySearch(d, "a", "y", window = 0)
    }
    Caches.releaseAll()
  }

  test("fixed-point overflow guard refuses a 4e8-token document loudly") {
    // 22e9 * tf in long arithmetic wraps negative past tf ~ 4.2e8; the
    // guard must refuse BEFORE a silently corrupted ranking ships. A
    // real 4e8-token doc won't fit a fixture, so the guard is driven
    // through a hand-built postings row via the shared scorer.
    val post = Seq(("cat", 1L, 500000001, 500000001L))
      .toDF("token", "doc_id", "dl", "tf")
    val stats = Seq((1L, 1000L)).toDF("n_docs", "avgdl_milli")
    val e = intercept[Exception] {
      graft.ops.Search.scoredTopK(post, stats, 5, "doc_id").collect()
    }
    Caches.releaseAll()
    assert(e.getMessage != null && e.getMessage.contains("4e8"),
      s"expected the loud fixed-point guard, got: ${e.getMessage}")
  }

  test("CMS geometry that cannot broadcast is refused loudly") {
    val items = Seq("a").toDF("item")
    val e = intercept[IllegalArgumentException] {
      Sketches.cmsCounters(items, width = 20000000, depth = 3)
    }
    assert(e.getMessage.contains("broadcastable"))
  }

  test("passages: window clamps at both document edges; zero-shuffle plan") {
    val d = Seq((1L, "a b T c d"), (2L, "T x"), (3L, "y T")).toDF("doc_id", "text")
    val r = Search.passages(d, "T", window = 2)
      .collect().map(x => (x.getLong(0), x.getInt(1), x.getString(2))).toSet
    assert(r == Set((1L, 2, "a b T c d"), (2L, 0, "T x"), (3L, 1, "y T")))
    // map-side only: no Exchange anywhere in the plan
    val plan = Search.passages(d, "T", 2).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"passages must not shuffle:\n$plan")
    intercept[IllegalArgumentException] { Search.passages(d, "", 2) }
    intercept[IllegalArgumentException] { Search.passages(d, "T", -1) }
  }

  test("cmsHeavyHittersAtFraction equals the absolute-threshold path") {
    // the fraction form derives total + threshold from the counter
    // table (no extra corpus pass); the answers must be identical
    val items = Tables.documents(spark, Sf0001).limit(100)
      .select(explode(split($"text", " ")).as("item"))
    val total = items.count()
    val divisor = 64L
    val viaFraction = Sketches.cmsHeavyHittersAtFraction(items, divisor)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val viaAbsolute = Sketches.cmsHeavyHitters(items,
        math.max(1L, total / divisor))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(viaFraction == viaAbsolute && viaFraction.nonEmpty)
    intercept[IllegalArgumentException] {
      Sketches.cmsHeavyHittersAtFraction(items, 0L)
    }
  }

  test("CMS counters merge cell-wise: halves == whole, incremental heavy hitters exact") {
    // mergeability is THE sketch property: per-batch counter tables
    // fold once and merge at read, so no historical batch re-scans
    val docs = Tables.documents(spark, Sf0001).limit(120)
    def toks(df: org.apache.spark.sql.DataFrame) =
      df.select(explode(split($"text", " ")).as("item"))
    val a = toks(docs.filter($"doc_id" < 60))
    val b = toks(docs.filter($"doc_id" >= 60))
    val whole = toks(docs)
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val merged = Sketches.mergeCounters(
      Seq(Sketches.cmsCounters(a), Sketches.cmsCounters(b)))
    assert(cells(merged) == cells(Sketches.cmsCounters(whole)),
      "merged halves must equal the whole-stream fold cell-for-cell")
    // incremental heavy hitters over merged counters == direct
    val viaMerged = Sketches.cmsHeavyHittersWithCounters(whole, merged, 30L)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val direct = Sketches.cmsHeavyHitters(whole, 30L)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(viaMerged == direct && direct.nonEmpty)
    // r10 advice: a RAW UNION of per-batch tables (the caller skipping
    // mergeCounters) carries duplicate (row, bucket) cells — the d
    // estimate joins would multiply occurrence rows and inflate the
    // "exact" counts. The defensive re-aggregation inside
    // cmsHeavyHittersWithCounters must make the raw union degrade to
    // the merged answer, not a corrupted one.
    val rawUnion = Sketches.cmsCounters(a).unionByName(Sketches.cmsCounters(b))
    val viaRaw = Sketches.cmsHeavyHittersWithCounters(whole, rawUnion, 30L)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(viaRaw == direct,
      "raw-union counter tables must not inflate the exact counts")
    // geometry mismatch refuses loudly instead of merging garbage —
    // IN-ROW now (the guard rides the merge; an eager count would
    // execute every input fold twice), so the refusal fires at
    // execution
    val e = intercept[Exception] {
      Sketches.mergeCounters(
        Seq(Sketches.cmsCounters(a, width = 4096), Sketches.cmsCounters(b)))
        .collect()
    }
    val eMsg = e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(eMsg.contains("geometry"), eMsg)
    // eagerCheck=true closes the prune caveat for ad-hoc merges: the
    // refusal fires at CALL time, before any consumer could drop cnt
    val e2 = intercept[IllegalArgumentException] {
      Sketches.mergeCounters(
        Seq(Sketches.cmsCounters(a, width = 4096), Sketches.cmsCounters(b)),
        eagerCheck = true)
    }
    assert(e2.getMessage.contains("geometry"))
    // and a legal eager merge equals the default-path merge
    assert(Sketches.mergeCounters(
        Seq(Sketches.cmsCounters(a), Sketches.cmsCounters(b)),
        eagerCheck = true)
      .collect().map(_.toSeq).toSet ==
      Sketches.mergeCounters(
        Seq(Sketches.cmsCounters(a), Sketches.cmsCounters(b)))
      .collect().map(_.toSeq).toSet)
  }

  test("bucket histograms merge cell-wise; quantile bounds contain the exact nearest-rank value") {
    // the mergeable-profile contract: per-slice histograms fold once
    // and merge by addition (halves == whole), and every quantile
    // bound [lo, hi] derived from the histogram must CONTAIN the value
    // an exact full-sort nearest-rank pick returns — the containment
    // is what makes the width the honest error bound
    val vals = Tables.events(spark, Sf0001)
      .select($"event_id", round($"value" * 100).cast("long").as("cents"))
    val width = 100L
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val whole = Sketches.bucketHistogram(vals, "cents", width)
    val merged = Sketches.mergeHistograms(Seq(
      Sketches.bucketHistogram(vals.filter($"event_id" % 2 === 0), "cents", width),
      Sketches.bucketHistogram(vals.filter($"event_id" % 2 === 1), "cents", width)))
    assert(cells(merged) == cells(whole),
      "merged slice histograms must equal the whole-column fold")
    val qs = Seq((1, 4), (1, 2), (9, 10), (99, 100), (999, 1000), (1, 1))
    val got = Sketches.bucketedQuantiles(whole, width, qs)
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(5), r.getLong(6))).toMap
    val sortedVals = vals.select($"cents").orderBy($"cents")
      .collect().map(_.getLong(0))
    val n = sortedVals.length.toLong
    qs.foreach { case (num, den) =>
      val (nTotal, rank, lo, hi) = got((num, den))
      assert(nTotal == n)
      assert(rank == (num.toLong * n + den - 1) / den)
      val exact = sortedVals((rank - 1).toInt) // 1-based nearest rank
      assert(lo <= exact && exact <= hi,
        s"q=$num/$den: exact $exact outside [$lo, $hi]")
      assert(hi - lo == width - 1)
    }
    // floor bucketing is toward -inf on BOTH signs (a truncating div
    // would fold [-99, 99] into one bucket and shift every negative
    // quantile)
    val negs = Seq(-250L, -100L, -1L, 0L, 99L, 100L).toDF("cents")
    assert(cells(Sketches.bucketHistogram(negs, "cents", 100L)) ==
      Map(-3L -> 1L, -1L -> 2L, 0L -> 2L, 1L -> 1L))
    // NULLs drop explicitly — a null bucket would sort engine-
    // differently in the rank walk; same rule in the sketch fold
    val withNulls = Seq(Some(5L), None, Some(105L), None).toDF("cents")
    assert(cells(Sketches.bucketHistogram(withNulls, "cents", 100L)) ==
      Map(0L -> 1L, 1L -> 1L))
    assert(Sketches.cmsCounters(
        Seq(Some("a"), None, Some("a")).toDF("item"), "item",
        width = 16, depth = 2)
      .agg(sum($"cnt")).head.getLong(0) == 4L,
      "null items must not contribute sketch cells (2 items x 2 rows = 4)")
    intercept[IllegalArgumentException] {
      Sketches.bucketedQuantiles(whole, width, Seq((0, 2)))
    }
    intercept[IllegalArgumentException] {
      Sketches.bucketHistogram(vals, "cents", 0L)
    }
  }

  test("fixed-point scores stay exact past the 2^53 double boundary") {
    // tfsat's dividend 22e9*tf crosses 2^53 at tf ~ 4.1e5 — an
    // in-domain spam document. A double-division idiv is exact there
    // ONLY because 22e9's trailing-zero binary factors out-pace the
    // ulp (an accident the decimal form does not rely on); this pins
    // the band against exact BigInt arithmetic so any future idiv
    // change that loses unconditional exactness fails here.
    val nDocs = 1000L; val avgdlMilli = 50000L
    val dl = 500000
    val post = spark.range(1000).select(
      lit("t").as("token"), $"id".as("doc_id"), lit(dl).as("dl"),
      ($"id" + 410000L).as("tf"))
    val stats = Seq((nDocs, avgdlMilli)).toDF("n_docs", "avgdl_milli")
    val got = graft.ops.Search.scoredTopK(post, stats, 1000, "doc_id")
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    Caches.releaseAll()
    def exact(tf: Long): Long = {
      val df = BigInt(1000) // every doc carries token t
      val rarity = (BigInt(1000000) * (BigInt(nDocs) - df + 1)) / (BigInt(nDocs) + 1)
      val dln = (BigInt(9000000) * dl) / avgdlMilli
      val sat = (BigInt("22000000000") * tf) / (BigInt(10000) * tf + 3000 + dln)
      (rarity * sat).toLong
    }
    (0L until 1000L).foreach { i =>
      assert(got(i) == exact(i + 410000L),
        s"doc $i tf ${i + 410000L}: got ${got(i)}, exact ${exact(i + 410000L)}")
    }
  }
}
