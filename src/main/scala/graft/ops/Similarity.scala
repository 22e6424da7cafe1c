package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor operators over an embedding column
  * (Array[Float]).
  *
  * Numeric portability: embeddings are cast to Array[Double] BEFORE any
  * arithmetic, and cosine is always the same expression shape
  * dot(a,b) / (sqrt(dot(a,a)) · sqrt(dot(b,b))) — float64 scalar chains
  * are bit-identical across engines; only the candidate ORDER matters,
  * and ties break on vec_id. The oracle SQL mirrors the shape exactly.
  *
  * Norms are precomputed once per vector (a projection below the join,
  * which Catalyst cannot re-inline across the join barrier): pairwise
  * work is one dot product, not three — the dominant cost since Catalyst
  * HOF lambdas are interpreted.
  *
  * Scale posture: brute force is a broadcast of the (small) query set
  * over a partition-parallel corpus scan — linear, no shuffle until the
  * per-query top-k (tiny). The IVF variants bucket the corpus by nearest
  * centroid so each query/pair probes one bucket: the 100 TB path, where
  * the corpus shuffles on cluster id and per-bucket fan-in is corpus/K.
  */
object Similarity {

  /** Sequential-fold dot product of two Array[Double] columns — the same
    * left-to-right summation order DuckDB's list_dot_product uses.
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Pairwise hot path: the custom codegen Expression (bit-identical to
    * [[dot]], ~an order of magnitude less per-element overhead since HOF
    * lambdas are interpreted). Norms keep the HOF form — once per vector
    * it is cheap, and it keeps the zip_with surface exercised.
    */
  def dotFast(a: Column, b: Column): Column =
    graft.expressions.DotProduct.dotNative(a, b)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Cast to double + precompute the L2 norm once per vector. */
  private def withNorm(df: DataFrame, embCol: String, normName: String): DataFrame = {
    val d = df.withColumn(embCol, col(embCol).cast("array<double>"))
    d.withColumn(normName, sqrt(dot(col(embCol), col(embCol))))
  }

  /** Brute-force top-k neighbors for each query vector (queries broadcast,
    * corpus scanned once). Output: (query_id, rk, neighbor_id).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val c = withNorm(corpus, embCol, "__norm")
    val q = withNorm(queries, embCol, "__qnorm")
      .select(col(idCol).as("query_id"), col(embCol).as("qv"), col("__qnorm"))
    val scored = c.join(broadcast(q), col(idCol) =!= col("query_id"))
      .withColumn("cos", dotFast(col("qv"), col(embCol)) / (col("__qnorm") * col("__norm")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col(idCol))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col(idCol).as("neighbor_id"))
  }

  /** Assign every vector to its nearest centroid (IVF coarse quantizer).
    * Centroids are broadcast; ties broken by centroid id. Output keeps
    * the double-cast embedding and its precomputed `__norm`.
    */
  def assignClusters(corpus: DataFrame, centroids: DataFrame,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val c = withNorm(corpus, embCol, "__norm")
    val cent = withNorm(centroids, embCol, "__cnorm")
      .select(col(idCol).as("centroid_id"), col(embCol).as("cv"), col("__cnorm"))
    val scored = c.crossJoin(broadcast(cent))
      .withColumn("ccos", dotFast(col("cv"), col(embCol)) / (col("__cnorm") * col("__norm")))
    val w = Window.partitionBy(col(idCol)).orderBy(col("ccos").desc, col("centroid_id"))
    scored.withColumn("crk", row_number().over(w))
      .filter(col("crk") === 1)
      .select(col(idCol), col(embCol), col("__norm"), col("centroid_id").as("cluster"))
  }

  /** Embedding near-duplicate pairs, IVF-cluster-blocked: the quadratic
    * compare is confined to vectors sharing a nearest centroid (corpus/K
    * per bucket), the deterministic-approximate scale path for
    * embedding-cosine dedup. Threshold compares identically across
    * engines because the cosine expression shape is fixed.
    */
  def nearDupPairs(corpus: DataFrame, centroids: DataFrame,
      thresholdPct: Int, idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame =
    pairsFromAssigned(assignClusters(corpus, centroids, idCol, embCol),
      thresholdPct, idCol, embCol)

  /** Cluster-blocked above-threshold cosine pairs over an already
    * assigned corpus (shared by [[nearDupPairs]] and [[semanticDedup]],
    * which needs the assignment again for its keep flags).
    */
  private def pairsFromAssigned(assigned: DataFrame, thresholdPct: Int,
      idCol: String, embCol: String): DataFrame = {
    val a = assigned.select(col(idCol).as("vec_a"), col(embCol).as("va"),
      col("__norm").as("__na"), col("cluster"))
    val b = assigned.select(col(idCol).as("vec_b"), col(embCol).as("vb"),
      col("__norm").as("__nb"), col("cluster"))
    a.join(b, Seq("cluster"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos", dotFast(col("va"), col("vb")) / (col("__na") * col("__nb")))
      .filter(col("cos") * 100 > thresholdPct)
      .select(col("vec_a"), col("vec_b"), col("cluster"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): embeddings are clustered by the coarse
    * quantizer, the quadratic cosine compare is CONFINED to each
    * cluster, and every vector with a lower-id above-threshold
    * neighbor in its cluster is dropped — the paper keeps one
    * arbitrary member per semantic-duplicate group; id order makes
    * the representative choice deterministic and engine-portable.
    * Output: every corpus row with (id, cluster, kept).
    *
    * Scale shape: one broadcast-centroid assignment pass, one
    * bucket-confined pair join (corpus/K rows per bucket task), and a
    * left join against the DISTINCT removed-id set — the dup set is a
    * small fraction of the corpus whenever the threshold is doing its
    * job, so AQE broadcasts it.
    */
  def semanticDedup(corpus: DataFrame, centroids: DataFrame,
      thresholdPct: Int, idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    // the assignment feeds three consumers (both pair-join sides + the
    // keep-flag base); cached so the broadcast-crossJoin + per-id window
    // runs ONCE, registered for release after the query (the
    // ngramJaccardPairs measurement: pruned re-derivation defeats
    // exchange reuse and re-pays the assignment per consumer)
    val assigned = Caches.register(
      assignClusters(corpus, centroids, idCol, embCol).cache())
    val dups = pairsFromAssigned(assigned, thresholdPct, idCol, embCol)
      .select(col("vec_b").as(idCol)).distinct()
      .withColumn("__dup", lit(true))
    assigned.join(dups, Seq(idCol), "left")
      .select(col(idCol), col("cluster"), col("__dup").isNull.as("kept"))
  }

  /** Multi-probe IVF top-k: the corpus stays partitioned by nearest
    * centroid, but each query searches its `nprobe` NEAREST buckets —
    * the standard recall knob for IVF ANN (most true neighbors of a
    * query near a Voronoi boundary live in the runner-up cell). Cost
    * scales linearly in nprobe (nprobe·corpus/K candidates per query)
    * while recall approaches brute force; corpus vectors live in exactly
    * one bucket, so no candidate is scored twice.
    */
  def ivfTopKMultiProbe(corpus: DataFrame, queries: DataFrame,
      centroids: DataFrame, k: Int, nprobe: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val assigned = assignClusters(corpus, centroids, idCol, embCol)
    val q0 = withNorm(queries, embCol, "__qnorm")
    val cent = withNorm(centroids, embCol, "__cnorm")
      .select(col(idCol).as("centroid_id"), col(embCol).as("cv"), col("__cnorm"))
    val scored = q0.crossJoin(broadcast(cent))
      .withColumn("ccos", dotFast(col("cv"), col(embCol)) / (col("__cnorm") * col("__qnorm")))
    val wp = Window.partitionBy(col(idCol)).orderBy(col("ccos").desc, col("centroid_id"))
    val qprobe = scored.withColumn("crk", row_number().over(wp))
      .filter(col("crk") <= nprobe)
      .select(col(idCol).as("query_id"), col(embCol).as("qv"),
        col("__qnorm"), col("centroid_id").as("qcluster"))
    val s = assigned.join(broadcast(qprobe),
        col("cluster") === col("qcluster") && col(idCol) =!= col("query_id"))
      .withColumn("cos", dotFast(col("qv"), col(embCol)) / (col("__qnorm") * col("__norm")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col(idCol))
    s.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col(idCol).as("neighbor_id"))
  }

  /** Signed-random-projection (random hyperplane) LSH bits — the third
    * LSH family in the engine (MinHash: sets, SimHash: token multisets,
    * SRP: dense embeddings). Bit i of a vector is the SIGN of its dot
    * product with pseudo-random hyperplane i; two vectors agree on a bit
    * with probability 1 − θ/π (Goemans–Williamson), so shared-band
    * collisions concentrate on high-cosine pairs.
    *
    * Determinism across engines: the hyperplane entries are ±1 from an
    * integer multiplicative-xorshift hash of the combined (bit, dim)
    * index (see [[srpSign]] — every intermediate stays under int64, so
    * DuckDB's checked multiply reproduces it), and the projection is
    * summed over INTEGER micro-quantized components (floor(x·1e6)), so
    * the sign is exact int64 arithmetic with no float-summation-order
    * risk. Output: one row per (vector, bit) — the same
    * rows-not-bitmask layout as `minhash_signature`, band-packable
    * downstream.
    *
    * Scale: pure per-row projection work (explode of a 16-element
    * array), no shuffle; nbits·dim multiplies per vector.
    */
  def srpBits(df: DataFrame, nbits: Int = 16, idCol: String = "vec_id",
      embCol: String = "embedding", dims: Int = SrpMaxDims): DataFrame = {
    val base = df.withColumn("__q", quantizedGuarded(col(embCol), dims))
    val q = col("__q")
    val m = signMatrix(nbits, dims)
    val entries = transform(sequence(lit(0L), lit(nbits - 1L)), i => {
      // slice the matrix row to the vector's length — zip_with pads the
      // shorter side with nulls otherwise
      val row = slice(element_at(m, (i + 1).cast("int")), lit(1), size(q))
      val proj = aggregate(zip_with(q, row, (x, s) => x * s),
        lit(0L), (a, x) => a + x)
      struct(i.as("bit"),
        when(proj >= 0L, lit(1L)).otherwise(lit(0L)).as("bit_val"))
    })
    base.select(col(idCol), explode(entries).as("__e"))
      .select(col(idCol), col("__e.bit").as("bit"), col("__e.bit_val").as("bit_val"))
  }

  /** Micro-quantize an embedding to int64 components, FAILING LOUDLY on
    * vectors wider than the hyperplane matrix. Without the guard a
    * 384/768-dim embedding would slice against a 256-wide matrix row,
    * zip_with would pad with nulls, the projection would fold to NULL,
    * and every bit would silently emit 0 — garbage signatures and a
    * banding step that degenerates toward all-pairs, with no error.
    */
  private def quantizedGuarded(emb: Column, dims: Int): Column = {
    val q = transform(emb.cast("array<double>"),
      x => floor(x * lit(1000000.0)).cast("long"))
    when(size(q) <= lit(dims), q).otherwise(raise_error(concat(
      lit("SRP: embedding dim "), size(q).cast("string"),
      lit(s" exceeds the configured hyperplane matrix dims=$dims" +
        s" (SrpMaxDims default $SrpMaxDims); pass dims=<embedding width>" +
        " so the matrix covers every dimension"))))
  }

  /** DEFAULT dims covered by the hyperplane matrix. Every SRP entry
    * point takes a `dims` parameter (the dim is known at call time —
    * pass 384/768/1024 for standard embedding models); vectors wider
    * than the configured matrix raise at runtime (see
    * [[quantizedGuarded]]). The matrix literal grows linearly with dims
    * and still folds at plan time.
    */
  val SrpMaxDims = 256

  /** The ±1 hyperplane matrix as ONE literal nested array: the sign is
    * a pure function of (bit, dim), so it folds at plan time instead of
    * re-hashing per element per row (measured: the inline hash spent
    * ~10 interpreted ops × nbits × dim per vector; the literal matrix
    * is one element_at). [[srpSignScala]] must stay formula-identical
    * to the oracle SQL in SimilarityQueries.SrpCte.
    */
  private def signMatrix(nbits: Int, dims: Int): Column =
    typedLit(Seq.tabulate(nbits, dims)((i, d) => srpSignScala(i, d)))

  /** Hyperplane sign for (bit i, dim d): a 32-bit multiplicative hash
    * of the combined index with two xorshift rounds. Row balance ~32/64
    * and pairwise row agreement 18–40 (ideal binomial around 32)
    * measured over 16×64 — a plain XOR of per-i and per-d products does
    * NOT mix (every row degenerates to ±row₀; the measured collision
    * disaster that motivated this shape). Multipliers are sized so no
    * intermediate exceeds int64: the oracle's checked BIGINT arithmetic
    * computes the identical value.
    */
  private def srpSignScala(i: Int, d: Int): Long = {
    val mask = 4294967295L
    val h0 = ((i.toLong * 1000003L + d.toLong) * 2654435761L) & mask
    val h1 = h0 ^ (h0 >>> 13)
    val h2 = (h1 * 40503L) & mask
    val h3 = h2 ^ (h2 >>> 9)
    if (((h3 >>> 7) & 1L) == 1L) 1L else -1L
  }

  /** Mean-centered SRP bits — the documented remedy for biased corpora:
    * hyperplanes through the corpus CENTROID instead of the origin, so
    * bits split the data ~evenly and bands block instead of colliding.
    *
    * Exactness across engines is preserved by never averaging floats:
    * with q = floor(x·1e6) (int64), per-dim corpus sums S_d (exact
    * integer, order-free) and corpus count n,
    *   sign(Σ_d (q_d − S_d/n)·s(i,d)) = sign(n·Σ_d q_d·s(i,d) − Σ_d S_d·s(i,d))
    * — all integer/decimal(38,0) arithmetic (the n· term can pass int64
    * at 10^12 rows, hence decimal). The per-dim stats are a one-row
    * aggregate broadcast back; the per-vector work stays a pure
    * projection. Not oracled (the decimal CTE would dwarf the query);
    * OpsSpec proves the blocking-rate win and bit balance instead.
    */
  def srpBitsCentered(df: DataFrame, nbits: Int = 16, idCol: String = "vec_id",
      embCol: String = "embedding", dims: Int = SrpMaxDims): DataFrame = {
    val base = df.withColumn("__q", quantizedGuarded(col(embCol), dims))
    val q = col("__q")
    val dec = "decimal(38,0)"
    // one row: S = per-dim sums (ordered by dim), n = corpus count
    val stats = base.select(posexplode(q).as(Seq("__d", "__qd")))
      .groupBy(col("__d")).agg(sum(col("__qd")).cast(dec).as("__s"))
      .agg(transform(array_sort(collect_list(struct(col("__d"), col("__s")))),
        e => e.getField("__s")).as("__S"))
    val n = base.agg(count(lit(1)).cast(dec).as("__n"))
    val withStats = base.crossJoin(broadcast(stats)).crossJoin(broadcast(n))
    val m = signMatrix(nbits, dims)
    val entries = transform(sequence(lit(0L), lit(nbits - 1L)), i => {
      val rowQ = slice(element_at(m, (i + 1).cast("int")), lit(1), size(q))
      val rowS = slice(element_at(m, (i + 1).cast("int")), lit(1), size(col("__S")))
      val dot1 = aggregate(zip_with(q, rowQ, (x, s) => x * s),
        lit(0L), (a, x) => a + x)
      val dot2 = aggregate(zip_with(col("__S"), rowS, (s, sg) => s * sg),
        lit(0).cast(dec), (a, s) => a + s)
      val proj = col("__n") * dot1 - dot2
      struct(i.as("bit"),
        when(proj >= 0, lit(1L)).otherwise(lit(0L)).as("bit_val"))
    })
    withStats.select(col(idCol), explode(entries).as("__e"))
      .select(col(idCol), col("__e.bit").as("bit"), col("__e.bit_val").as("bit_val"))
  }

  /** Pack SRP bits into per-band signatures: band = bit div bandBits,
    * signature = Σ bit_val · 2^(bit mod bandBits) — exact (pow on small
    * integer exponents is representable; the Column API's shiftleft only
    * takes a literal shift).
    */
  def srpBands(bits: DataFrame, bandBits: Int, idCol: String = "vec_id"): DataFrame =
    bits.groupBy(col(idCol), (col("bit") / lit(bandBits)).cast("long").as("band"))
      .agg(sum(col("bit_val") *
        pow(lit(2.0), col("bit") % lit(bandBits)).cast("long")).as("band_sig"))

  /** SRP-banded near-duplicate pairs: bits pack into `nbits/bandBits`
    * band signatures, candidates share at least one full band, and only
    * candidates pay a cosine check — banding confines the quadratic
    * exactly like MinHash-LSH does for shingle sets, but over dense
    * embeddings with no centroid training (the trade against IVF
    * blocking: SRP needs no clustering pass and its collision
    * probability has a closed form; IVF gives better bucket balance).
    * Output: (vec_a, vec_b) with cosine·100 > thresholdPct.
    *
    * Caveat: hyperplanes pass through the ORIGIN, so a corpus with a
    * large mean vector (anisotropic embedding models) produces biased
    * bits and weak blocking. For such corpora use [[srpBitsCentered]] +
    * [[srpBands]] — OpsSpec measures the failure on a synthetically
    * shifted corpus and the centered fix. On the (already centered)
    * testdata, 2×8-bit bands block to ~1% of all pairs.
    */
  def srpNearDupPairs(corpus: DataFrame, thresholdPct: Int,
      nbits: Int = 16, bandBits: Int = 8,
      idCol: String = "vec_id", embCol: String = "embedding",
      dims: Int = SrpMaxDims): DataFrame = {
    require(nbits % bandBits == 0)
    val bands = srpBands(srpBits(corpus, nbits, idCol, embCol, dims), bandBits, idCol)
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.band_sig") === col("b.band_sig") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("vec_a"), col(s"b.$idCol").as("vec_b"))
      .distinct()
    val e = withNorm(corpus, embCol, "__norm")
    val ea = e.select(col(idCol).as("vec_a"), col(embCol).as("va"), col("__norm").as("__na"))
    val eb = e.select(col(idCol).as("vec_b"), col(embCol).as("vb"), col("__norm").as("__nb"))
    cand.join(ea, "vec_a").join(eb, "vec_b")
      .filter(dotFast(col("va"), col("vb")) / (col("__na") * col("__nb")) * 100 > thresholdPct)
      .select(col("vec_a"), col("vec_b"))
  }

  /** Symmetric int8 quantization — the storage/serving form of an
    * embedding corpus (4× smaller than float32, 8× than float64; dot
    * products stay within int32 for dim ≤ 512). Per-vector scale
    * m = max|x|, q = clamp(round(x/m·127)) — all arithmetic a fixed
    * per-element double chain (divide, multiply, +0.5, floor), so the
    * quantized values are bit-identical across engines. Output: one row
    * per (vector, dim) + the micro-quantized scale for reconstruction.
    */
  def quantizeInt8(df: DataFrame, idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val withM = df
      .withColumn("__v", col(embCol).cast("array<double>"))
      .withColumn("__m", array_max(transform(col("__v"), x => abs(x))))
    withM.select(
      col(idCol),
      floor(col("__m") * 1000000.0).cast("long").as("scale_micros"),
      posexplode(transform(col("__v"), x =>
        when(col("__m") === 0.0, lit(0L)).otherwise(
          greatest(lit(-127L), least(lit(127L),
            floor(x / col("__m") * lit(127.0) + lit(0.5)).cast("long"))))))
        .as(Seq("dim", "q8")))
      .select(col(idCol), col("dim").cast("long").as("dim"),
        col("q8"), col("scale_micros"))
  }

  /** Product-quantization codes — the third compression form next to
    * int8 and SRP bits, and the memory layer real ANN serving stacks
    * (FAISS IVF-PQ) put under IVF: the embedding splits into
    * `subspaces` contiguous sub-vectors and each sub-vector is replaced
    * by the id of its nearest sub-centroid, so a dim-64 float vector
    * becomes `subspaces` small codes (here 4 bytes — a 64× compression
    * over float32 at 4 subspaces × 256-codebook).
    *
    * Exactness across engines: sub-vectors and codebook entries are
    * micro-quantized to int64 (floor(x·1e6)) and the assignment
    * distance is the INTEGER squared L2 Σ(q−c)² — at dim 64 and |x|≤2
    * the sum stays under 2^53, so argmin + centroid-id tie-break is
    * exact integer arithmetic in both engines (the same trick as SRP's
    * integer projections; cosine's float chain is not needed here).
    *
    * Scale posture: the codebook (subspaces × centroids sub-vectors) is
    * broadcast; per-row work is an explode to `subspaces` rows and a
    * broadcast join; the argmin is WindowGroupLimit-prunable
    * (row_number ≤ 1 heaps before the (vec, subspace) shuffle). Output:
    * (id, subspace, code).
    */
  def pqCodes(corpus: DataFrame, codebook: DataFrame, subspaces: Int = 4,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    require(subspaces > 0)
    val sub = pqSubVectors(corpus, subspaces, idCol, embCol, "qs")
    val cent = pqSubVectors(codebook, subspaces, idCol, embCol, "cs")
      .select(col("subspace"), col(idCol).as("code"), col("cs"))
    pqAssignCodes(sub, cent, idCol, keep = Nil)
      .select(col(idCol), col("subspace").cast("long").as("subspace"), col("code"))
  }

  /** The PQ code TUPLE of every vector as one per-row fold — no
    * shuffle: the sub-codebook is packed into ONE broadcast array row
    * and each vector computes its `subspaces` codes with a `transform`
    * over subspace ordinals + `array_min` over that subspace's book
    * entries (struct ordering = distance then code id, the same
    * tie-break as [[pqCodes]]'s argmin window — the equivalence is
    * oracle-gated by `streaming_index_ingest`). Works on batch AND
    * streaming frames; [[graft.streaming.StreamingAnn]] and
    * [[pqNearDupPairs]] both build on it. Output: (idCol, __ck) where
    * __ck is the subspace-ordered array<long> of codes.
    */
  private[graft] def pqCodeTuple(vecs: DataFrame, codebook: DataFrame,
      subspaces: Int, idCol: String, embCol: String,
      keep: Seq[String] = Nil): DataFrame = {
    val bookRow = pqSubVectors(codebook, subspaces, idCol, embCol, "cs")
      .agg(collect_list(struct(col("subspace"),
        col(idCol).as("code"), col("cs"))).as("__book"))
    val quant = transform(col(embCol).cast("array<double>"),
      x => floor(x * lit(1000000.0)).cast("long"))
    val q = vecs.select(col(idCol) +: keep.map(col) :+
      pqWidthGuarded(quant, subspaces).as("__qv"): _*)
    val width = (size(col("__qv")) / subspaces).cast("int")
    q.crossJoin(broadcast(bookRow))
      .select(col(idCol) +: keep.map(col) :+
        transform(sequence(lit(0), lit(subspaces - 1)), s => {
          val sub = slice(col("__qv"), s.cast("int") * width + 1, width)
          array_min(transform(
            filter(col("__book"), b => b.getField("subspace") === s),
            b => struct(intL2(sub, b.getField("cs")).as("d2"),
              b.getField("code").as("code")))).getField("code")
        }).as("__ck"): _*)
  }

  /** Embedding near-duplicate pairs blocked on IDENTICAL PQ code
    * tuples — PQ used as an LSH family, the FINE-grained complement of
    * [[nearDupPairs]]'s IVF-bucket blocking. Two vectors collide only
    * when every subspace quantizes to the same sub-centroid, so block
    * cardinality is |codebook|^subspaces (4096 at 8×4): at 100 TB the
    * quadratic verify is confined to near-identical vectors instead of
    * corpus/K per IVF cell, and the block key is a plain equi-join key
    * (shuffle on the code tuple, no window). Candidates are verified
    * with the SAME exact float64 cosine chain as every other embedding
    * op, so the threshold compares identically across engines.
    *
    * Recall contract (documented, deliberate): a true near-dup pair
    * straddling a sub-centroid boundary in ANY subspace is missed —
    * the standard LSH trade. Lower `subspaces` for higher recall
    * (coarser key) or raise it for tighter blocks.
    */
  def pqNearDupPairs(corpus: DataFrame, codebook: DataFrame,
      thresholdPct: Int, subspaces: Int = 4, idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    // code tuples via the per-row fold, norms carried through the SAME
    // single pass — the pre-join key computation costs ZERO shuffles
    // (one broadcast book row), vs the windowed pqCodes chain + groupBy
    // + corpus re-join it replaced (11 exchanges → the block self-join
    // and final sort only)
    val normed = pqCodeTuple(withNorm(corpus, embCol, "__norm"), codebook,
      subspaces, idCol, embCol, keep = Seq(embCol, "__norm"))
    val a = normed.select(col(idCol).as("vec_a"), col(embCol).as("va"),
      col("__norm").as("__na"), col("__ck"))
    val b = normed.select(col(idCol).as("vec_b"), col(embCol).as("vb"),
      col("__norm").as("__nb"), col("__ck"))
    a.join(b, "__ck")
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos", dotFast(col("va"), col("vb")) / (col("__na") * col("__nb")))
      .filter(col("cos") * 100 > thresholdPct)
      .select(col("vec_a"), col("vec_b"))
  }

  /** Argmin-assign sub-vector rows (idCol, keep…, subspace, qs) to the
    * broadcast book (subspace, code, cs) by integer L2; `keep` columns
    * ride through. The argmin window needs clustering on
    * (id, subspace) — any upstream hash partitioning on the id alone
    * already satisfies it (subset rule), so callers that pre-shuffled by
    * id pay NO extra exchange here.
    */
  private def pqAssignCodes(sub: DataFrame, book: DataFrame, idCol: String,
      keep: Seq[String]): DataFrame = {
    val scored = sub.join(broadcast(book), "subspace")
      .withColumn("__d", intL2(col("qs"), col("cs")))
    val w = Window.partitionBy(col(idCol), col("subspace"))
      .orderBy(col("__d"), col("code"))
    scored.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select((Seq(idCol) ++ keep ++ Seq("subspace", "code")).map(col): _*)
  }

  /** Loud guard for the PQ split: `size(v) % subspaces` must be 0.
    * Integer-division width would otherwise silently DROP the trailing
    * `size % subspaces` components from every distance (dims=65,
    * subspaces=4 → width 16, component 65 never scored), and
    * dims < subspaces yields width 0 — empty sub-vectors, all distances
    * 0, every code collapsing to the lowest centroid id — with no error.
    * Same loud-failure posture as the SRP dims guard above.
    */
  private[graft] def pqWidthGuarded(q: Column, subspaces: Int): Column =
    when(size(q) % subspaces === 0 && size(q) >= subspaces, q)
      .otherwise(raise_error(concat(
        lit("PQ: embedding dim "), size(q).cast("string"),
        lit(s" is not divisible into subspaces=$subspaces equal slices;" +
          " pass a subspaces value that divides the embedding width"))))

  /** Slice an already-quantized int64 vector column into per-subspace
    * rows, carrying `keep` columns — formula-identical to
    * [[pqSubVectors]] (same transform/sequence/slice chain).
    */
  private def subVectorsOfQuant(df: DataFrame, quantCol: String,
      subspaces: Int, idCol: String, keep: Seq[String],
      outCol: String): DataFrame = {
    val q = pqWidthGuarded(col(quantCol), subspaces)
    val width = (size(q) / subspaces).cast("int")
    df.select(col(idCol) +: keep.map(col) :+
      posexplode(transform(sequence(lit(0), lit(subspaces - 1)),
        s => slice(q, s.cast("int") * width + 1, width))).as(Seq("subspace", outCol)): _*)
  }

  /** Micro-quantized (floor(x·1e6) int64) sub-vector rows: one row per
    * (id, subspace) with the contiguous slice of the quantized embedding.
    * Shared by [[pqCodes]] and [[ivfPqTopK]] (and formula-identical to
    * the oracle SQL's slice CTE).
    */
  private[graft] def pqSubVectors(df: DataFrame, subspaces: Int, idCol: String,
      embCol: String, outCol: String): DataFrame = {
    val q = pqWidthGuarded(transform(col(embCol).cast("array<double>"),
      x => floor(x * lit(1000000.0)).cast("long")), subspaces)
    val width = (size(q) / subspaces).cast("int")
    df.select(col(idCol),
      posexplode(transform(sequence(lit(0), lit(subspaces - 1)),
        s => slice(q, s.cast("int") * width + 1, width))).as(Seq("subspace", outCol)))
  }

  /** Integer squared L2 between two int64 arrays — exact in both engines
    * (components ≤ 2·10^6, dims ≤ 64 keep the sum far under 2^53).
    */
  private[graft] def intL2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, x) => acc + x)

  /** Micro-quantized full vectors: (id, qv: array<long>). */
  private[graft] def quantVectors(df: DataFrame, idCol: String, embCol: String,
      outId: String): DataFrame =
    df.select(col(idCol).as(outId),
      transform(col(embCol).cast("array<double>"),
        x => floor(x * lit(1000000.0)).cast("long")).as("__qv"))

  /** Nearest-centroid assignment by INTEGER squared L2 (exact argmin,
    * centroid-id tie-break) — the coarse quantizer for [[ivfPqTopK]] and
    * the assignment half of [[kmeansStep]]. Centroids broadcast; the
    * argmin window shuffles once on the vector id.
    */
  def assignClustersL2(corpus: DataFrame, centroids: DataFrame,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame =
    assignTopNL2(corpus, centroids, 1, idCol, embCol)
      .select(col(idCol), col("__qv"), col("cluster"))

  /** Top-`n` nearest centroids per vector by integer squared L2 (exact
    * argsort prefix, centroid-id tie-break) — `n = 1` is cluster
    * assignment; `n = nprobe > 1` is the multi-probe query side of
    * [[ivfPqTopK]]. Output keeps `probe_rk` (1 = nearest).
    */
  private def assignTopNL2(corpus: DataFrame, centroids: DataFrame, n: Int,
      idCol: String, embCol: String): DataFrame = {
    val c = quantVectors(corpus, idCol, embCol, idCol)
    val cent = quantVectors(centroids, idCol, embCol, "centroid_id")
      .withColumnRenamed("__qv", "__cv")
    val w = Window.partitionBy(col(idCol)).orderBy(col("__d"), col("centroid_id"))
    c.crossJoin(broadcast(cent))
      .withColumn("__d", intL2(col("__qv"), col("__cv")))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= n)
      .select(col(idCol), col("__qv"), col("centroid_id").as("cluster"),
        col("__rk").as("probe_rk"))
  }

  /** IVF-PQ ADC top-k — the serving read path that completes the ANN
    * stack (IVF partitions the corpus, PQ compresses it, ADC scores
    * queries against CODES instead of raw vectors): each query builds a
    * per-subspace lookup table of distances to every codebook entry
    * (|Q|·subspaces·|book| rows — broadcast), coarse-assigns to its
    * `nprobe` nearest IVF buckets (1 = classic single-probe), and scores
    * only those buckets' PQ codes by summing LUT hits —
    * the corpus' raw embeddings are never touched after encode time,
    * which is the whole point at 100 TB (codes are ~64× smaller).
    *
    * Exactness: every distance is the integer squared L2 of
    * micro-quantized components ([[intL2]]), so the ADC sum, the argmin
    * assignments, and the final (adc, id) ordering are exact int64
    * arithmetic in both engines.
    *
    * Scale posture: LUT and query assignments broadcast (query sets are
    * small); the corpus-sized joins are the codes⋈cluster equi-join on
    * the vector id and the per-(query, vec) ADC sum — both shuffle
    * pair-sized data confined to probed buckets (corpus/K per query).
    * Output: (query_id, rk, neighbor_id, adc).
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      codebook: DataFrame, k: Int, subspaces: Int = 4, nprobe: Int = 1,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val bookSub = pqSubVectors(codebook, subspaces, idCol, embCol, "cs")
      .select(col("subspace"), col(idCol).as("code"), col("cs"))
    // ONE corpus shuffle: the assignment argmin window hash-partitions
    // by id; the cluster tag rides through sub-vector explode + code
    // argmin (window on (id, subspace) — satisfied by the id
    // partitioning) and into the per-(query, id) ADC sum (ditto), so
    // encode→score is a single exchange plus the final top-k window.
    val assigned = assignClustersL2(corpus, centroids, idCol, embCol)
    val codes = pqAssignCodes(
      subVectorsOfQuant(assigned, "__qv", subspaces, idCol, Seq("cluster"), "qs"),
      bookSub, idCol, keep = Seq("cluster"))
    // multi-probe: each query searches its `nprobe` nearest coarse cells
    // (a query near a Voronoi boundary has true neighbors in the
    // runner-up cell — same recall argument as ivfTopKMultiProbe).
    // Corpus vectors live in exactly ONE bucket, so the probed buckets
    // are disjoint and no candidate is ADC-scored twice.
    val qAssigned = assignTopNL2(queries, centroids, nprobe, idCol, embCol)
      .select(col(idCol).as("query_id"), col("cluster").as("qcluster"))
    val lut = pqSubVectors(queries, subspaces, idCol, embCol, "qs")
      .withColumnRenamed(idCol, "query_id")
      .join(broadcast(bookSub), "subspace")
      .select(col("query_id"), col("subspace"), col("code"),
        intL2(col("qs"), col("cs")).as("__lutd"))
    val cand = codes
      .join(broadcast(qAssigned),
        col("cluster") === col("qcluster") && col(idCol) =!= col("query_id"))
      .join(broadcast(lut), Seq("query_id", "subspace", "code"))
    val adc = cand.groupBy(col("query_id"), col(idCol))
      .agg(sum(col("__lutd")).as("adc"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("adc"), col(idCol))
    adc.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk").cast("long").as("rk"),
        col(idCol).as("neighbor_id"), col("adc"))
  }

  /** The serving-layout index rows ([[graft.jobs.BuildIndex]]'s table):
    * (id, cluster, codes) — coarse IVF assignment plus the
    * subspace-ordered PQ code tuple, one row per vector, raw embeddings
    * nowhere in the output. The assignment's id-window shuffle is the
    * only exchange; the code tuple is the zero-shuffle per-row fold.
    */
  def indexRows(corpus: DataFrame, centroids: DataFrame, codebook: DataFrame,
      subspaces: Int = 4, idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val assigned = assignClustersL2(corpus, centroids, idCol, embCol)
      .select(col(idCol), col("cluster"))
    pqCodeTuple(corpus, codebook, subspaces, idCol, embCol)
      .join(assigned, Seq(idCol))
      .select(col(idCol), col("cluster"), col("__ck").as("codes"))
  }

  /** ADC search over a PREBUILT index table — the read path a stored
    * [[graft.jobs.BuildIndex]] layout serves: the corpus side is ONLY
    * (id, cluster, codes) rows (a partition-pruned scan of the probed
    * cluster's files at scale — raw corpus embeddings are never
    * touched), queries assign to their `nprobe` nearest coarse cells,
    * build per-query LUTs against the broadcast sub-codebook, and ADC
    * sums rank candidates. Produces EXACTLY [[ivfPqTopK]]'s results on
    * the index [[indexRows]] builds from the same devices (the
    * `ivfpq_from_index` oracle reuses `ivfpq_topk`'s unrolled SQL).
    */
  def searchIvfPqIndex(index: DataFrame, queries: DataFrame,
      centroids: DataFrame, codebook: DataFrame, k: Int, subspaces: Int = 4,
      nprobe: Int = 1, idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame =
    adcSearchIndex(index, queries,
      assignTopNL2(queries, centroids, nprobe, idCol, embCol)
        .select(col(idCol).as("query_id"), col("cluster").as("qcluster")),
      codebook, k, subspaces, idCol, embCol)

  /** Shared ADC read-path body for the two index-search entry points —
    * they differ ONLY in how queries coarse-assign (raw-vector
    * centroids vs the stored trained form); the LUT build, the
    * bucket-confined candidate join, and the top-k ranking must never
    * drift apart.
    */
  private def adcSearchIndex(index: DataFrame, queries: DataFrame,
      qAssigned: DataFrame, codebook: DataFrame, k: Int, subspaces: Int,
      idCol: String, embCol: String): DataFrame = {
    val bookSub = pqSubVectors(codebook, subspaces, idCol, embCol, "cs")
      .select(col("subspace"), col(idCol).as("code"), col("cs"))
    val rows = index.select(col(idCol), col("cluster"),
      posexplode(col("codes")).as(Seq("subspace", "code")))
    val lut = pqSubVectors(queries, subspaces, idCol, embCol, "qs")
      .withColumnRenamed(idCol, "query_id")
      .join(broadcast(bookSub), "subspace")
      .select(col("query_id"), col("subspace"), col("code"),
        intL2(col("qs"), col("cs")).as("__lutd"))
    val cand = rows
      .join(broadcast(qAssigned),
        col("cluster") === col("qcluster") && col(idCol) =!= col("query_id"))
      .join(broadcast(lut), Seq("query_id", "subspace", "code"))
    val adc = cand.groupBy(col("query_id"), col(idCol))
      .agg(sum(col("__lutd")).as("adc"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("adc"), col(idCol))
    adc.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk").cast("long").as("rk"),
        col(idCol).as("neighbor_id"), col("adc"))
  }

  /** One Lloyd iteration's UPDATE STATISTIC — how IVF centroids and PQ
    * codebooks actually get trained at corpus scale: assign every vector
    * to its nearest seed (integer L2), then emit per-(cluster, dim)
    * component sums and member counts. The new centroid is sum/n; the
    * division is left to the caller so the distributed output stays
    * EXACT integers (sums are order-free, so no float-summation-order
    * hazard across partitions — same device as embedding_centroids).
    *
    * Scale posture: seeds broadcast, one argmin window on the vector id,
    * one (cluster, dim)-keyed partial-aggregated sum — K·dim output rows
    * regardless of corpus size. Output: (cluster, dim, comp_sum, n).
    */
  def kmeansStep(corpus: DataFrame, seeds: DataFrame,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val assigned = assignClustersL2(corpus, seeds, idCol, embCol)
    assigned.select(col("cluster"),
        posexplode(col("__qv")).as(Seq("dim", "comp")))
      .groupBy(col("cluster"), col("dim").cast("long").as("dim"))
      .agg(sum(col("comp")).as("comp_sum"), count(lit(1)).as("n"))
      .select(col("cluster"), col("dim"), col("comp_sum"), col("n"))
  }

  /** Result of [[kmeansTrain]]: exploded exact-integer centroids
    * (cluster, dim, comp — micro units), rounds actually run, whether
    * the movement criterion was met, and the last round's max
    * per-component movement in micro units.
    */
  final case class KmeansResult(centroids: DataFrame, iterations: Int,
      converged: Boolean, lastMovementMicros: Long)

  /** The Lloyd TRAINER composed from [[kmeansStep]]'s update statistic —
    * how IVF coarse centroids and PQ codebooks are actually produced:
    * iterate assign→update until the max per-component centroid movement
    * is ≤ `tolMicros` or `maxIter` rounds have run. Every round is cut
    * through [[Loop]] (the round plan reads the previous round three
    * times), its max movement folded in the cut's job, and a
    * non-converged run FAILS LOUDLY unless the caller explicitly opts
    * into a fixed iteration budget (`requireConvergence = false` — the
    * oracle-gated query does, so N unrolled SQL steps stay equivalent:
    * early-stop happens only at movement 0, a fixed point that further
    * steps cannot change).
    *
    * Exactness: assignment is integer L2 argmin with centroid-id
    * tie-break; the updated component is floor(comp_sum / n) computed as
    * `(comp_sum − pmod(comp_sum, n)) div n` — PURE int64 arithmetic (a
    * double division would round: comp_sum reaches n·2·10⁶ micro units,
    * past 2^53 once a cluster holds ~10⁹ members). Empty clusters keep
    * their previous centroid.
    *
    * Scale posture per round: centroids broadcast (K·dim rows), ONE
    * argmin window on the vector id, one (cluster, dim) partial-agg sum
    * — the round's shuffled state is K·dim regardless of corpus size;
    * the quantized corpus is cached once across rounds and released
    * before returning.
    */
  def kmeansTrain(corpus: DataFrame, seeds: DataFrame, maxIter: Int = 10,
      tolMicros: Long = 0L, requireConvergence: Boolean = true,
      idCol: String = "vec_id", embCol: String = "embedding"): KmeansResult = {
    require(maxIter >= 1, s"kmeansTrain: maxIter must be >= 1, got $maxIter")
    val q = quantVectors(corpus, idCol, embCol, idCol).cache()
    // centroid state: (cluster, __cv: array<long>, __mv: last movement)
    var cent = quantVectors(seeds, idCol, embCol, "cluster")
      .select(col("cluster"), col("__qv").as("__cv"), lit(0L).as("__mv"))
    val cuts = new Loop
    var iter = 0
    var moved = Long.MaxValue
    while (iter < maxIter && moved > tolMicros) {
      val assigned = q.crossJoin(broadcast(cent.select(col("cluster"), col("__cv"))))
        .withColumn("__d", intL2(col("__qv"), col("__cv")))
        .withColumn("__rk", row_number().over(
          Window.partitionBy(col(idCol)).orderBy(col("__d"), col("cluster"))))
        .filter(col("__rk") === 1)
      val stats = assigned.select(col("cluster"),
          posexplode(col("__qv")).as(Seq("dim", "comp")))
        .groupBy(col("cluster"), col("dim"))
        .agg(sum(col("comp")).as("comp_sum"), count(lit(1)).as("n"))
        .select(col("cluster"), col("dim"),
          expr("(comp_sum - pmod(comp_sum, n)) div n").as("comp"))
      val updated = stats.groupBy(col("cluster"))
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("comp")))),
          e => e.getField("comp")).as("__new"))
      val next = cent.select(col("cluster"), col("__cv"))
        .join(updated, Seq("cluster"), "left")
        .select(col("cluster"),
          coalesce(col("__new"), col("__cv")).as("__cv"),
          coalesce(aggregate(
            zip_with(col("__new"), col("__cv"), (a, b) => abs(a - b)),
            lit(0L), (acc, x) => greatest(acc, x)), lit(0L)).as("__mv"))
      val (nextCut, mv) = cuts.cut(next, 0L)((m, r) => math.max(m, r.getLong(2)), math.max)
      cent = nextCut
      moved = mv
      iter += 1
    }
    q.unpersist(blocking = false)
    val converged = moved <= tolMicros
    if (!converged && requireConvergence)
      Loop.refuse(s"kmeansTrain did not converge in $maxIter rounds (last max " +
        s"movement $moved micros > tol $tolMicros); raise maxIter or " +
        "pass requireConvergence = false for a fixed iteration budget", cuts)
    cuts.keep()
    val centroids = cent.select(col("cluster"),
      posexplode(col("__cv")).as(Seq("dim", "comp")))
      .select(col("cluster"), col("dim").cast("long").as("dim"), col("comp"))
    KmeansResult(centroids, iter, converged, moved)
  }

  /** Assign the corpus to TRAINED centroids — the composition that
    * makes [[kmeansTrain]] an index build rather than a demo: its
    * exploded exact-integer output (cluster, dim, comp in micro units)
    * is repacked into quantized arrays (NO float round-trip — a
    * comp/1e6 double detour could floor off-by-one) and the corpus
    * takes the same integer-L2 argmin with cluster-id tie-break as
    * every other assignment in the stack. Output: (idCol, cluster, d2).
    *
    * Scale posture: centroids are K·dim rows → one broadcast; ONE
    * argmin window on the vector id (WindowGroupLimit-prunable).
    */
  def assignToTrained(corpus: DataFrame, centroids: DataFrame,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame =
    assignToTrainedTopN(corpus, centroids, 1, idCol, embCol)
      .select(col(idCol), col("cluster"), col("d2"))

  /** Top-`n` trained-centroid assignment — [[assignToTrained]]'s
    * multi-probe generalization, the query side of
    * [[searchStoredIndex]]. Same exact-integer repack (no float
    * round-trip), same broadcast + one argmin window shape.
    */
  private def assignToTrainedTopN(corpus: DataFrame, centroids: DataFrame,
      n: Int, idCol: String, embCol: String): DataFrame = {
    val cent = centroids.groupBy(col("cluster"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("comp")))),
        e => e.getField("comp")).as("__cv"))
    val q = quantVectors(corpus, idCol, embCol, idCol)
    val w = Window.partitionBy(col(idCol)).orderBy(col("__d"), col("cluster"))
    q.crossJoin(broadcast(cent))
      .withColumn("__d", intL2(col("__qv"), col("__cv")))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= n)
      .select(col(idCol), col("cluster"), col("__d").as("d2"),
        col("__rk").as("probe_rk"))
  }

  /** ADC search over [[graft.jobs.BuildIndex]]'s STORED layout, consumed
    * exactly as written — `index/` rows (id, cluster, codes), the
    * TRAINED centroid table `centroids/` in its exploded exact-integer
    * (cluster, dim, comp) form, and the PQ seed-vector `codebook/`.
    * [[searchIvfPqIndex]] assigns queries against RAW-vector centroids
    * (the fused demo chain); a stored index is built with
    * [[assignToTrained]] against trained centroids, so its read path
    * must coarse-assign queries the same way or probe the wrong cells.
    * Same broadcast/LUT/ADC scale posture as [[searchIvfPqIndex]].
    */
  def searchStoredIndex(index: DataFrame, queries: DataFrame,
      trainedCentroids: DataFrame, codebook: DataFrame, k: Int,
      subspaces: Int = 4, nprobe: Int = 1, idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame =
    adcSearchIndex(index, queries,
      assignToTrainedTopN(queries, trainedCentroids, nprobe, idCol, embCol)
        .select(col(idCol).as("query_id"), col("cluster").as("qcluster")),
      codebook, k, subspaces, idCol, embCol)

  /** IVF top-k: each query searches only its own cluster's bucket —
    * deterministic approximate recall, centroids = caller-chosen vectors.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame, k: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val assigned = assignClusters(corpus, centroids, idCol, embCol)
    val q = assigned.join(
        queries.select(col(idCol)).withColumnRenamed(idCol, "query_id"),
        col(idCol) === col("query_id"))
      .select(col("query_id"), col(embCol).as("qv"), col("__norm").as("__qnorm"),
        col("cluster").as("qcluster"))
    val scored = assigned.join(broadcast(q),
        col("cluster") === col("qcluster") && col(idCol) =!= col("query_id"))
      .withColumn("cos", dotFast(col("qv"), col(embCol)) / (col("__qnorm") * col("__norm")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col(idCol))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col(idCol).as("neighbor_id"))
  }
}
