package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths (SURVEY/pipeline requirement):
  *   - [[bruteForceTopK]] — exact cosine top-k, the correctness baseline;
  *     O(|Q|·|V|·d) but fully codegen'd (zip_with/aggregate fold).
  *   - [[lshTopK]] — random-hyperplane LSH: deterministic pseudo-random
  *     planes (seeded hash coefficients), sign-bit signature → bucket;
  *     candidates = same bucket ∪ multi-probe (1-bit flips), exact cosine
  *     re-rank on candidates only. At 100 TB the bucket join replaces the
  *     cross join: cost O(|Q|·bucket) and the signature build is one scan.
  */
object Similarity {

  def cosine(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column) =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)
    def nrm(x: Column) = sqrt(aggregate(x, lit(0.0), (acc, v) => acc + v * v))
    dot(a, b) / (nrm(a) * nrm(b))
  }

  private def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** Deterministic hyperplane coefficients, materialized driver-side as
    * PLAIN LITERALS (splitmix64 scramble quantized to 3 decimals in
    * [-1, 1]). Literal constants — not a hash expression evaluated per
    * row — for two reasons: (a) the projection is a zip_with against a
    * constant array, no per-element hashing in the hot scan; (b) the same
    * constants can be embedded verbatim in the DuckDB oracle SQL, making
    * the LSH path end-to-end driver-verifiable (round 1's xxhash64-based
    * coefficients had no DuckDB analog, leaving e_ann_lsh rows-only).
    * 3-decimal quantization ⇒ the decimal text parses to the identical
    * IEEE double in both engines.
    */
  def planeCoefs(nPlanes: Int, dim: Int, seed: Long = 1337L): Array[Array[Double]] =
    Array.tabulate(nPlanes, dim) { (p, d) =>
      var z = seed + p.toLong * 0x9E3779B97F4A7C15L + (d + 1).toLong * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^= z >>> 31
      (java.lang.Long.remainderUnsigned(z, 2001L) - 1000L) / 1000.0
    }

  /** Sign-bit LSH signature of the embedding column (`nPlanes` ≤ 62,
    * `dim` must match the embedding width). The projection is rounded
    * (×1e6) before the sign test so a sub-1e-12 cross-engine summation
    * difference cannot flip a bucket bit.
    */
  def lshSignature(v: Column, nPlanes: Int, dim: Int = 64): Column = {
    val coefs = planeCoefs(nPlanes, dim)
    val bits = (0 until nPlanes).map { p =>
      val proj = aggregate(
        zip_with(v, typedLit(coefs(p).toSeq), (x, c) => x.cast("double") * c),
        lit(0.0), (acc, x) => acc + x)
      when(round(proj * 1e6) >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Exact brute-force cosine top-k: queries × all vectors. */
  def bruteForceTopK(vectors: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val v = vectors.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val q = queries.select(col("vec_id").as("qid"), asDouble(col("embedding")).as("qv"))
    val sims = q.crossJoin(v).filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"),
        cosine(col("qv"), col("v")).as("sim"))
    topK(sims, k)
  }

  /** LSH-bucketed approximate top-k with multi-probe (Hamming ≤ 1). */
  def lshTopK(vectors: DataFrame, queries: DataFrame, k: Int,
              nPlanes: Int = 4): DataFrame = {
    val v = vectors.select(col("vec_id"), asDouble(col("embedding")).as("v"),
      lshSignature(col("embedding"), nPlanes).as("sig"))
    val probes = (0 until nPlanes).map(b => col("sig").bitwiseXOR(lit(1L << b))) :+ col("sig")
    val q = queries.select(col("vec_id").as("qid"),
        asDouble(col("embedding")).as("qv"),
        lshSignature(col("embedding"), nPlanes).as("sig"))
      .select(col("qid"), col("qv"), explode(array(probes: _*)).as("bucket"))
    val sims = q.join(v, col("bucket") === col("sig"))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"), cosine(col("qv"), col("v")).as("sim"))
      .dropDuplicates("qid", "vec_id")
    topK(sims, k)
  }

  /** IVF approximate top-k with a SAMPLED coarse quantizer: centroids are
    * the vectors with `vec_id % centStride == 0` (no Lloyd training in
    * this path — cross-row float means are summation-order-dependent and
    * would break bit-exact reproducibility across engines; see
    * [[ivfTrain]] for the trained variant). Every vector is assigned to
    * its nearest centroid (squared-L2, rounded ×1e6 before the argmin so
    * a sub-ulp difference cannot flip a cell), queries probe the
    * `nProbe` nearest cells, and candidates get an exact cosine re-rank.
    *
    * Scale shape: the centroid table is tiny and broadcast, so the build
    * is a map-side |V|×K distance scan (the standard IVF build cost) and
    * the search is a cell equi-join — no all-pairs anywhere.
    */
  def ivfTopK(vectors: DataFrame, queries: DataFrame, k: Int,
              nProbe: Int = 2, centStride: Int = 29): DataFrame = {
    val v = vectors.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val cents = v.filter(col("vec_id") % centStride === 0)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    def sqDist(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x)
    def nearestCells(side: DataFrame, idCol: String, vCol: String, top: Int) =
      side.crossJoin(broadcast(cents))
        .select(col(idCol), col(vCol),
          col("cid"), round(sqDist(col(vCol), col("cv")) * 1e6).cast("long").as("d"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(idCol).orderBy(col("d"), col("cid"))))
        .filter(col("rk") <= top)
    val assign = nearestCells(v, "vec_id", "v", 1)
      .select(col("vec_id"), col("v"), col("cid"))
    val qprobe = nearestCells(
        queries.select(col("vec_id").as("qid"), asDouble(col("embedding")).as("qv")),
        "qid", "qv", nProbe)
      .select(col("qid"), col("qv"), col("cid"))
    val sims = qprobe.join(assign, "cid")
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"), cosine(col("qv"), col("v")).as("sim"))
      .dropDuplicates("qid", "vec_id")
    topK(sims, k)
  }

  /** Product-quantization codes — THE memory path for ANN at 10¹²-vector
    * scale (a 64-float embedding compresses to `blocks` small ints): the
    * vector splits into `blocks` contiguous sub-vectors, and each block
    * is coded as its nearest codeword under squared L2 on that block
    * (codebook = the strided deterministic sample, same device as IVF's
    * coarse quantizer; distances rounded ×1e6 before the argmin with a
    * codeword-id tie-break, so the code assignment is bit-stable across
    * engines). One broadcast of the codebook × blocks fan-out — a scan,
    * no shuffle beyond the per-(vector, block) argmin window.
    * Returns (vec_id, block, code, d_e6).
    */
  def pqCodes(vectors: DataFrame, blocks: Int = 8, dim: Int = 64,
              centStride: Int = 37): DataFrame = {
    require(dim % blocks == 0, s"dim $dim must split into $blocks blocks")
    val bw = dim / blocks
    val v = vectors.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val cents = v.filter(col("vec_id") % centStride === 0)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    val bdf = vectors.sparkSession.range(blocks)
      .select(col("id").cast("int").as("b"))
    def sqDist(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x)
    def sub(x: Column) = slice(x, col("b") * bw + 1, lit(bw))
    v.crossJoin(broadcast(cents)).crossJoin(broadcast(bdf))
      .select(col("vec_id"), col("b"), col("cid"),
        round(sqDist(sub(col("v")), sub(col("cv"))) * 1e6)
          .cast("long").as("d"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("vec_id", "b").orderBy(col("d"), col("cid"))))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("b").cast("long").as("block"),
        col("cid").as("code"), col("d").as("d_e6"))
  }

  /** Exact L2 top-k — the reference ranking [[pqTopK]]'s recall is
    * measured against (PQ approximates SQUARED EUCLIDEAN distance, so
    * its audit baseline must be L2, not the cosine brute force). Same
    * determinism contract as every ANN gate: distances rounded ×1e6
    * before the (d asc, vec_id asc) rank.
    */
  def l2TopK(vectors: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val v = vectors.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val q = queries.select(col("vec_id").as("qid"),
      asDouble(col("embedding")).as("qv"))
    def sqDist(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x)
    q.crossJoin(v).filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"),
        round(sqDist(col("qv"), col("v")) * 1e6).cast("long").as("d_e6"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("d_e6").asc, col("vec_id").asc)))
      .filter(col("rank") <= k)
      .select(col("qid"), col("vec_id"), col("rank").cast("long").as("rank"),
        col("d_e6"))
  }

  /** PQ search by asymmetric distance computation (ADC — Jégou et al.,
    * PAMI 2011): the query stays un-quantized; each candidate's distance
    * is the sum over blocks of the EXACT (e6-integer) distance from the
    * query's sub-vector to the candidate's ASSIGNED CODEWORD. This is
    * the third ANN serving path next to LSH and IVF — the one vector
    * stores ship when memory, not compute, is the binding constraint
    * (codes are `blocks` bytes, payloads never touched at query time).
    *
    * Plan: the per-query distance TABLE (queries × centroids × blocks —
    * the classic ADC lookup table) is built once from two broadcasts,
    * then the codes table joins it on (block, code) and one hash agg
    * sums the per-block integers (order-free by the e6 contract). Never
    * touches raw candidate vectors after coding.
    *
    * @return (qid, vec_id, rank, adist_e6), rank by (adist asc, vec_id)
    */
  def pqTopK(vectors: DataFrame, queries: DataFrame, k: Int,
             blocks: Int = 8, dim: Int = 64,
             centStride: Int = 37): DataFrame = {
    require(dim % blocks == 0)
    val bw = dim / blocks
    val v = vectors.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val cents = v.filter(col("vec_id") % centStride === 0)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    val codes = pqCodes(vectors, blocks, dim, centStride)
    val q = queries.select(col("vec_id").as("qid"),
      asDouble(col("embedding")).as("qv"))
    val bdf = vectors.sparkSession.range(blocks)
      .select(col("id").cast("int").as("b"))
    def sqDist(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x)
    def sub(x: Column) = slice(x, col("b") * bw + 1, lit(bw))
    val dtab = q.crossJoin(broadcast(cents)).crossJoin(broadcast(bdf))
      .select(col("qid"), col("b").cast("long").as("block"),
        col("cid"),
        round(sqDist(sub(col("qv")), sub(col("cv"))) * 1e6)
          .cast("long").as("qd"))
    codes.join(dtab,
        codes("block") === dtab("block") && codes("code") === dtab("cid"))
      .filter(col("qid") =!= codes("vec_id"))
      .groupBy(col("qid"), codes("vec_id").as("vec_id"))
      .agg(sum(col("qd")).as("adist_e6"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid")
          .orderBy(col("adist_e6").asc, col("vec_id").asc)))
      .filter(col("rank") <= k)
      .select(col("qid"), col("vec_id"), col("rank").cast("long").as("rank"),
        col("adist_e6"))
  }

  /** PQ distortion audit — per-block quantization health over the
    * [[pqCodes]] assignment: vectors covered, distinct codewords
    * actually used (dead codewords = wasted code space), total and mean
    * assigned distortion (e6 INTEGER sums, order-free). With the IVF
    * cell audit this completes the index-health pair: IVF watches the
    * coarse quantizer, this watches the fine one — rising distortion or
    * collapsing codeword usage is what triggers a codebook retrain.
    * One hash agg over the codes table.
    *
    * @return (block, n_vectors, n_codes_used, distortion_e6, mean_d_e6)
    */
  def pqDistortion(vectors: DataFrame, blocks: Int = 8, dim: Int = 64,
                   centStride: Int = 37): DataFrame =
    pqCodes(vectors, blocks, dim, centStride)
      .groupBy("block")
      .agg(count(lit(1)).as("n_vectors"),
        countDistinct(col("code")).as("n_codes_used"),
        sum(col("d_e6")).as("distortion_e6"))
      .select(col("block"), col("n_vectors"), col("n_codes_used"),
        col("distortion_e6"),
        expr("distortion_e6 div n_vectors").as("mean_d_e6"))

  /** IVF cell audit: assign every vector to its nearest coarse-quantizer
    * cell (the [[ivfTopK]] assignment, distances rounded ×1e6 with a
    * cid tie-break before the argmin) and report per-cell occupancy and
    * scatter — cell size, total assigned distance (an e6 INTEGER sum, so
    * it is order-free), and its per-vector mean. The index-health monitor
    * run before serving an IVF index at scale: empty/overfull cells mean
    * the quantizer no longer matches the data distribution and probe
    * recall degrades — this table is what triggers a retrain.
    *
    * Scale shape: one broadcast of the centroid table, a map-side |V|×K
    * distance scan, one per-vector argmin window (partitioned by vector,
    * never global), one hash agg.
    *
    * @return (cid, n_vectors, inertia_e6, mean_d_e6)
    */
  def ivfCells(vectors: DataFrame, centStride: Int = 29): DataFrame =
    ivfAssign(vectors, centStride).groupBy("cid")
      .agg(count(lit(1)).as("n_vectors"),
        sum(col("d")).cast("long").as("inertia_e6"))
      .withColumn("mean_d_e6",
        round(col("inertia_e6").cast("double") / col("n_vectors"))
          .cast("long"))

  /** Shared sampled-quantizer assignment behind [[ivfCells]] and
    * [[ivfCellPurity]]: every vector to its nearest stride-sampled
    * centroid (e6-rounded squared-L2, (d, cid) argmin pin).
    */
  private def ivfAssign(vectors: DataFrame, centStride: Int): DataFrame = {
    val v = vectors.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val cents = v.filter(col("vec_id") % centStride === 0)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    def sqDist(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x)
    v.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cid"),
        round(sqDist(col("v"), col("cv")) * 1e6).cast("long").as("d"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("d"), col("cid"))))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("cid"), col("d"))
  }

  /** Label purity per IVF cell: the majority label's share among each
    * cell's assigned vectors — the does-the-quantizer-respect-semantics
    * audit beside [[ivfCells]]' balance table (balanced-but-impure cells
    * mean probe recall will look fine while label-filtered queries fan
    * out everywhere). Same broadcast-centroid assignment; the majority
    * window partitions by cell. Returns
    * (cid, n_vectors, majority_label, n_majority, purity_e6).
    */
  def ivfCellPurity(vectors: DataFrame, centStride: Int = 29): DataFrame = {
    val lab = vectors.select(col("vec_id"),
      col("label").cast("long").as("label"))
    val cl = ivfAssign(vectors, centStride).join(lab, "vec_id")
      .groupBy("cid", "label").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("cid").orderBy(col("n").desc, col("label").asc)
    cl.withColumn("rn", row_number().over(w))
      .withColumn("n_vectors", sum(col("n")).over(Window.partitionBy("cid")))
      .filter(col("rn") === 1)
      .select(col("cid"), col("n_vectors").cast("long").as("n_vectors"),
        col("label").as("majority_label"), col("n").as("n_majority"),
        round(col("n").cast("double") * 1000000 / col("n_vectors"))
          .cast("long").as("purity_e6"))
  }

  /** Lloyd-trained centroids (k-means) for IVF: `iters` rounds of
    * assign + elementwise mean. Engine-side only — the cross-row mean is
    * float-summation-order-dependent, so this variant is validated by
    * recall tests in ScalaTest rather than a bit-exact SQL oracle.
    * Returns (cid, cv).
    */
  def ivfTrain(vectors: DataFrame, centStride: Int = 29, iters: Int = 2): DataFrame = {
    val v = vectors.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    var cents = v.filter(col("vec_id") % centStride === 0)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    def sqDist(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x)
    var i = 0
    while (i < iters) {
      i += 1
      val assign = v.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("v"), col("cid"),
          round(sqDist(col("v"), col("cv")) * 1e6).cast("long").as("d"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("vec_id").orderBy(col("d"), col("cid"))))
        .filter(col("rk") === 1)
      cents = assign
        .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cid"), col("pos")).agg(avg(col("x")).as("m"))
        .groupBy(col("cid"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("cv"))
    }
    cents
  }

  /** One GNN message-passing layer over the link graph: the smoothed
    * embedding of a vertex is the component-wise mean of its
    * in-neighbors' embeddings (GCN/SAGE-mean aggregate — feature
    * smoothing before any learned transform). Exact integer arithmetic:
    * components quantized to e6 ONCE on input, neighbor sums exact
    * longs, and the mean is returned as (sum_q, deg) so no division
    * rounding enters — callers divide at the precision they need.
    *
    * Scale shape: one equi-join of the edge table against the exploded
    * (src, component) table + one partial-aggregated hash agg keyed
    * (dst, component) — shuffle bounded by |V|·dims after map-side
    * combine, the textbook distributed GNN layer. Duplicate edges and
    * self-loops contribute one message each (multiset mean), matching
    * the adjacency-matrix formulation.
    *
    * @param edges (src, dst) — messages flow src → dst
    * @param emb   (vec_id, embedding array<float>)
    * @param dims  leading components to smooth (bounds output width)
    * @return (vec_id, i, deg, sum_q): vec_id = dst, i = component index,
    *         deg = in-messages carrying an embedding, sum_q = Σ q_src[i]
    */
  def smoothEmbeddings(edges: DataFrame, emb: DataFrame, dims: Int): DataFrame = {
    require(dims >= 1)
    val q = emb.select(col("vec_id").as("src"),
        posexplode(col("embedding")).as(Seq("i", "x")))
      .filter(col("i") < dims)
      .select(col("src"), col("i").cast("long").as("i"),
        round(col("x").cast("double") * 1e6).cast("long").as("q"))
    edges.select(col("src"), col("dst")).join(q, "src")
      .groupBy(col("dst").as("vec_id"), col("i"))
      .agg(count(lit(1)).as("deg"), sum(col("q")).as("sum_q"))
  }

  /** Contrastive hard-negative mining: for every query vector, the k
    * most-cosine-similar vectors with a DIFFERENT label — the standard
    * negative miner for training embedding models (similar-but-wrong
    * examples teach the margin; random negatives are too easy). Exact
    * brute-force baseline (the documented crossJoin); at corpus scale
    * run the same label-mismatch filter inside [[lshTopK]]'s bucket
    * join instead.
    *
    * @return (qid, vec_id, rank, sim_e6), rank 1 = hardest negative
    */
  def hardNegatives(vectors: DataFrame, queries: DataFrame,
                    k: Int): DataFrame = {
    val v = vectors.select(col("vec_id"), col("label").as("vlab"),
      asDouble(col("embedding")).as("v"))
    val q = queries.select(col("vec_id").as("qid"), col("label").as("qlab"),
      asDouble(col("embedding")).as("qv"))
    val sims = q.crossJoin(v)
      .filter(col("qid") =!= col("vec_id") && col("qlab") =!= col("vlab"))
      .select(col("qid"), col("vec_id"), cosine(col("qv"), col("v")).as("sim"))
    topK(sims, k)
  }

  /** Per-dimension embedding distribution audit: n, exact e6-integer
    * component sum, mean and variance per dimension — the
    * embedding-collapse / drift monitor (a dimension whose variance
    * pins to ~0 is dead; a shifted mean flags an encoder version skew)
    * run before trusting any ANN index built on the column.
    *
    * Components are rounded to e6 INTEGERS first, so both sums are
    * exact and order-free; mean/variance are one final double expression
    * from the integer moments (identical text in the oracle). int64
    * envelope: Σx² in e12 units needs n·max(x)²·10¹² < 2⁶³ — safe to
    * ~9·10⁶ unit-normed vectors per audit; beyond, sample or lift the
    * square sum to Decimal(38,0).
    *
    * @return (dim, n, sum_e6, mean_e6, var_e12)
    */
  def dimStats(vectors: DataFrame, dim: Int = 64): DataFrame = {
    val ex = vectors
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim").cast("long").as("dim"),
        round(col("x").cast("double") * 1000000).cast("long").as("xe6"))
    ex.groupBy("dim")
      .agg(count(lit(1)).as("n"),
        sum(col("xe6")).as("sum_e6"),
        sum(col("xe6") * col("xe6")).as("sumsq"))
      .select(col("dim"), col("n"), col("sum_e6"),
        round(col("sum_e6") / col("n")).cast("long").as("mean_e6"),
        round(col("sumsq") / col("n")
          - (col("sum_e6") / col("n")) * (col("sum_e6") / col("n")))
          .cast("long").as("var_e12"))
  }

  /** Exact covariance matrix of the embedding dimensions from integer
    * moments — the whitening / drift-direction audit that extends
    * [[dimStats]]'s per-dimension variances to the full upper triangle
    * (PCA prep, anisotropy detection: a healthy embedding space has a
    * flat-ish spectrum; one dominant off-diagonal block means the encoder
    * collapsed).
    *
    * Contract: entries are e6-rounded BEFORE any product (the dimStats
    * rule), so every moment is an exact int64 sum and the gate is
    * order-free; cov_e12 = Σxy/n − (Σx/n)(Σy/n) is one final double
    * expression mirrored by the oracle.
    *
    * Scale shape: ONE scan — the d(d+1)/2 product terms are built
    * per-row with codegen'd higher-order functions (no self-join on the
    * vector table) and hash-aggregated map-side down to the d(d+1)/2
    * output groups; shuffle and output are both d²-bounded no matter how
    * many vectors flow through. Same int64 envelope as dimStats:
    * n·max(x)²·10¹² < 2⁶³ → ~9·10⁶ unit-normed vectors per audit, then
    * sample or lift to Decimal(38,0).
    *
    * @return (i, j, n, sum_xy_e12, cov_e12) for 0 ≤ i ≤ j < dim
    */
  def covarianceMatrix(vectors: DataFrame): DataFrame = {
    val xe6 = transform(col("embedding"),
      x => round(x.cast("double") * 1000000).cast("long"))
    val terms = filter(
      flatten(transform(xe6, (xi, i) =>
        transform(xe6, (xj, j) =>
          struct(i.cast("long").as("i"), j.cast("long").as("j"),
            xi.as("xi"), xj.as("xj"))))),
      s => s.getField("i") <= s.getField("j"))
    vectors.select(explode(terms).as("t"))
      .select(col("t.i").as("i"), col("t.j").as("j"),
        col("t.xi").as("xi"), col("t.xj").as("xj"))
      .groupBy("i", "j")
      .agg(count(lit(1)).as("n"),
        sum(col("xi") * col("xj")).as("sum_xy_e12"),
        sum(col("xi")).as("sx"), sum(col("xj")).as("sy"))
      .select(col("i"), col("j"), col("n"), col("sum_xy_e12"),
        round(col("sum_xy_e12") / col("n")
          - (col("sx") / col("n")) * (col("sy") / col("n")))
          .cast("long").as("cov_e12"))
  }

  /** Int8 scalar-quantization audit — the compression every serving-side
    * vector store applies first (FAISS SQ8 / qint8): per-dimension
    * min–max affine codes
    *
    *   q_d(x)  = round(255 · (x − mn_d) / (mx_d − mn_d))
    *   x̂_d(q) = mn_d + q · (mx_d − mn_d) / 255
    *
    * evaluated entirely in EXACT integer arithmetic on the e6-quantized
    * inputs (the [[dimStats]] convention): both roundings are the
    * half-up integer form (2·a + b) div (2·b), so every code and every
    * reconstruction error is bit-replayable with no float in sight.
    * Constant dimensions (mx = mn) code to 0 and reconstruct mn exactly.
    *
    * Plan: one 64-row min/max aggregation broadcast back onto the
    * exploded values, one per-vector hash agg — two scans, no shuffle
    * wider than the vector count.
    *
    * @return (vec_id, q_sum, sse_e12): the exact code checksum and the
    *         exact squared reconstruction error in e6² units
    */
  /** The SQ8 code/reconstruction table shared by [[scalarQuantAudit]]
    * and the SQ recall gate: per (vec_id, dim) the e6-exact value, the
    * int8 code, and the exact integer reconstruction.
    */
  def sqReconstruct(vectors: DataFrame): DataFrame = {
    val ex = vectors
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        round(col("x").cast("double") * 1000000).cast("long").as("xe6"))
    val rng = ex.groupBy("dim")
      .agg(min(col("xe6")).as("mn"), max(col("xe6")).as("mx"))
      .select(col("dim"), col("mn"), (col("mx") - col("mn")).as("range"))
    ex.join(broadcast(rng), Seq("dim"))
      .withColumn("q",
        when(col("range") > 0,
          expr("(2 * 255 * (xe6 - mn) + range) div (2 * range)"))
          .otherwise(lit(0L)))
      .withColumn("rec",
        col("mn") + expr("(2 * q * range + 255) div (2 * 255)"))
      .select(col("vec_id"), col("dim"), col("xe6"), col("q"), col("rec"))
  }

  def scalarQuantAudit(vectors: DataFrame): DataFrame =
    sqReconstruct(vectors)
      .groupBy("vec_id")
      .agg(sum(col("q")).cast("long").as("q_sum"),
        sum((col("xe6") - col("rec")) * (col("xe6") - col("rec")))
          .cast("long").as("sse_e12"))

  /** Split-half centroid drift per label — the embedding-space stability
    * audit run before trusting a clustering or an ANN index across a
    * re-encode: vectors are split deterministically by vec_id parity,
    * per-label centroids computed on each half, and the cosine between
    * the two halves' centroids reported. cos ≈ 1 = the label's region is
    * stable under resampling; a low cosine flags a label whose centroid
    * is noise (too few vectors, or a mixture).
    *
    * Determinism: per-(label, half, dim) sums are exact integers over
    * the e6-quantized values; centroid means are rounded back to e6
    * longs; the final dot/norms are exact integer sums over the 64 dims,
    * with the ONE float op being the last sqrt+divide. Plan: one hash
    * agg to (label, half, dim) — ≤ labels·2·64 rows — then label-sized
    * joins; nothing scales with the vector count after the first agg.
    *
    * @return (label, n_a, n_b, cos_e6); labels missing a half are
    *         omitted (no centroid to compare)
    */
  def centroidDrift(vectors: DataFrame): DataFrame = {
    val ex = vectors
      .select(col("label").cast("long").as("label"),
        (col("vec_id") % 2).as("half"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("label"), col("half"), col("dim").cast("long").as("dim"),
        round(col("x").cast("double") * 1000000).cast("long").as("xe6"))
    val cent = ex.groupBy("label", "half", "dim")
      .agg(count(lit(1)).as("n"), sum(col("xe6")).as("s"))
      .select(col("label"), col("half"), col("dim"), col("n"),
        round(col("s").cast("double") / col("n")).cast("long").as("m"))
    val a = cent.filter(col("half") === 0)
      .select(col("label"), col("dim"), col("n").as("n_a"), col("m").as("ma"))
    val b = cent.filter(col("half") === 1)
      .select(col("label"), col("dim"), col("n").as("n_b"), col("m").as("mb"))
    a.join(b, Seq("label", "dim"))
      .groupBy("label")
      .agg(first(col("n_a")).as("n_a"), first(col("n_b")).as("n_b"),
        sum(col("ma") * col("mb")).as("dot"),
        sum(col("ma") * col("ma")).as("na2"),
        sum(col("mb") * col("mb")).as("nb2"))
      .filter(col("na2") > 0 && col("nb2") > 0)
      .select(col("label"), col("n_a"), col("n_b"),
        round(col("dot").cast("double") /
          sqrt(col("na2").cast("double") * col("nb2").cast("double"))
          * 1000000).cast("long").as("cos_e6"))
  }

  /** Dominant variance direction by two deterministic power-iteration
    * steps on the exact integer covariance matrix — the "what single
    * axis carries this embedding space's variance" PCA probe run before
    * whitening or dimensionality decisions (an anisotropic space with
    * one dominant axis is the classic un-normalized-encoder smell).
    *
    *   v₁ = C·1,   v₂ = C·v̂₁   (v̂ = per-step max-abs normalization)
    *
    * Determinism: C is [[covarianceMatrix]]'s exact cov_e12 integers
    * (mirrored to the full matrix), the all-ones start vector breaks the
    * eigenvector sign ambiguity, each normalization is ONE rounded
    * double division (v̂₁ in e3 so the second matvec stays inside int64:
    * |Σ cov_e12 · v̂₁| ≤ 64 · 10¹³ · 10³), and both matvecs are exact
    * integer sums. Two steps separate a dominant eigenvalue cleanly on
    * real spectra; callers needing more precision iterate the same
    * contract. Plan: everything after the covariance agg is 64-row.
    *
    * @return (dim, v1_e6, v2_e6) — both steps' directions, max-abs
    *         normalized to e6
    */
  def dominantDirection(vectors: DataFrame): DataFrame = {
    val cov = covarianceMatrix(vectors)
      .select(col("i"), col("j"), col("cov_e12"))
    val full = cov.union(cov.filter(col("i") =!= col("j"))
      .select(col("j").as("i"), col("i").as("j"), col("cov_e12")))
    val v1 = full.groupBy("i").agg(sum(col("cov_e12")).as("v1"))
    val m1 = v1.agg(max(abs(col("v1"))).as("m1"))
    val v1n = v1.crossJoin(broadcast(m1))
      .select(col("i"),
        round(col("v1").cast("double") / col("m1") * 1000000)
          .cast("long").as("v1_e6"),
        round(col("v1").cast("double") / col("m1") * 1000)
          .cast("long").as("v1_e3"))
    val v2 = full
      .join(v1n.select(col("i").as("j"), col("v1_e3")), Seq("j"))
      .groupBy("i").agg(sum(col("cov_e12") * col("v1_e3")).as("v2"))
    val m2 = v2.agg(max(abs(col("v2"))).as("m2"))
    v1n.join(v2, Seq("i")).crossJoin(broadcast(m2))
      .select(col("i").as("dim"), col("v1_e6"),
        round(col("v2").cast("double") / col("m2") * 1000000)
          .cast("long").as("v2_e6"))
  }

  private def topK(sims: DataFrame, k: Int): DataFrame =
    sims.withColumn("sim_e6", round(col("sim") * 1000000).cast("long"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("sim_e6").desc, col("vec_id").asc)))
      .filter(col("rank") <= k)
      .select(col("qid"), col("vec_id"), col("rank").cast("long").as("rank"),
        col("sim_e6"))

  /** Mutual k-nearest-neighbor graph — the standard semantic-graph build
    * step before graph clustering / semantic dedup: keep the pair (a, b)
    * only when b is in a's cosine top-k AND a is in b's. The mutual
    * filter is what makes the kNN graph degree-bounded and symmetric (a
    * hub vector may be in everyone's top-k, but it keeps only its own k
    * picks), so the downstream CC/Louvain pass sees a graph, not a star.
    *
    * This exact form ranks with the brute-force cosine baseline (every
    * vector a query — the documented exact path). At scale, substitute
    * the LSH/IVF candidate top-k (identical mutual step: one self-join
    * on the reversed pair key, the pair table is |V|·k-bounded, never
    * |V|²).
    *
    * @return canonical (a < b) rows (a, b, rank_ab, rank_ba, sim_e6)
    */
  def mutualKnn(vectors: DataFrame, k: Int): DataFrame = {
    val v = vectors.select(col("vec_id"),
      asDouble(col("embedding")).as("v"))
    val n = v.select(col("vec_id"), col("v"),
      sqrt(aggregate(col("v"), lit(0.0), (acc, x) => acc + x * x)).as("nrm"))
    val q = n.select(col("vec_id").as("qid"), col("v").as("qv"),
      col("nrm").as("qn"))
    val sims = q.crossJoin(n).filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"),
        (aggregate(zip_with(col("qv"), col("v"), (a, b) => a * b),
          lit(0.0), (acc, x) => acc + x) / (col("qn") * col("nrm"))).as("sim"))
    val tk = topK(sims, k)
    tk.filter(col("qid") < col("vec_id"))
      .select(col("qid").as("a"), col("vec_id").as("b"),
        col("rank").as("rank_ab"), col("sim_e6"))
      .join(tk.filter(col("qid") > col("vec_id"))
          .select(col("vec_id").as("a"), col("qid").as("b"),
            col("rank").as("rank_ba")),
        Seq("a", "b"))
      .select(col("a"), col("b"), col("rank_ab"), col("rank_ba"),
        col("sim_e6"))
  }

  /** Hubness audit of the kNN graph: the in-degree histogram of the
    * directed cosine top-k relation over ALL points — how many points
    * appear in 0, 1, 2, … other points' top-k lists. Skewed hubness
    * (a few points in thousands of lists, a long tail in none) is the
    * classic high-dimensional pathology that silently corrupts
    * kNN-based dedup/retrieval, so this is the audit run before trusting
    * either. Exact brute-force top-k is the verification baseline (the
    * same crossJoin contract as [[bruteForceTopK]] — at corpus scale the
    * in-degree table comes from [[lshTopK]]'s bucketed candidates
    * instead; the histogram fold downstream is identical). Zero-in-degree
    * points are kept via a left anti-join so the histogram mass always
    * sums to n. Returns (indeg, n_points).
    */
  def knnHubness(vectors: DataFrame, k: Int): DataFrame = {
    val tk = bruteForceTopK(vectors, vectors, k)
    val indeg = tk.groupBy(col("vec_id")).agg(count(lit(1)).as("indeg"))
    val zeros = vectors.select(col("vec_id"))
      .join(indeg, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), lit(0L).as("indeg"))
    indeg.union(zeros).groupBy(col("indeg"))
      .agg(count(lit(1)).as("n_points"))
      .select(col("indeg"), col("n_points"))
  }

  /** One-row embedding-table DESCRIBE panel: row count, dimension
    * envelope (min/max array length — min ≠ max is the malformed-input
    * signal callers assert on before any fixed-dim kernel), label
    * cardinality, and total element count. One scan, one 1-row fold;
    * all exact integers.
    */
  def embedSummary(vectors: DataFrame): DataFrame =
    vectors.agg(count(lit(1)).as("n_vecs"),
      min(size(col("embedding"))).cast("long").as("dim_min"),
      max(size(col("embedding"))).cast("long").as("dim_max"),
      countDistinct(col("label")).as("n_labels"),
      sum(size(col("embedding"))).cast("long").as("n_elems"))

  /** Nearest-centroid confusion matrix: each vector classified by the
    * closest per-label centroid (exact e6-integer squared-L2, tie → min
    * label), cross-tabbed against its true label — the one-query
    * linear-probe proxy for embedding quality (a diagonal-heavy matrix
    * says the space separates the labels; a smeared one says don't trust
    * label-conditioned retrieval). Centroid components are ROUND(Σx_e6/n)
    * from exact integer sums, so both engines derive identical integer
    * centroids; every distance after that is an exact int64
    * ((2e6)²·64 ≈ 2.6e14 per vector, safe).
    *
    * Scale shape: the centroid table is labels×dim (tiny, broadcast); the
    * distance pass is one scan of the exploded vectors joined to it,
    * hash-aggregated per (vector, candidate); the argmin window
    * partitions BY VECTOR over ≤ |labels| rows. Nothing vertex-sized is
    * ever sorted globally.
    *
    * @return (label, pred, n) — true label × predicted label counts
    */
  def nearestCentroid(vectors: DataFrame): DataFrame = {
    val w = Window.partitionBy("vec_id")
      .orderBy(col("d2").asc, col("clab").asc)
    centroidD2(vectors)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .groupBy(col("label"), col("clab").as("pred"))
      .agg(count(lit(1)).as("n"))
  }

  /** Shared distance table behind [[nearestCentroid]] and
    * [[centroidMargin]]: per (vector, candidate label) the exact integer
    * squared-L2 to that label's e6-integer centroid.
    */
  private def labelCentroids(vectors: DataFrame): DataFrame =
    vectors.select(col("label").cast("long").as("label"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("label"), col("dim"),
        round(col("x").cast("double") * 1000000).cast("long").as("xe6"))
      .groupBy(col("label").as("clab"), col("dim").as("cdim"))
      .agg(sum(col("xe6")).as("s"), count(lit(1)).as("nl"))
      .select(col("clab"), col("cdim"),
        round(col("s") / col("nl")).cast("long").as("ce6"))

  /** Inter-centroid squared gaps: exact integer squared-L2 between every
    * canonical pair of label centroids — the BETWEEN-class companion of
    * [[labelDispersion]]'s within-class tightness (a label pair whose gap
    * rivals either side's dispersion is not separable, whatever the
    * confusion matrix sampled). Centroid table is labels×dim; the pair
    * join is labels²-bounded. Returns (label_a, label_b, gap_d2).
    */
  def centroidGaps(vectors: DataFrame): DataFrame = {
    val cent = labelCentroids(vectors)
    cent.select(col("clab").as("label_a"), col("cdim"), col("ce6").as("ca"))
      .join(cent.select(col("clab").as("label_b"), col("cdim"),
        col("ce6").as("cb")), Seq("cdim"))
      .filter(col("label_a") < col("label_b"))
      .groupBy(col("label_a"), col("label_b"))
      .agg(sum((col("ca") - col("cb")) * (col("ca") - col("cb")))
        .cast("long").as("gap_d2"))
  }

  private def centroidD2(vectors: DataFrame): DataFrame = {
    val ex = vectors.select(col("vec_id"), col("label").cast("long").as("label"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("label"), col("dim"),
        round(col("x").cast("double") * 1000000).cast("long").as("xe6"))
    val cent = labelCentroids(vectors)
    ex.join(broadcast(cent), col("dim") === col("cdim"))
      .groupBy(col("vec_id"), col("label"), col("clab"))
      .agg(sum((col("xe6") - col("ce6")) * (col("xe6") - col("ce6")))
        .as("d2"))
  }

  /** One-row norm audit over the embedding table: vector count,
    * zero-norm count (cosine is undefined on them — the crash row every
    * ANN pass must drop first), and the exact-integer squared-norm
    * envelope in e12 units (a tight min≈max band says unit-normed as
    * promised; a wide one says the encoder skipped normalization and
    * dot-product ≠ cosine). Per-vector n2 = Σ xe6² is an exact int64
    * (≤ 64·4e12); only min/max/count cross rows, so no corpus-sized sum
    * can overflow. Returns (n_vecs, n_zero, min_n2, max_n2).
    */
  def normAudit(vectors: DataFrame): DataFrame =
    vectors.select(aggregate(
        transform(col("embedding"),
          x => round(x.cast("double") * 1000000).cast("long")),
        lit(0L), (acc, v) => acc + v * v).as("n2"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("n2") === 0, 1L).otherwise(0L)).cast("long")
          .as("n_zero"),
        min(col("n2")).as("min_n2"), max(col("n2")).as("max_n2"))

  /** kNN label agreement per class: of each point's cosine top-k
    * neighbors, how many share its label — the LOCAL embedding-quality
    * view that catches what the centroid family cannot (a class split
    * into two clean blobs scores perfect agreement here while its
    * centroid sits in the void between them). Exact integer pair counts
    * per label, one final divide; exact brute-force baseline with the
    * usual ANN-candidate swap at corpus scale.
    *
    * @return (label, n_points, n_pairs, n_agree, agree_e6)
    */
  def knnLabelAgreement(vectors: DataFrame, k: Int): DataFrame = {
    val lab = vectors.select(col("vec_id"),
      col("label").cast("long").as("label"))
    bruteForceTopK(vectors, vectors, k)
      .join(lab.select(col("vec_id").as("qid"), col("label").as("ql")),
        "qid")
      .join(lab.select(col("vec_id"), col("label").as("nl")), "vec_id")
      .groupBy(col("ql").as("label"))
      .agg(countDistinct(col("qid")).as("n_points"),
        count(lit(1)).as("n_pairs"),
        sum(when(col("ql") === col("nl"), 1L).otherwise(0L)).cast("long")
          .as("n_agree"))
      .select(col("label"), col("n_points"), col("n_pairs"), col("n_agree"),
        round(col("n_agree").cast("double") * 1000000 / col("n_pairs"))
          .cast("long").as("agree_e6"))
  }

  /** Two-NN intrinsic-dimension estimate (Facco et al. 2017): per point
    * the ratio μ = d₂/d₁ of its two nearest-neighbor DISTANCES (squared
    * ratios halve the log), ID ≈ n / Σ ln μ — the is-my-64-dim-space
    * really-64-dimensional audit that decides how aggressive JL/PQ
    * compression can be (data on a low-dim manifold compresses far
    * harder than its ambient width suggests). Per-point ln terms are
    * e6-rounded BEFORE the sum (order-free contract); points with
    * d₁ = 0 (exact dups — see [[exactDupVectors]]) or d₂ = 0 are
    * excluded and counted. Exact [[l2TopK]] baseline; the scale path
    * rides the ANN candidates like every other top-k audit.
    *
    * @return one row (n_used, n_degenerate, sum_lnmu_e6, id_e6)
    */
  def intrinsicDimension(vectors: DataFrame): DataFrame = {
    val tk = l2TopK(vectors, vectors, 2)
    val paired = tk.groupBy(col("qid"))
      .agg(min(when(col("rank") === 1, col("d_e6"))).as("d1"),
        min(when(col("rank") === 2, col("d_e6"))).as("d2"))
    val terms = paired.select(
      when(col("d1") > 0 && col("d2") > 0,
        round(log(col("d2").cast("double") / col("d1")) / 2 * 1000000)
          .cast("long")).as("t"))
    terms.agg(count(col("t")).as("n_used"),
        sum(when(col("t").isNull, 1L).otherwise(0L)).cast("long")
          .as("n_degenerate"),
        coalesce(sum(col("t")), lit(0L)).cast("long").as("sum_lnmu_e6"))
      .select(col("n_used"), col("n_degenerate"), col("sum_lnmu_e6"),
        when(col("sum_lnmu_e6") <= 0, lit(0L)).otherwise(
          round(col("n_used").cast("double") * 1000000000000L
            / col("sum_lnmu_e6")).cast("long")).as("id_e6"))
  }

  /** Exact-duplicate vector groups: vectors identical after the shared
    * e6 quantization, grouped by the md5 of their comma-joined integer
    * components (16-byte keys, never array equality over the corpus —
    * the corpusSummary contract lifted to vectors). Run before building
    * any ANN index: exact dups waste index space, skew IVF cells, and
    * turn top-k lists into mirrors of one page. One scan + one hash agg.
    *
    * @return (vec_hash, n_vecs, canonical_id) for groups of ≥ 2
    */
  def exactDupVectors(vectors: DataFrame): DataFrame =
    vectors.select(col("vec_id"),
        md5(concat_ws(",", transform(col("embedding"),
          x => round(x.cast("double") * 1000000).cast("long")
            .cast("string")))).as("vec_hash"))
      .groupBy("vec_hash")
      .agg(count(lit(1)).as("n_vecs"),
        min(col("vec_id")).cast("long").as("canonical_id"))
      .filter(col("n_vecs") >= 2)

  /** Per-label cluster tightness: vector count and mean squared distance
    * to the OWN label's centroid, from the shared [[nearestCentroid]]
    * distance pass — read next to [[centroidMargin]]: tight clusters with
    * wide margins are a healthy space; a label whose dispersion rivals
    * the inter-centroid gaps is not separable no matter what the
    * confusion matrix says on this sample. Exact integer sums, one final
    * rounded divide. Returns (label, n_vecs, sum_d2, mean_d2).
    */
  def labelDispersion(vectors: DataFrame): DataFrame =
    centroidD2(vectors).filter(col("label") === col("clab"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("d2")).cast("long").as("sum_d2"))
      .select(col("label"), col("n_vecs"), col("sum_d2"),
        round(col("sum_d2") / col("n_vecs")).cast("long").as("mean_d2"))

  /** Per-vector classification margin: distance to the best vs
    * second-best label centroid, margin_e6 = (d2_second − d2_best)·1e6 /
    * d2_second ∈ [0, 1e6] — the confidence score behind
    * [[nearestCentroid]]'s hard assignment (a corpus whose margins pile
    * up near 0 has overlapping label clusters and its confusion matrix is
    * one re-embedding away from flipping). Same broadcast-centroid
    * distance pass; the top-2 window partitions by vector over ≤ |labels|
    * rows. d2_second = 0 (both centroids exactly on the point) yields 0.
    *
    * @return (vec_id, label, pred, d2_best, d2_second, margin_e6)
    */
  def centroidMargin(vectors: DataFrame): DataFrame = {
    val w = Window.partitionBy("vec_id")
      .orderBy(col("d2").asc, col("clab").asc)
    val top2 = centroidD2(vectors)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
    top2.filter(col("rn") === 1)
      .select(col("vec_id"), col("label"), col("clab").as("pred"),
        col("d2").as("d2_best"))
      .join(top2.filter(col("rn") === 2)
        .select(col("vec_id"), col("d2").as("d2_second")), Seq("vec_id"))
      .select(col("vec_id"), col("label"), col("pred"), col("d2_best"),
        col("d2_second"),
        when(col("d2_second") === 0, lit(0L)).otherwise(
          round((col("d2_second") - col("d2_best")).cast("double") * 1000000
            / col("d2_second")).cast("long")).as("margin_e6"))
  }

  /** Johnson–Lindenstrauss distortion audit: project every vector through
    * a deterministic ±1 matrix (sign(i,p) = + iff (31·i + 67·p) is even —
    * replayable in any engine) down to `kProj` components, then compare
    * projected vs full squared distances on the consecutive-id probe
    * pairs. ratio_e6 ≈ 1e6 means the cheap k-dim sketch preserves
    * geometry (E[‖Px‖²] = k·‖x‖² for ±1 P) and downstream ANN can run on
    * the sketch; heavy tails mean keep the full width. All distances are
    * exact integers from the shared e6 quantization; the only divide is
    * the final ratio. Projection is one exploded scan × a broadcast
    * kProj-row table; probe pairs are an equi-join on vec_id+1, never
    * all-pairs.
    *
    * @return (a, b, d2_full, d2_proj, ratio_e6) per probe pair
    */
  def jlAudit(vectors: DataFrame, kProj: Int = 16): DataFrame = {
    val spark = vectors.sparkSession
    val ex = vectors.select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        round(col("x").cast("double") * 1000000).cast("long").as("xe6"))
    val projs = spark.range(kProj).select(col("id").as("p"))
    val pr = ex.crossJoin(broadcast(projs))
      .groupBy(col("vec_id"), col("p"))
      .agg(sum(when((col("dim") * 31 + col("p") * 67) % 2 === 0,
        col("xe6")).otherwise(-col("xe6"))).as("ye6"))
    val pairs = vectors.select(col("vec_id").as("a"))
      .join(vectors.select((col("vec_id") - 1).as("a"),
        col("vec_id").as("b")), Seq("a"))
    val dFull = pairs
      .join(ex.select(col("vec_id").as("a"), col("dim"), col("xe6").as("xa")),
        Seq("a"))
      .join(ex.select(col("vec_id").as("b"), col("dim"), col("xe6").as("xb")),
        Seq("b", "dim"))
      .groupBy(col("a"), col("b"))
      .agg(sum((col("xa") - col("xb")) * (col("xa") - col("xb")))
        .cast("long").as("d2_full"))
    val dProj = pairs
      .join(pr.select(col("vec_id").as("a"), col("p"), col("ye6").as("ya")),
        Seq("a"))
      .join(pr.select(col("vec_id").as("b"), col("p"), col("ye6").as("yb")),
        Seq("b", "p"))
      .groupBy(col("a").as("pa"), col("b").as("pb"))
      .agg(sum((col("ya") - col("yb")) * (col("ya") - col("yb")))
        .cast("long").as("d2_proj"))
    dFull.join(dProj, col("a") === col("pa") && col("b") === col("pb"))
      .select(col("a"), col("b"), col("d2_full"), col("d2_proj"),
        when(col("d2_full") === 0, lit(0L)).otherwise(
          round(col("d2_proj").cast("double") * 1000000
            / (col("d2_full") * kProj)).cast("long")).as("ratio_e6"))
  }

  /** Sign-bit binarization: each vector's 64 components collapse to one
    * sign bit (set when the e6-quantized component is ≥ 0 — the
    * [[randomHyperplaneLsh]] round-before-sign determinism contract),
    * packed into two 32-bit words so no term ever touches the sign bit
    * of a BIGINT. 64× compression; Hamming distance between sign words
    * is the classic 1-bit cosine sketch (Charikar 2002: the identity
    * hyperplane family). Returns (vec_id, lo, hi) — bits 0–31 / 32–63.
    */
  def signPack(vectors: DataFrame): DataFrame =
    vectors.select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("dim"),
        round(col("x").cast("double") * 1000000).cast("long").as("xe6"))
      .groupBy("vec_id")
      .agg(
        sum(when(col("dim") < 32 && col("xe6") >= 0,
          expr("shiftleft(CAST(1 AS BIGINT), dim)")).otherwise(0L))
          .cast("long").as("lo"),
        sum(when(col("dim") >= 32 && col("xe6") >= 0,
          expr("shiftleft(CAST(1 AS BIGINT), dim - 32)")).otherwise(0L))
          .cast("long").as("hi"))

  /** Binary-quantization recall audit: does 1-bit-per-dimension survive
    * nearest-neighbor ranking? Per query (the shared `% 50` query set),
    * the overlap between the Hamming top-k over [[signPack]] words and
    * the exact cosine top-k — the go/no-go number before shipping a
    * 64×-compressed first-stage retriever with exact re-rank.
    *
    * Plan: the sign table is 3 longs/vector, so the Hamming side's
    * query×corpus join streams popcounts in whole-stage codegen
    * (`bit_count(xor)` — no arrays cross the shuffle); the exact side
    * is the documented brute-force baseline shared with `e_ann_topk`
    * (at scale the exact list comes from the IVF/LSH path instead; the
    * overlap join is unchanged). Ties break by vec_id on both sides.
    *
    * @return (qid, n_hit, recall_e6) per query
    */
  def binaryRecall(vectors: DataFrame, k: Int): DataFrame = {
    val sp = signPack(vectors)
    val q = sp.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("lo").as("qlo"),
        col("hi").as("qhi"))
    val ham = q.crossJoin(sp).filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"),
        expr("bit_count(qlo ^ lo) + bit_count(qhi ^ hi)").cast("long")
          .as("hd"))
    val hamTop = ham.withColumn("rank",
        row_number().over(Window.partitionBy("qid")
          .orderBy(col("hd").asc, col("vec_id").asc)))
      .filter(col("rank") <= k).select(col("qid"), col("vec_id"))
    val v = vectors.select(col("vec_id"),
      asDouble(col("embedding")).as("v"))
    val n = v.select(col("vec_id"), col("v"),
      sqrt(aggregate(col("v"), lit(0.0), (acc, x) => acc + x * x)).as("nrm"))
    val qe = n.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qn"))
    val exTop = qe.crossJoin(n).filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"),
        round(aggregate(zip_with(col("qv"), col("v"), (a, b) => a * b),
          lit(0.0), (acc, x) => acc + x) / (col("qn") * col("nrm"))
          * 1000000).cast("long").as("sim_e6"))
      .withColumn("rank", row_number().over(Window.partitionBy("qid")
        .orderBy(col("sim_e6").desc, col("vec_id").asc)))
      .filter(col("rank") <= k).select(col("qid"), col("vec_id"))
    val hits = exTop.join(hamTop, Seq("qid", "vec_id"), "left_semi")
      .groupBy("qid").agg(count(lit(1)).as("h"))
    q.select(col("qid")).join(hits, Seq("qid"), "left")
      .select(col("qid"), coalesce(col("h"), lit(0L)).as("n_hit"),
        (coalesce(col("h"), lit(0L)) * (1000000L / k)).as("recall_e6"))
  }

  /** Deterministic k-means++ seeding (Arthur & Vassilvitskii 2007,
    * farthest-point variant): seed 1 is the minimum vec_id (pinned —
    * no randomness to replay), each further seed is the vector
    * maximizing its squared-L2 distance to the NEAREST chosen seed.
    * Farthest-point is the classic derandomization of the D² draw and
    * what a deterministic pipeline actually ships; the seeds feed the
    * IVF coarse quantizer, whose cell balance (e_ivf_cells) this
    * directly drives. Distances are e6-integer exact (the shared ANN
    * contract), ties break by vec_id asc.
    *
    * Plan: the per-vector nearest-seed distance is CARRIED between steps
    * (dmin' = least(dmin, d² to the newest seed) — a narrow map against a
    * broadcast 1-row seed, no re-scan of the whole seed set), and each
    * step's argmax is `orderBy(dmin desc, vec_id asc).limit(1)` — a
    * `TakeOrderedAndProject` (per-partition top-1 + driver merge of one
    * row per partition), the [[graft.algo.Influence.voteRank]] shape. No
    * global window, no single-partition sort, no |V|² table; total work
    * is O(|V|·k) distance evaluations.
    *
    * @return (rank, vec_id, d_e6) — d = distance to nearest earlier
    *         seed (0 for the pinned first seed)
    */
  def kmeansppSeeds(vectors: DataFrame, k: Int): DataFrame = {
    require(k >= 1)
    val v = vectors.select(col("vec_id"),
      transform(col("embedding"), x =>
        round(x.cast("double") * 1000000).cast("long")).as("xe"))
      .transform(graft.engine.Materialize.eager)
    def d2(a: Column, b: Column) =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, x) => acc + x)
    var seeds = v.orderBy(col("vec_id").asc).limit(1)
      .select(lit(1L).as("rank"), col("vec_id"), lit(0L).as("d_e6"),
        col("xe"))
      .transform(graft.engine.Materialize.eager)
    // (vec_id, xe, dmin) for every non-seed vector: dmin = d² to the
    // nearest chosen seed so far. Seeding it from seed 1 and folding in
    // only the NEWEST seed each round computes exactly min over all seeds.
    var state =
      if (k == 1) null
      else v.crossJoin(broadcast(seeds.select(col("vec_id").as("sid"),
          col("xe").as("se"))))
        .filter(col("vec_id") =!= col("sid"))
        .select(col("vec_id"), col("xe"), d2(col("xe"), col("se")).as("dmin"))
        .transform(graft.engine.Materialize.eager)
    var t = 1
    while (t < k) {
      t += 1
      val pick = state.orderBy(col("dmin").desc, col("vec_id").asc).limit(1)
        .select(lit(t.toLong).as("rank"), col("vec_id"),
          col("dmin").as("d_e6"), col("xe"))
        .transform(graft.engine.Materialize.eager)
      seeds = seeds.union(pick)
        .transform(graft.engine.Materialize.eager)
      if (t < k) {
        val prev = state
        state = state.crossJoin(broadcast(pick.select(
            col("vec_id").as("sid"), col("xe").as("se"))))
          .filter(col("vec_id") =!= col("sid"))
          .select(col("vec_id"), col("xe"),
            least(col("dmin"), d2(col("xe"), col("se"))).as("dmin"))
          .transform(graft.engine.Materialize.eager)
        prev.unpersist(blocking = false)
      }
    }
    seeds.select(col("rank"), col("vec_id"), col("d_e6"))
  }

  /** Label-filtered exact top-k retrieval: cosine top-k restricted to
    * candidates sharing the query's label — the filtered-search staple
    * every vector store ships (metadata predicate pushed INTO the
    * candidate join, so the ranking never sees out-of-filter vectors
    * and k is filled from the allowed set, not post-filtered short).
    * Same query set, e6 sims, and tie rule as `e_ann_topk`; at scale
    * the label equi-join composes with the IVF/LSH candidate stage
    * unchanged (filter key joins before distance work).
    *
    * @return (qid, vec_id, rank, sim_e6) — rank within the label
    */
  def filteredTopK(vectors: DataFrame, k: Int): DataFrame = {
    val v = vectors.select(col("vec_id"), col("label"),
      asDouble(col("embedding")).as("v"))
    val n = v.select(col("vec_id"), col("label"), col("v"),
      sqrt(aggregate(col("v"), lit(0.0), (acc, x) => acc + x * x)).as("nrm"))
    val q = n.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("label"), col("v").as("qv"),
        col("nrm").as("qn"))
    q.join(n, Seq("label")).filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"),
        round(aggregate(zip_with(col("qv"), col("v"), (a, b) => a * b),
          lit(0.0), (acc, x) => acc + x) / (col("qn") * col("nrm"))
          * 1000000).cast("long").as("sim_e6"))
      .withColumn("rank", row_number().over(Window.partitionBy("qid")
        .orderBy(col("sim_e6").desc, col("vec_id").asc)))
      .filter(col("rank") <= k)
      .select(col("qid"), col("vec_id"), col("rank").cast("long").as("rank"),
        col("sim_e6"))
  }

  /** Maximal-marginal-relevance diversified retrieval (Carbonell &
    * Goldstein 1998) at λ = ½: greedily pick `k` results from each
    * query's top-`cand` cosine candidates, each step maximizing
    *
    *   score(d) = sim(q,d) − max_{s ∈ selected} sim(d,s)
    *
    * (the λ=½ objective ×2 — same argmax, all e6 integers) — near-dup
    * results crowd each other out, so the k slots cover distinct
    * regions. The greedy loop is k−1 driver steps, but every table in
    * it is (queries × cand)-bounded: candidate–candidate sims are
    * cand² per query, computed ONCE up front, so selection touches no
    * vectors — at web scale the candidate stage is the IVF/LSH top-cand
    * and this exact rerank runs unchanged on its output.
    *
    * Ties break (score desc, vec_id asc) — exact integers, replayable.
    *
    * @return (qid, rank, vec_id, score_e6); rank 1 score = sim(q,d)
    */
  def mmrSelect(vectors: DataFrame, cand: Int, k: Int): DataFrame = {
    require(cand >= k && k >= 1)
    val v = vectors.select(col("vec_id"),
      asDouble(col("embedding")).as("v"))
    val n = v.select(col("vec_id"), col("v"),
      sqrt(aggregate(col("v"), lit(0.0), (acc, x) => acc + x * x)).as("nrm"))
    def sim(a: Column, b: Column, na: Column, nb: Column) =
      round(aggregate(zip_with(a, b, (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x) / (na * nb) * 1000000).cast("long")
    val q = n.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qn"))
    val cnd = q.crossJoin(n).filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"),
        sim(col("qv"), col("v"), col("qn"), col("nrm")).as("sim_e6"))
      .withColumn("rank", row_number().over(Window.partitionBy("qid")
        .orderBy(col("sim_e6").desc, col("vec_id").asc)))
      .filter(col("rank") <= cand).select("qid", "vec_id", "sim_e6")
      .transform(graft.engine.Materialize.eager)
    val half = cnd.select(col("qid"), col("vec_id").as("a"))
      .join(cnd.select(col("qid"), col("vec_id").as("b")), Seq("qid"))
      .filter(col("a") < col("b"))
      .join(n.select(col("vec_id").as("a"), col("v").as("va"),
        col("nrm").as("na")), Seq("a"))
      .join(n.select(col("vec_id").as("b"), col("v").as("vb"),
        col("nrm").as("nb")), Seq("b"))
      .select(col("qid"), col("a"), col("b"),
        sim(col("va"), col("vb"), col("na"), col("nb")).as("cs"))
    val cc = half.union(half.select(col("qid"), col("b").as("a"),
        col("a").as("b"), col("cs")))
      .transform(graft.engine.Materialize.eager)
    def argmax(scored: DataFrame, rank: Int) =
      scored.withColumn("rn", row_number().over(Window.partitionBy("qid")
          .orderBy(col("score_e6").desc, col("vec_id").asc)))
        .filter(col("rn") === 1)
        .select(col("qid"), lit(rank.toLong).as("rank"), col("vec_id"),
          col("score_e6"))
    val first = argmax(
      cnd.select(col("qid"), col("vec_id"), col("sim_e6").as("score_e6")),
      1).transform(graft.engine.Materialize.eager)
    // step t − 1 picks rank t
    val out = graft.engine.Superstep.fixed(first, k - 1,
        readsPrevOnce = false) { (selected, t1) =>
      val maxSel = cc.join(selected.select(col("qid"),
          col("vec_id").as("b")), Seq("qid", "b"))
        .groupBy(col("qid"), col("a").as("vec_id"))
        .agg(max(col("cs")).as("msel"))
      val scored = cnd
        .join(selected.select(col("qid"), col("vec_id"),
          lit(1L).as("sel")), Seq("qid", "vec_id"), "left")
        .filter(col("sel").isNull)
        .join(maxSel, Seq("qid", "vec_id"))
        .select(col("qid"), col("vec_id"),
          (col("sim_e6") - col("msel")).as("score_e6"))
      selected.union(argmax(scored, t1 + 1))
    }
    cnd.unpersist(blocking = false)
    cc.unpersist(blocking = false)
    out
  }
}
