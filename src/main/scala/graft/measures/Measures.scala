package graft.measures

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Community quality measures (SURVEY.md §2.6), re-expressed as
  * aggregations — the reference computes all of these with O(n²)-ish host
  * loops; every formula below is algebraically identical and one or two
  * shuffles.
  */
object Measures {

  /** Modularity, matching the reference's accounting exactly
    * (`getModularity`, `community_measures.cu:48-70`):
    *
    *   Q = (1/2m) Σ_{i≠j, label_i=label_j} (A_ij − k_i·k_j / 2m)
    *
    * with m = directed-edge-slots / 2 (`community_measures.cu:53`) and
    * k = out-degree over slots. The Σ over same-label ordered pairs
    * decomposes into:
    *   Σ A_ij          = same-label directed slots (self-loops excluded)
    *   Σ k_i·k_j (i≠j) = Σ_c [ (Σ_{i∈c} k_i)² − Σ_{i∈c} k_i² ]
    * — no O(n²) pass, just two grouped aggregates.
    *
    * @param edges  directed slots (symmetrized for undirected graphs)
    * @param labels (id, label), one row per vertex
    */
  def modularity(edges: DataFrame, labels: DataFrame): Double = {
    val m2 = edges.count().toDouble // 2m = slot count
    if (m2 == 0) return 0.0
    val srcLab = labels.select(col("id").as("src"), col("label").as("slab"))
    val dstLab = labels.select(col("id").as("dst"), col("label").as("dlab"))
    val eIn = edges.filter(col("src") =!= col("dst"))
      .join(srcLab, "src").join(dstLab, "dst")
      .filter(col("slab") === col("dlab"))
      .count().toDouble
    val deg = edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("k"))
    val perComm = labels.join(deg, Seq("id"), "left").na.fill(0L, Seq("k"))
      .groupBy("label")
      .agg(sum(col("k")).as("ks"), sum(col("k") * col("k")).as("ksq"))
      .agg(sum(col("ks") * col("ks") - col("ksq")))
      .first().getAs[Any](0) match {
        case null      => 0.0
        case l: Long   => l.toDouble
        case d: Double => d
        case b: java.math.BigDecimal => b.doubleValue()
      }
    (eIn - perComm / m2) / m2
  }

  /** WEIGHTED modularity — the natural generalization of [[modularity]]
    * for a weighted slot table (src, dst, weight):
    *
    *   Q_w = (1/2W) Σ_{i≠j, c_i=c_j} (w_ij − s_i·s_j / 2W)
    *
    * with 2W = total slot weight and s = per-vertex out-strength. The
    * reference parses Pajek edge costs (`Graph.cu:442-447`) but never
    * feeds them to its measures; `weight ≡ 1` reduces exactly to
    * [[modularity]] (asserted in tests). Same algebraic decomposition —
    * two grouped aggregates, no O(n²) pass.
    */
  def modularityWeighted(edges: DataFrame, labels: DataFrame): Double = {
    def asD(r: org.apache.spark.sql.Row): Double = r.getAs[Any](0) match {
      case null      => 0.0
      case l: Long   => l.toDouble
      case d: Double => d
      case b: java.math.BigDecimal => b.doubleValue()
    }
    val w2 = asD(edges.agg(sum(col("weight"))).first())
    if (w2 == 0) return 0.0
    val srcLab = labels.select(col("id").as("src"), col("label").as("slab"))
    val dstLab = labels.select(col("id").as("dst"), col("label").as("dlab"))
    val ein = asD(edges.filter(col("src") =!= col("dst"))
      .join(srcLab, "src").join(dstLab, "dst")
      .filter(col("slab") === col("dlab"))
      .agg(sum(col("weight"))).first())
    val strength = edges.groupBy(col("src").as("id"))
      .agg(sum(col("weight")).as("s"))
    val perComm = asD(labels.join(strength, Seq("id"), "left")
      .na.fill(0L, Seq("s"))
      .groupBy("label")
      .agg(sum(col("s")).as("ss"), sum(col("s") * col("s")).as("ssq"))
      .agg(sum(col("ss") * col("ss") - col("ssq"))).first())
    (ein - perComm / w2) / w2
  }

  /** The reference's summary row, byte-compatible with `printCommunities`
    * (`tests.h:76-82`): `Nodes\tEdges\tCom\tMod\tNMI\tTime` — tab-separated,
    * NMI = -1 when no ground-truth labels were supplied, so this engine's
    * CLI output lines up side-by-side with the reference's `.tst` files.
    * The reference prints float via default `cout` formatting (up to 6
    * significant digits); matched with %.6g.
    */
  def referenceRow(nodes: Long, edges: Long, communities: Long,
                   modularity: Double, nmi: Double, timeSec: Double): String = {
    def g6(d: Double) = {
      val s = "%.6g".format(d)
      // trim trailing zeros like cout does (0.277038 not 0.277038000)
      if (s.contains('.') && !s.contains('e'))
        s.reverse.dropWhile(_ == '0').stripPrefix(".").reverse
      else s
    }
    s"$nodes\t$edges\t$communities\t${g6(modularity)}\t${g6(nmi)}\t${g6(timeSec)}"
  }

  /** Distinct-label count (`countCommunities`,
    * `community_measures.cu:75-78`) — exact, used for stopping rules.
    */
  def communityCount(labels: DataFrame): Long =
    labels.select("label").distinct().count()

  /** Confusion matrix N_ij = #vertices with true label i and predicted
    * label j (`compareCommunities`, `community_measures.cu:100-116`).
    */
  def confusionMatrix(trueLabels: DataFrame, predLabels: DataFrame): DataFrame =
    trueLabels.select(col("id"), col("label").as("trueLabel"))
      .join(predLabels.select(col("id"), col("label").as("predLabel")), "id")
      .groupBy("trueLabel", "predLabel").agg(count(lit(1)).as("n"))

  /** Normalized mutual information between two labelings (`getNMI`,
    * `community_measures.cu:143-234`):
    *
    *   NMI = −2 ΣΣ N_ij·log(N_ij·n / (N_i·N_j))
    *         / ( Σ N_i·log(N_i/n) + Σ N_j·log(N_j/n) )
    *
    * The reference uses log10 (`community_measures.cu:200,212,222`); the
    * ratio is base-invariant, natural log here. Marginals and the double
    * sum are grouped aggregates; only scalars reach the driver.
    */
  def nmi(trueLabels: DataFrame, predLabels: DataFrame): Double = {
    val cm = confusionMatrix(trueLabels, predLabels).persist()
    try {
      val n = cm.agg(sum("n")).first().getLong(0).toDouble
      if (n == 0) return 0.0
      val rowM = cm.groupBy("trueLabel").agg(sum("n").as("ni"))
      val colM = cm.groupBy("predLabel").agg(sum("n").as("nj"))
      val num = cm.join(rowM, "trueLabel").join(colM, "predLabel")
        .select((col("n") * log(col("n") * n / (col("ni") * col("nj")))).as("t"))
        .agg(sum("t")).first().getDouble(0)
      val denRow = rowM.select((col("ni") * log(col("ni") / n)).as("t"))
        .agg(sum("t")).first().getDouble(0)
      val denCol = colM.select((col("nj") * log(col("nj") / n)).as("t"))
        .agg(sum("t")).first().getDouble(0)
      val den = denRow + denCol
      if (den == 0.0) 1.0 else -2.0 * num / den
    } finally cm.unpersist()
  }

  /** Degree assortativity (Newman): Pearson correlation of endpoint
    * degrees over the directed edge slots — do high-degree pages link to
    * other hubs (r > 0, social-network-like) or to leaves (r < 0,
    * web-like)?
    *
    * Computed from EXACT integer sums (degrees and their products are
    * longs; the demo id space bounds every sum far below 2^63) with one
    * double division at the end, so the driver-gate oracle reproduces the
    * value bit-for-bit. One degree aggregation, two broadcast-able joins,
    * one scalar aggregate — no per-vertex state survives the query.
    */
  def degreeAssortativity(edges: DataFrame): Double = {
    val deg = graft.graph.GraphOps.degrees(edges)
    val j = edges
      .join(deg.select(col("id").as("src"), col("degree").as("x")), "src")
      .join(deg.select(col("id").as("dst"), col("degree").as("y")), "dst")
    val r = j.agg(count(lit(1)).as("m"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy")).first()
    val m = r.getLong(0)
    val (sx, sy, sxy, sxx, syy) =
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
    val dx = m * sxx - sx * sx
    val dy = m * syy - sy * sy
    if (dx == 0L || dy == 0L) 0.0
    else (m * sxy - sx * sy) / math.sqrt(dx.toDouble * dy.toDouble)
  }

  /** Strength (weighted-degree) assortativity over a symmetric weighted
    * slot table: Pearson correlation of endpoint STRENGTHS across slots —
    * do heavy hosts link to heavy hosts? The weighted completion of
    * [[degreeAssortativity]], returned as a gate-friendly row of exact
    * integer moments plus the one e6-rounded correlate (sqrt+divide is a
    * single engine-identical expression). Int64 envelope: m·Σx² with
    * x = per-vertex strength — document per deployment; at host-graph
    * scales (strength < 10⁶, slots < 10⁹) products stay < 10²¹? No:
    * m·sxx ≤ 10⁹·10⁹·10¹² exceeds int64 — THIS operator is for the
    * contracted host graph (hosts ≤ 10⁷, strength ≤ 10⁵), where
    * m·sxx ≤ 10⁷·10⁷·10¹⁰ / … stays in range; on bigger graphs bucket
    * strengths first (the joint-degree pattern).
    *
    * @return (m, sx, sy, sxy, sxx, syy, r_e6)
    */
  def strengthAssortativity(wEdges: DataFrame): DataFrame = {
    val st = wEdges.groupBy(col("src").as("id"))
      .agg(sum(col("weight")).as("s"))
    val j = wEdges
      .join(st.select(col("id").as("src"), col("s").as("x")), "src")
      .join(st.select(col("id").as("dst"), col("s").as("y")), "dst")
    j.agg(count(lit(1)).as("m"),
        sum(col("x")).cast("long").as("sx"),
        sum(col("y")).cast("long").as("sy"),
        sum(col("x") * col("y")).cast("long").as("sxy"),
        sum(col("x") * col("x")).cast("long").as("sxx"),
        sum(col("y") * col("y")).cast("long").as("syy"))
      .select(col("m"), col("sx"), col("sy"), col("sxy"), col("sxx"),
        col("syy"),
        when((col("m") * col("sxx") - col("sx") * col("sx")) === 0
          || (col("m") * col("syy") - col("sy") * col("sy")) === 0, lit(0L))
          .otherwise(round(
            (col("m") * col("sxy") - col("sx") * col("sy")).cast("double")
              * 1000000
              / sqrt((col("m") * col("sxx") - col("sx") * col("sx"))
                .cast("double")
                * (col("m") * col("syy") - col("sy") * col("sy"))
                  .cast("double"))).cast("long")).as("r_e6"))
  }

  /** Community-size histogram: how many communities have each member
    * count — the labeling-distribution summary next to the degree
    * histogram. Two partial-aggregated groupBys; output is one row per
    * DISTINCT size, so it stays tiny at any scale.
    */
  def communitySizeHistogram(labels: DataFrame): DataFrame =
    labels.groupBy(col("label")).agg(count(lit(1)).as("size"))
      .groupBy(col("size")).agg(count(lit(1)).as("n_communities"))

  /** Directed-edge reciprocity: the fraction of (deduplicated, loop-free)
    * directed edges whose reverse edge also exists — the classic
    * crawled-web statistic separating mutual-link neighborhoods from
    * citation-style linking. One self-equi-join on the reversed key pair
    * and two scalar counts, all partial-aggregated; exact integers until
    * the final division.
    *
    * @return one row (mutual, total, reciprocity)
    */
  def reciprocity(directed: DataFrame): DataFrame = {
    val d = graft.graph.GraphOps.dropSelfLoops(
      directed.select(col("src"), col("dst"))).distinct()
    val rev = d.select(col("dst").as("rs"), col("src").as("rd"))
    val stats = d.join(rev, col("src") === col("rs") && col("dst") === col("rd"),
        "left_semi")
      .agg(count(lit(1)).as("mutual"))
      .crossJoin(d.agg(count(lit(1)).as("total")))
    stats.select(col("mutual"), col("total"),
      when(col("total") === 0, lit(0.0))
        .otherwise(col("mutual").cast("double") / col("total"))
        .as("reciprocity"))
  }

  /** Per-community conductance over the symmetrized edge slots:
    *
    *   φ(S) = cut(S) / min(vol(S), 2m − vol(S))
    *
    * with cut(S) = slots leaving S and vol(S) = slots whose source is in
    * S — the community-quality measure complementing modularity (low
    * conductance = few escaping links relative to the smaller side).
    * One labels join per endpoint (the same gather shape as a superstep)
    * and a per-label aggregation; the 2m scalar rides along via a 1-row
    * crossJoin, so the whole measure is a single job with no driver math.
    *
    * @param labels (id, label) — must cover every vertex incident to an
    *        edge (slots whose endpoint has no label row are dropped by
    *        the inner gather joins)
    * @return (label, cut, vol, conductance) — one row per community with
    *         at least one incident slot
    */
  def conductance(edges: DataFrame, labels: DataFrame): DataFrame = {
    val ls = labels.select(col("id").as("src"), col("label").as("ls"))
    val ld = labels.select(col("id").as("dst"), col("label").as("ld"))
    val tagged = edges.join(ls, "src").join(ld, "dst")
    val perLabel = tagged.groupBy(col("ls").as("label"))
      .agg(sum(when(col("ls") =!= col("ld"), 1L).otherwise(0L)).cast("long")
          .as("cut"),
        count(lit(1)).as("vol"))
    val m2 = edges.agg(count(lit(1)).as("m2"))
    perLabel.crossJoin(m2)
      .select(col("label"), col("cut"), col("vol"),
        when(least(col("vol"), col("m2") - col("vol")) === 0, lit(0.0))
          .otherwise(col("cut").cast("double") /
            least(col("vol"), col("m2") - col("vol")))
          .as("conductance"))
  }

  /** Average neighbor degree per vertex (Pastor-Satorras et al.'s annd —
    * the pointwise form of the degree-correlation function knn(k)):
    *
    *   annd(v) = ( Σ_{u ∈ N(v)} deg(u) ) / deg(v)
    *
    * over the symmetrized slot table. Both the numerator and the
    * denominator are exact integer sums (one degree join + one
    * partial-aggregated groupBy — the LP gather shape), so the single
    * final division is the only floating point and the result is
    * bit-replayable. Returns (id, deg, sum_nbr_deg, annd).
    */
  def avgNeighborDegree(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val deg = e.groupBy(col("src").as("did")).agg(count(lit(1)).as("d"))
    e.join(deg, e("dst") === col("did"))
      .groupBy(col("src").as("id"))
      .agg(count(lit(1)).cast("long").as("deg"),
        sum(col("d")).cast("long").as("sum_nbr_deg"))
      .select(col("id"), col("deg"), col("sum_nbr_deg"),
        (col("sum_nbr_deg").cast("double") / col("deg")).as("annd"))
  }

  /** Dyad census (Holland–Leinhardt's M/A/N triple) over a DIRECTED,
    * self-loop-free, deduplicated edge table: every unordered vertex
    * pair is mutual (both arcs), asymmetric (exactly one), or null
    * (none) —
    *
    *   mutual + asym + nulls = C(n, 2)
    *
    * the 2-node precursor of the triad census and the page-level
    * companion of [[reciprocity]] (reciprocity = 2·mutual / arcs). Web
    * graphs are heavily asymmetric; a rising mutual share inside a host
    * is the link-exchange / spam-ring smell.
    *
    * Plan: one canonical-pair hash agg (count arcs per unordered pair)
    * + two 1-row aggregates; nulls come from the closed form, never by
    * materializing non-edges. Exact integers throughout.
    *
    * @return one row (n_vertices, mutual, asym, nulls)
    */
  def dyadCensus(directed: DataFrame): DataFrame = {
    val pairs = directed
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("arcs"))
    val n = graft.graph.GraphOps.vertices(directed)
      .agg(count(lit(1)).cast("long").as("n_vertices"))
    pairs.agg(
        sum(when(col("arcs") === 2, 1L).otherwise(0L)).as("mutual"),
        sum(when(col("arcs") === 1, 1L).otherwise(0L)).as("asym"))
      .crossJoin(n)
      .select(col("n_vertices"),
        col("mutual").cast("long").as("mutual"),
        col("asym").cast("long").as("asym"),
        (col("n_vertices") * (col("n_vertices") - 1) / 2
          - col("mutual") - col("asym")).cast("long").as("nulls"))
  }

  /** Collective influence at radius 1 (Morone–Makse, Nature 2015):
    *
    *   CI₁(v) = (deg(v) − 1) · Σ_{u ∈ N(v)} (deg(u) − 1)
    *
    * — the optimal-percolation influence score: greedily removing the
    * top-CI vertices dismantles the giant component with far fewer
    * removals than degree or PageRank ordering, which is exactly the
    * crawl-hardening / spam-takedown question on a link graph ("which
    * few hosts, removed, fragment the spam cluster?"). Leaves
    * (deg = 1) score 0 by the (k−1) factor, matching the paper.
    *
    * Scale shape: identical to [[avgNeighborDegree]] — one vertex-sized
    * degree table joined onto the slot table's dst side, one
    * partial-aggregated groupBy(src). Exact integer arithmetic
    * throughout (no floats to round). Returns (id, degree, ci).
    */
  def collectiveInfluence(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val deg = e.groupBy(col("src").as("did")).agg(count(lit(1)).as("d"))
    e.join(deg, e("dst") === col("did"))
      .groupBy(col("src").as("id"))
      .agg(count(lit(1)).cast("long").as("degree"),
        sum(col("d") - 1).cast("long").as("nbrExcess"))
      .select(col("id"), col("degree"),
        ((col("degree") - 1) * col("nbrExcess")).as("ci"))
  }

  /** Joint degree distribution (degree-mixing matrix, Newman 2002): the
    * slot count of every (k_src, k_dst) degree pair over the symmetrized
    * slot table — the full 2-D structure that [[degreeAssortativity]]
    * collapses to one number. Web graphs read it for disassortative
    * wings (hubs wired to leaves = navigational boilerplate) and for the
    * hub–hub corner [[richClub]] summarizes.
    *
    * Scale shape: one vertex-sized degree table joined onto both slot
    * endpoints (the identical two-join gather ANND runs), then a hash
    * aggregation whose key space is ≤ d_max² — the OUTPUT is
    * histogram-sized no matter how many edges flow through, and the agg
    * is map-side-combined down to that histogram before the shuffle.
    *
    * @return (k_src, k_dst, n_slots)
    */
  def jointDegreeDistribution(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val deg = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("k"))
    e.join(deg.select(col("id").as("src"), col("k").as("k_src")), "src")
      .join(deg.select(col("id").as("dst"), col("k").as("k_dst")), "dst")
      .groupBy("k_src", "k_dst")
      .agg(count(lit(1)).as("n_slots"))
  }

  /** Rich-club coefficient φ(k) for k = 1..maxK (Zhou–Mondragón; the
    * standard "do the hubs link to each other?" diagnostic on web
    * graphs):
    *
    *   φ(k) = E_{>k} / ( N_{>k} · (N_{>k} − 1) )
    *
    * where N_{>k} counts vertices of degree > k and E_{>k} counts the
    * directed SLOTS between them (the symmetrized slot table carries both
    * directions, so the usual 2·E numerator is already built in).
    *
    * Scale shape: the per-slot work is two degree joins; everything after
    * that runs on HISTOGRAMS (≤ d_max rows) — the k-range join is a
    * constant-×-d_max theta join, never a per-vertex or per-edge one, so
    * adding more k levels costs nothing at any graph size. Returns
    * (k, n_k, e_k, phi_e6) for every k with N_{>k} ≥ 2; φ scaled to e6
    * with the division done once per output row.
    */
  def richClub(edges: DataFrame, maxK: Int = 16): DataFrame = {
    val spark = edges.sparkSession
    val e = edges.select(col("src"), col("dst"))
    val deg = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("d"))
    // per-slot min endpoint degree: a slot survives threshold k iff BOTH
    // endpoints have degree > k, i.e. iff min(d_src, d_dst) > k
    val slotMin = e
      .join(deg.select(col("id").as("sid"), col("d").as("sd")), e("src") === col("sid"))
      .join(deg.select(col("id").as("did"), col("d").as("dd")), e("dst") === col("did"))
      .select(least(col("sd"), col("dd")).as("mind"))
    val degHist = deg.groupBy(col("d")).agg(count(lit(1)).as("nodes"))
    val minHist = slotMin.groupBy(col("mind")).agg(count(lit(1)).as("slots"))
    val ks = spark.range(1, maxK + 1L).select(col("id").as("k"))
    val nk = ks.join(degHist, col("d") > col("k"))
      .groupBy("k").agg(sum(col("nodes")).cast("long").as("n_k"))
    val ek = ks.join(minHist, col("mind") > col("k"))
      .groupBy("k").agg(sum(col("slots")).cast("long").as("e_k"))
    nk.join(ek, Seq("k"), "left")
      .select(col("k"), col("n_k"),
        coalesce(col("e_k"), lit(0L)).as("e_k"))
      .filter(col("n_k") >= 2)
      .select(col("k"), col("n_k"), col("e_k"),
        round(col("e_k") * lit(1000000.0) / (col("n_k") * (col("n_k") - 1)))
          .cast("long").as("phi_e6"))
  }

  /** Pair-counting agreement between two labelings as EXACT integers —
    * the inputs to the Adjusted Rand Index. From the confusion matrix
    * N_ij with row sums a_i, column sums b_j and total n:
    *
    *   index    = Σ_ij C(N_ij, 2)   (pairs both partitions co-cluster)
    *   rowPairs = Σ_i  C(a_i, 2)
    *   colPairs = Σ_j  C(b_j, 2)
    *   allPairs = C(n, 2)
    *
    * Everything is a grouped aggregate over the confusion matrix (whose
    * size is #true-labels × #pred-labels, never #vertices), so the plan
    * is the same two-shuffle shape as [[nmi]]. Returned as one 1-row
    * DataFrame so driver gates can hash the exact integers; pair counts
    * stay within Long up to n ≈ 4×10⁹ vertices.
    */
  def pairCounts(trueLabels: DataFrame, predLabels: DataFrame): DataFrame = {
    val cm = confusionMatrix(trueLabels, predLabels)
    val comb = (x: org.apache.spark.sql.Column) => (x * (x - 1) / 2).cast("long")
    val cells = cm.agg(sum(comb(col("n"))).cast("long").as("index"),
      sum(col("n")).cast("long").as("n_total"))
    val rows = cm.groupBy("trueLabel").agg(sum("n").as("a"))
      .agg(sum(comb(col("a"))).cast("long").as("row_pairs"))
    val cols = cm.groupBy("predLabel").agg(sum("n").as("b"))
      .agg(sum(comb(col("b"))).cast("long").as("col_pairs"))
    cells.crossJoin(rows).crossJoin(cols) // three 1-row scalars
      .select(col("index"), col("row_pairs"), col("col_pairs"),
        comb(col("n_total")).as("all_pairs"), col("n_total"))
  }

  /** Adjusted Rand Index between two labelings (Hubert–Arabie):
    *
    *   ARI = (index − rowPairs·colPairs/allPairs)
    *         / ((rowPairs+colPairs)/2 − rowPairs·colPairs/allPairs)
    *
    * Cleared of denominators, both numerator and denominator are exact
    * integer expressions of [[pairCounts]], so the one double division at
    * the end is bit-reproducible cross-engine (the [[degreeAssortativity]]
    * precedent). Identical partitions → 1; expected value under random
    * agreement → 0. The integer products stay within Long for the gate's
    * bounded id space; at 100 TB vertex counts promote them to Decimal.
    */
  def adjustedRandIndex(trueLabels: DataFrame, predLabels: DataFrame): Double = {
    val r = pairCounts(trueLabels, predLabels).first()
    val (idx, rp, cp, ap) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    if (ap == 0L) return 1.0
    val num = ap * idx - rp * cp
    val den = ap * (rp + cp) / 2 - rp * cp
    if (den == 0L) 1.0 else num.toDouble / den.toDouble
  }

  /** Cluster purity: Σ_j max_i N_ij / n — the fraction of vertices whose
    * predicted cluster's majority true label matches theirs. Returned as
    * the exact integer numerator plus n (callers divide); one grouped max
    * over the confusion matrix.
    */
  def purityCounts(trueLabels: DataFrame, predLabels: DataFrame): DataFrame = {
    val cm = confusionMatrix(trueLabels, predLabels)
    cm.groupBy("predLabel").agg(max("n").as("mx"))
      .agg(sum(col("mx")).cast("long").as("purity_num"))
      .crossJoin(cm.agg(sum(col("n")).cast("long").as("n_total")))
  }

  /** Newman's discrete attribute assortativity over the symmetric slot
    * table: with T total slots, `intra` same-attribute slots, and
    * S = Σᵢ aᵢ² (aᵢ = slots whose source carries attribute i — by
    * symmetry the row and column marginals of the mixing matrix agree),
    * r = (T·intra − S)/(T² − S). Positive r = homophily (pages link to
    * same-attribute pages), negative = anti-assortative linking. All
    * sums exact integers; the one divide is the only float; a single-
    * attribute graph (zero denominator) returns the conventional r = 1.
    * Integer envelope: T² must fit a long (T < 3·10⁹ slots — beyond
    * that, lift the two products to double first).
    */
  def labelAssortativity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val l = labels.select(col("id"), col("label"))
    val lab = edges
      .join(l.select(col("id").as("src"), col("label").as("la")), "src")
      .join(l.select(col("id").as("dst"), col("label").as("lb")), "dst")
      .select(col("la"), col("lb"))
    val tt = lab.agg(count(lit(1)).as("t"),
      sum(when(col("la") === col("lb"), 1L).otherwise(0L))
        .cast("long").as("intra"))
    val aa = lab.groupBy("la").agg(count(lit(1)).as("a"))
      .agg(sum(col("a") * col("a")).cast("long").as("s"))
    val num = col("t") * col("intra") - col("s")
    val den = col("t") * col("t") - col("s")
    tt.crossJoin(aa).select(
      col("t").as("n_slots"), col("intra").as("intra_slots"),
      col("s").as("sum_a2"),
      when(den === 0, lit(1000000L)).otherwise(
        round(num.cast("double") * 1000000 / den.cast("double"))
          .cast("long")).as("r_e6"))
  }

  /** Degree moments + the Molloy–Reed heterogeneity ratio κ = ⟨d²⟩/⟨d⟩ =
    * Σd²/Σd: κ > 2 is the giant-component / epidemic-threshold criterion,
    * and κ's divergence with graph size is THE signature of a power-law
    * web graph (it is what makes hub-targeted failures catastrophic and
    * random failures harmless). One degree aggregation + one moment
    * aggregation, all sums exact integers; the single κ division is the
    * only float. Returns one row (n_vertices, n_slots, sum_d2, sum_d3,
    * kappa_e6).
    */
  def degreeMoments(edges: DataFrame): DataFrame = {
    val deg = edges.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("d"))
    deg.agg(count(lit(1)).as("n_vertices"),
        sum(col("d")).cast("long").as("n_slots"),
        sum(col("d") * col("d")).cast("long").as("sum_d2"),
        sum(col("d") * col("d") * col("d")).cast("long").as("sum_d3"))
      .select(col("n_vertices"), col("n_slots"), col("sum_d2"), col("sum_d3"),
        round(col("sum_d2").cast("double") * 1000000 / col("n_slots"))
          .cast("long").as("kappa_e6"))
  }

  /** One-row graph DESCRIBE panel — the first query an operator runs on a
    * fresh crawl snapshot before anything iterative: vertex/slot counts,
    * degree extrema/mean, and density. Input is the symmetrized slot
    * table, so `n_slots` = 2·|undirected edges| and density is
    * slots/(n·(n−1)) (= the undirected density, since both the numerator
    * and the denominator count ordered pairs). One degree aggregation +
    * one 1-row fold; integer-exact except the two ×1e6-rounded ratios.
    * At 100 TB this is a single scan + tiny hash agg — no vertex-sized
    * state beyond the degree table every other operator already builds.
    */
  def graphSummary(edges: DataFrame): DataFrame = {
    val deg = edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("d"))
    deg.agg(count(lit(1)).as("n_vertices"),
        sum(col("d")).cast("long").as("n_slots"),
        min(col("d")).cast("long").as("min_deg"),
        max(col("d")).cast("long").as("max_deg"))
      .select(col("n_vertices"), col("n_slots"), col("min_deg"),
        col("max_deg"),
        round(col("n_slots").cast("double") * 1000000 / col("n_vertices"))
          .cast("long").as("avg_deg_e6"),
        round(col("n_slots").cast("double") * 1000000
          / (col("n_vertices") * (col("n_vertices") - 1)))
          .cast("long").as("density_e6"))
  }

  /** Gini coefficient of the degree distribution — the inequality summary
    * of a web graph's hub concentration (0 = regular graph, →1 = a few
    * hubs own all links). Computed from the DEGREE HISTOGRAM, never a
    * vertex-sorted rank window: G = Σ_{a,b} c_a·c_b·|a−b| / (2·n·Σd) over
    * histogram cells, so the pair enumeration is bounded by (distinct
    * degree values)² — thousands of cells even on a 10¹⁰-vertex graph —
    * while a rank-based Gini would need a global sort. All sums exact
    * integers until the final ×1e6-rounded divide. Integer envelope:
    * mad_num ≤ n²·maxdeg, overflow-free up to ~10⁹ vertices at web
    * degree scales; past that lift c_a·c_b to double (documented, same
    * caveat family as labelAssortativity). Returns one row
    * (n_vertices, sum_deg, mad_num, gini_e6).
    */
  def degreeGini(edges: DataFrame): DataFrame = {
    val deg = edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("d"))
    val hist = deg.groupBy(col("d")).agg(count(lit(1)).as("c"))
    val a = hist.select(col("d").as("da"), col("c").as("ca"))
    val b = hist.select(col("d").as("db"), col("c").as("cb"))
    val mad = a.crossJoin(b)
      .agg(sum(col("ca") * col("cb") * abs(col("da") - col("db")))
        .cast("long").as("mad_num"))
    val tot = deg.agg(count(lit(1)).as("n_vertices"),
      sum(col("d")).cast("long").as("sum_deg"))
    tot.crossJoin(mad).select(col("n_vertices"), col("sum_deg"),
      col("mad_num"),
      round(col("mad_num").cast("double") * 1000000
        / (col("n_vertices").cast("double") * 2.0 * col("sum_deg")))
        .cast("long").as("gini_e6"))
  }

  /** Weighted per-community conductance over a symmetric weighted slot
    * table (src, dst, weight): cut = total weight leaving the community,
    * vol = total incident weight — the host-graph edition of
    * [[conductance]], where a community leaking 10⁵ syndicated links is
    * worse than one leaking 10⁵ singletons. Integer weights keep cut/vol
    * exact; the ratio is one e6-rounded divide (engine-identical
    * expression). Returns (label, cut_w, vol_w, conductance_e6).
    */
  def conductanceWeighted(wEdges: DataFrame, labels: DataFrame): DataFrame = {
    val ls = labels.select(col("id").as("src"), col("label").as("ls"))
    val ld = labels.select(col("id").as("dst"), col("label").as("ld"))
    val tagged = wEdges.join(ls, "src").join(ld, "dst")
    val perLabel = tagged.groupBy(col("ls").as("label"))
      .agg(sum(when(col("ls") =!= col("ld"), col("weight")).otherwise(0L))
          .cast("long").as("cut_w"),
        sum(col("weight")).cast("long").as("vol_w"))
    val w2 = wEdges.agg(sum(col("weight")).cast("long").as("w2"))
    perLabel.crossJoin(w2)
      .select(col("label"), col("cut_w"), col("vol_w"),
        when(least(col("vol_w"), col("w2") - col("vol_w")) === 0, lit(0L))
          .otherwise(round(col("cut_w").cast("double") * 1000000 /
            least(col("vol_w"), col("w2") - col("vol_w"))).cast("long"))
          .as("conductance_e6"))
  }

  /** Degree percentile panel (p50/p90/p99/p999/max) from the DEGREE
    * HISTOGRAM — the operational skew readout behind the auto-derived
    * broadcast threshold ([[graft.graph.GraphOps]] skew plans): the gap
    * between p999 and max IS the hub story a partitioning plan must
    * survive. Exact order statistics: value at position k = min degree
    * whose cumulative count ≥ k, positions from the ceil convention
    * k_q = ⌈n·q⌉; the cumulative window runs over the bounded histogram
    * (dist-hist precedent), everything else is 1-row folds.
    * Returns (n_vertices, p50, p90, p99, p999, max_deg).
    */
  def degreePercentiles(edges: DataFrame): DataFrame = {
    val deg = edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("d"))
    val hist = deg.groupBy(col("d")).agg(count(lit(1)).as("c"))
    val cum = hist.withColumn("cum", sum(col("c")).over(
      org.apache.spark.sql.expressions.Window.orderBy(col("d").asc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
    val tot = deg.agg(count(lit(1)).as("n_vertices"),
      max(col("d")).cast("long").as("max_deg"))
    cum.crossJoin(tot)
      .agg(min(when(col("cum") * 2 >= col("n_vertices"), col("d")))
          .as("p50"),
        min(when(col("cum") * 10 >= col("n_vertices") * 9, col("d")))
          .as("p90"),
        min(when(col("cum") * 100 >= col("n_vertices") * 99, col("d")))
          .as("p99"),
        min(when(col("cum") * 1000 >= col("n_vertices") * 999, col("d")))
          .as("p999"))
      .crossJoin(tot)
      .select(col("n_vertices"), col("p50").cast("long").as("p50"),
        col("p90").cast("long").as("p90"),
        col("p99").cast("long").as("p99"),
        col("p999").cast("long").as("p999"), col("max_deg"))
  }

  /** L1 drift between two snapshots' DEGREE HISTOGRAMS — the
    * distribution-level companion of [[graft.graph.GraphOps
    * .snapshotDrift]]'s set overlaps: edge sets can move a lot while the
    * degree shape stays put (healthy re-crawl) or barely move while the
    * shape lurches (link-farm injection at one degree scale). Everything
    * runs on the two histograms (≤ max-degree rows each, full-outer
    * joined), so the comparison costs nothing beyond the degree tables
    * every snapshot already builds. Returns one row
    * (n_old, n_new, l1_diff, drift_e6 = Σ|Δ|·1e6/(n_old+n_new)).
    */
  def degreeHistDrift(oldEdges: DataFrame, newEdges: DataFrame): DataFrame = {
    def hist(e: DataFrame, cname: String) =
      e.groupBy(col("src").as("id")).agg(count(lit(1)).as("d"))
        .groupBy(col("d")).agg(count(lit(1)).as(cname))
    hist(oldEdges, "c1").join(hist(newEdges, "c2"), Seq("d"), "full_outer")
      .select(coalesce(col("c1"), lit(0L)).as("c1"),
        coalesce(col("c2"), lit(0L)).as("c2"))
      .agg(sum(col("c1")).cast("long").as("n_old"),
        sum(col("c2")).cast("long").as("n_new"),
        sum(abs(col("c1") - col("c2"))).cast("long").as("l1_diff"))
      .select(col("n_old"), col("n_new"), col("l1_diff"),
        round(col("l1_diff").cast("double") * 1000000
          / (col("n_old") + col("n_new"))).cast("long").as("drift_e6"))
  }

  /** Circuit rank (cyclomatic number) of the undirected graph:
    * m − n + c, the number of independent cycles — 0 is a forest, and the
    * growth of the rank across crawl snapshots is the redundancy/meshiness
    * trend a link-graph health dashboard tracks next to [[graphSummary]].
    * Takes the component labeling as input (any CC output) so the CC pass
    * is shared with every other consumer instead of re-run; two 1-row
    * folds over tables the CC already produced — nothing new at 100 TB.
    * Returns (n_vertices, n_edges, n_components, circuit_rank).
    */
  def circuitRank(edges: DataFrame, ccLabels: DataFrame): DataFrame = {
    val em = edges.filter(col("src") < col("dst"))
      .select(col("src"), col("dst")).distinct()
      .agg(count(lit(1)).as("n_edges"))
    val vc = ccLabels.agg(count(lit(1)).as("n_vertices"),
      countDistinct(col("label")).as("n_components"))
    vc.crossJoin(em).select(col("n_vertices"), col("n_edges"),
      col("n_components"),
      (col("n_edges") - col("n_vertices") + col("n_components"))
        .cast("long").as("circuit_rank"))
  }

  /** Distributed dense rank of an integer score table (id, score) by
    * (score desc, id asc) — rank 1 is the best score. Same sort-based
    * zipWithIndex shape as [[graft.graph.GraphOps.dictionaryEncodeScalable]]
    * (range-partitioned sort + per-partition offsets), so there is no
    * single-partition window even at 10⁹ vertices; the RDD hop is the
    * documented exception (Catalyst has no distributed dense-rank without
    * a global window).
    */
  def rankByScore(scored: DataFrame): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    val sorted = scored
      .select(col("id").cast("long"), col("score").cast("long"))
      .orderBy(col("score").desc, col("id").asc)
    val indexed = sorted.as[(Long, Long)].rdd.zipWithIndex()
      .map { case ((id, _), i) => (id, i + 1L) }
    spark.createDataFrame(indexed).toDF("id", "rnk")
  }

  /** Spearman rank correlation between two integer score tables over the
    * same ids — the "is in-degree a good PageRank proxy?" diagnostic run
    * before replacing an expensive centrality with a cheap one at crawl
    * scale. Both tables are ranked by the pinned total order
    * (score desc, id asc), so ties are deterministic and the statistic
    * replays bit-for-bit on any engine:
    *
    *   ρ = 1 − 6·Σd² / (n³ − n),   d = rank_a − rank_b
    *
    * Σd² is an exact integer (int64-exact to n < 2²¹ ≈ 2M vertices; past
    * that rank on a sampled or top-k id set, or lift the sum to decimal —
    * same envelope note as labelAssortativity); the one float division is
    * the final ρ. Returns one row (n, sum_d2, rho).
    */
  def spearman(a: DataFrame, b: DataFrame): DataFrame = {
    val ra = rankByScore(a)
    val rb = rankByScore(b).withColumnRenamed("rnk", "rnk_b")
    ra.join(rb, "id")
      .agg(count(lit(1)).cast("long").as("n"),
        sum(expr("(rnk - rnk_b) * (rnk - rnk_b)")).cast("long").as("sum_d2"))
      .select(col("n"), col("sum_d2"),
        (lit(1.0) - lit(6.0) * col("sum_d2") /
          (col("n").cast("double") * col("n") * col("n") - col("n")))
          .as("rho"))
  }

  /** Directed degree-balance profile: page counts, dangling pages (no
    * outlinks), orphan pages (no inlinks), and the in/out-degree Pearson
    * correlation — the crawl-health row operators read before ranking
    * (dangling mass decides the PageRank refold cost; a negative in/out
    * correlation flags link farms that only emit). All sums exact
    * integers over a vertex-sized profile table; one sqrt + divide at
    * the end. Integer envelope: n·Σd² < 2⁶³ like labelAssortativity.
    */
  def inOutProfile(directed: DataFrame): DataFrame = {
    val outd = directed.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("od"))
    val ind = directed.groupBy(col("dst").as("id"))
      .agg(count(lit(1)).as("indeg"))
    val verts = directed.select(col("src").as("id"))
      .union(directed.select(col("dst").as("id"))).distinct()
    val prof = verts
      .join(outd, Seq("id"), "left")
      .join(ind, Seq("id"), "left")
      .select(coalesce(col("od"), lit(0L)).as("x"),
        coalesce(col("indeg"), lit(0L)).as("y"))
    prof.agg(count(lit(1)).as("n"),
        sum(when(col("x") === 0, 1L).otherwise(0L)).as("nd"),
        sum(when(col("y") === 0, 1L).otherwise(0L)).as("no"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("n").cast("long").as("n_pages"),
        col("nd").cast("long").as("n_dangling"),
        col("no").cast("long").as("n_orphan"),
        round(col("nd") * lit(1000000.0) / col("n")).cast("long")
          .as("dangling_e6"),
        round((col("n") * col("sxy") - col("sx") * col("sy"))
            * lit(1000000.0)
          / sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
              .cast("double")
            * (col("n") * col("syy") - col("sy") * col("sy"))
              .cast("double")))
          .cast("long").as("inout_r_e6"))
  }

  /** Average best-match F1 between a predicted and a reference
    * clustering (the community-recovery score LP/Louvain papers report
    * next to NMI): every predicted community is matched to the reference
    * community maximizing F1 = 2·|p∩g| / (|p|+|g|) and vice versa; the
    * score is the mean of the two directions' size-unweighted averages.
    *
    * One confusion-matrix hash agg; sizes from its marginals; the argmax
    * windows partition BY COMMUNITY (label-table-sized, never
    * vertex-sized). Each best F1 is rounded to an e9 integer before
    * averaging so the final sums are order-free and replayable.
    */
  def communityF1(predLabels: DataFrame, trueLabels: DataFrame): DataFrame = {
    val joint = confusionMatrix(trueLabels, predLabels)
    val sp = joint.groupBy("predLabel").agg(sum(col("n")).as("np"))
    val st = joint.groupBy("trueLabel").agg(sum(col("n")).as("nt"))
    val f1 = joint.join(sp, "predLabel").join(st, "trueLabel")
      .select(col("predLabel"), col("trueLabel"),
        round(col("n") * lit(2000000000.0) / (col("np") + col("nt")))
          .cast("long").as("f1_e9"))
    def best(key: String, other: String): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(key).orderBy(col("f1_e9").desc, col(other).asc)
      f1.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .agg(count(lit(1)).cast("long").as(s"n_$key"),
          sum(col("f1_e9")).cast("long").as(s"s_$key"))
    }
    best("predLabel", "trueLabel").crossJoin(best("trueLabel", "predLabel"))
      .select(col("n_predLabel").as("n_pred"), col("n_trueLabel").as("n_true"),
        round(col("s_predLabel") / col("n_predLabel") / 1000.0).cast("long")
          .as("pred_f1_e6"),
        round(col("s_trueLabel") / col("n_trueLabel") / 1000.0).cast("long")
          .as("true_f1_e6"),
        round((col("s_predLabel") / col("n_predLabel")
            + col("s_trueLabel") / col("n_trueLabel")) / 2000.0)
          .cast("long").as("f1_e6"))
  }

  /** Flow-hierarchy profile of the directed graph: score each page
    * s(v) = indeg(v) − outdeg(v) (authorities score high, pure emitters
    * low) and classify every edge by whether it points up the score
    * (forward), down (backward), or between equals (level). The forward
    * share is the "how DAG-like is this web region" number crawl and
    * ranking teams read before trusting degree-ordered processing — a
    * large backward share means link direction fights the authority
    * gradient (link-farm rings score exactly level).
    *
    * Deliberately NOT a ranking: no global order, no vertex-sized
    * window. Scores equi-join onto the edge list, so the plan is two
    * vertex-sized hash aggs + two shuffle joins + one scalar agg — the
    * same shape at 60 k edges and at 100 TB. All counts exact integers;
    * the share is an integer e6 floor division.
    */
  def hierarchy(directed: DataFrame): DataFrame = {
    val outd = directed.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("od"))
    val ind = directed.groupBy(col("dst").as("id"))
      .agg(count(lit(1)).as("indeg"))
    val score = directed.select(col("src").as("id"))
      .union(directed.select(col("dst").as("id"))).distinct()
      .join(outd, Seq("id"), "left")
      .join(ind, Seq("id"), "left")
      .select(col("id"),
        (coalesce(col("indeg"), lit(0L)) - coalesce(col("od"), lit(0L)))
          .as("s"))
    directed
      .join(score.select(col("id").as("src"), col("s").as("ss")), "src")
      .join(score.select(col("id").as("dst"), col("s").as("sd")), "dst")
      .agg(count(lit(1)).cast("long").as("n_edges"),
        sum(when(col("ss") < col("sd"), 1L).otherwise(0L)).as("n_forward"),
        sum(when(col("ss") > col("sd"), 1L).otherwise(0L)).as("n_backward"),
        sum(when(col("ss") === col("sd"), 1L).otherwise(0L)).as("n_level"))
      .select(col("n_edges"), col("n_forward").cast("long").as("n_forward"),
        col("n_backward").cast("long").as("n_backward"),
        col("n_level").cast("long").as("n_level"),
        expr("n_forward * 1000000 DIV n_edges").as("forward_e6"))
  }

  /** Power-law exponent of the degree distribution by the Hill / discrete
    * MLE estimator (Clauset–Shalizi–Newman eq. 3.1 continuous form):
    *
    *   α = 1 + n_tail / Σ_{d ≥ dMin} ln(d / dMin)
    *
    * — the one-number check that the graph IS the heavy-tailed web graph
    * the skew plans assume (α ≈ 2.1 for the web's in-degree; α drifting
    * toward 3+ means the hub machinery is idle, α < 2 means even the
    * mean is sample-unstable and per-hub routing is mandatory).
    *
    * Degrees are undirected slot counts over the symmetrized graph. One
    * hash agg + one scalar agg; the ln sum is a float fold over the
    * degree table (deterministic order-independent sum of ≤ n values —
    * cross-engine stable at e6 quantization on real degree tables, the
    * NMI precedent). All-dMin tails (Σ = 0: a dMin-regular graph) report
    * alpha_e6 = 0 — no tail evidence, callers treat as not-power-law.
    *
    * @return one row (n_tail, d_min, alpha_e6)
    */
  /** Coverage and performance of a vertex partition (Fortunato's survey
    * §community-quality): coverage = intra-community edge fraction;
    * performance = (correctly-classified pairs) / all pairs, where a pair
    * is correct when it is an intra-community edge or an inter-community
    * non-edge — the two partition-quality scalars reported next to
    * modularity (coverage rewards dense communities, performance also
    * rewards clean separation).
    *
    * Everything stays integer until the two final divides: intra-pair
    * totals are carried DOUBLED (Σ c·(c−1), n·(n−1)) so no halving ever
    * truncates, and the performance numerator
    *
    *   2·intra_edges + (n(n−1) − Σ c(c−1)) − 2·(m − intra_edges)
    *
    * is an exact int64 (envelope n < 3·10⁹ — beyond, lift to Decimal).
    * Cost: one canonical-edge join against the labeling + two hash aggs
    * over the label table — no windows, nothing vertex-quadratic.
    *
    * @param labels (id, label) covering every vertex of `edges`
    * @return one row (n, m, intra_edges, coverage_e6, performance_e6)
    */
  def partitionQuality(edges: DataFrame, labels: DataFrame): DataFrame = {
    val canon = graft.graph.GraphOps.canonical(edges)
    val es = canon
      .join(labels.select(col("id").as("src"), col("label").as("ls")), "src")
      .join(labels.select(col("id").as("dst"), col("label").as("ld")), "dst")
      .agg(count(lit(1)).as("m"),
        sum(when(col("ls") === col("ld"), 1L).otherwise(0L)).as("intra"))
    val nn = labels.agg(count(lit(1)).as("n"))
    val ip = labels.groupBy("label").agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(col("c") * (col("c") - 1)), lit(0L)).as("intra2x"))
    es.crossJoin(nn).crossJoin(ip)
      .select(col("n"), col("m"), col("intra").as("intra_edges"),
        round(col("intra") * lit(1000000.0) / col("m")).cast("long")
          .as("coverage_e6"),
        round((lit(2) * col("intra")
            + (col("n") * (col("n") - 1) - col("intra2x"))
            - lit(2) * (col("m") - col("intra"))) * lit(1000000.0)
          / (col("n") * (col("n") - 1))).cast("long")
          .as("performance_e6"))
  }

  /** Small-world coefficient σ = (C/C_rand)/(L/L_rand) (Humphries–Gurney):
    * measured transitivity and mean shortest-path length against their
    * Erdős–Rényi/configuration-model expectations — σ ≫ 1 is the
    * clustered-yet-short-paths regime the web graph famously sits in,
    * and the one-row sanity panel consulted before assuming BFS-bounded
    * algorithms terminate in few supersteps.
    *
    *   C      = 3·triangles / wedges           (exact integer census)
    *   C_rand = (S2−S1)² / S1³                 (configuration null, as
    *                                            g_null_clustering)
    *   L      = Σdist / pairs over all-pairs BFS min distances (exact
    *            integers; depth-capped — same contract as g_dist_hist)
    *   L_rand = ln(n) / ln(S1/n)               (ER expectation at the
    *                                            same mean degree)
    *
    * The all-source BFS is the one expensive leg (state = reached
    * (source, vertex) pairs); at web scale swap it for the HyperANF
    * mean distance ([[graft.algo.Centrality.neighborhoodFunctionApprox]])
    * — the census and moment legs are corpus-scale-safe as is.
    *
    * @return one row (c_e6, c_null_e6, l_e6, l_null_e6, sigma_e3)
    */
  def smallWorldSigma(edges: DataFrame,
                      maxDepth: Int = graft.algo.Betweenness.DepthCap)
      : DataFrame = {
    val census = graft.algo.TriangleCount.motifCensus(edges)
      .select(col("wedges"), col("triangles"))
    val mom = degreeMoments(edges)
      .select(col("n_vertices"),
        col("n_slots").cast("double").as("s1"),
        col("sum_d2").cast("double").as("s2"))
    val verts = graft.graph.GraphOps.vertices(edges)
    val lev = graft.algo.Betweenness.bfsLevels(edges, verts, maxDepth)
      .filter(col("dist") > 0)
      .agg(sum(col("dist")).cast("long").as("sum_dist"),
        count(lit(1)).as("pairs"))
    val c = when(col("wedges") === 0, lit(0.0))
      .otherwise(lit(3.0) * col("triangles") / col("wedges"))
    val cNull = (col("s2") - col("s1")) * (col("s2") - col("s1")) /
      (col("s1") * col("s1") * col("s1"))
    val l = col("sum_dist") / col("pairs")
    val lNull = log(col("n_vertices")) / log(col("s1") / col("n_vertices"))
    census.crossJoin(mom).crossJoin(lev)
      .select(
        round(c * 1000000).cast("long").as("c_e6"),
        round(cNull * 1000000).cast("long").as("c_null_e6"),
        round(l * 1000000).cast("long").as("l_e6"),
        round(lNull * 1000000).cast("long").as("l_null_e6"),
        round((c / cNull) / (l / lNull) * 1000).cast("long").as("sigma_e3"))
  }

  /** Per-community modularity contribution — [[modularity]]'s sum
    * decomposed by community under the same slot conventions (the
    * reference's i≠j self-pair correction):
    *
    *   Q_c = ( intra_c − (vol_c² − Σ_{i∈c} k_i²) / 2m ) / 2m,
    *   Σ_c Q_c = Q
    *
    * The per-community ledger operators read when global Q moves: which
    * communities carry the structure and which are modularity-negative
    * (over-volumed relative to their internal slots — merge or split
    * candidates). Two label-keyed hash aggs + one broadcast scalar; all
    * inputs exact integers until the final divides.
    *
    * @return (label, n_vertices, intra_slots, vol, q_e9)
    */
  def perCommunityModularity(edges: DataFrame, labels: DataFrame)
      : DataFrame = {
    val srcLab = labels.select(col("id").as("src"), col("label"))
    val dstLab = labels.select(col("id").as("dst"), col("label").as("dlab"))
    val m2df = edges.agg(count(lit(1)).cast("long").as("m2"))
    val intra = edges.filter(col("src") =!= col("dst"))
      .join(srcLab, "src").join(dstLab, "dst")
      .filter(col("label") === col("dlab"))
      .groupBy("label").agg(count(lit(1)).as("intra_slots"))
    val deg = edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("k"))
    val com = labels.join(deg, Seq("id"), "left").na.fill(0L, Seq("k"))
      .groupBy("label").agg(count(lit(1)).as("n_vertices"),
        sum(col("k")).cast("long").as("vol"),
        sum(col("k") * col("k")).cast("long").as("ksq"))
    val qc = (coalesce(col("intra_slots"), lit(0L))
      - (col("vol") * col("vol") - col("ksq")) / col("m2")) / col("m2")
    com.join(intra, Seq("label"), "left")
      .crossJoin(broadcast(m2df))
      .select(col("label"), col("n_vertices"),
        coalesce(col("intra_slots"), lit(0L)).as("intra_slots"), col("vol"),
        round(qc * 1000000000).cast("long").as("q_e9"))
  }

  def powerLawAlpha(edges: DataFrame, dMin: Long = 2L): DataFrame = {
    require(dMin >= 1)
    edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("degree"))
      .filter(col("degree") >= dMin)
      .agg(count(lit(1)).as("n_tail"),
        sum(log(col("degree").cast("double") / dMin)).as("s"))
      .select(col("n_tail"),
        lit(dMin).as("d_min"),
        when(col("s") > 0,
          round((lit(1.0) + col("n_tail") / col("s")) * 1000000).cast("long"))
          .otherwise(lit(0L)).as("alpha_e6"))
  }

  /** Discrete core–periphery fit (Borgatti & Everett 1999, discrete
    * model): partition vertices into core/periphery — here the k-core
    * membership from a fixed peel schedule, the web graph's natural
    * discrete core — and score how closely the graph matches the ideal
    * pattern (core–core fully connected, periphery–periphery empty;
    * core–periphery ties are "don't care" in the classic model).
    *
    *   agreement = (e_cc + (C(n_p,2) − e_pp)) / (C(n_c,2) + C(n_p,2))
    *
    * Exact integers until the final e6 division. A genuine web core
    * (dense crawl frontier / navigational backbone vs long-tail leaf
    * pages) scores near 1; a flat graph scores near the density-driven
    * baseline. Plan: the peel (degree-filter rounds, [[graft.algo.KCore]])
    * + two broadcastable membership semi-joins + one global agg — every
    * table vertex- or edge-sized, no windows, no pair enumeration (the
    * non-edge counts come from the complement algebra, never from
    * materializing non-edges).
    *
    * @param edges directed slots (symmetrize first for undirected)
    * @param k     core threshold for the peel
    * @param rounds fixed peel rounds (gate-replayable schedule)
    * @return one row (k, n_core, n_periph, e_cc, e_cp, e_pp,
    *         agreement_e6)
    */
  def corePeriphery(edges: DataFrame, k: Long, rounds: Int): DataFrame = {
    val canon = edges.filter(col("src") < col("dst")).select("src", "dst")
    val core = graft.algo.KCore.peelFixed(edges, k, rounds)
      .transform(graft.engine.Materialize.eager)
    val verts = graft.graph.GraphOps.vertices(edges)
    val nCore = core.count()
    val nAll = verts.count()
    val flagged = canon
      .join(core.select(col("id").as("src"), lit(1L).as("cs")),
        Seq("src"), "left")
      .join(core.select(col("id").as("dst"), lit(1L).as("cd")),
        Seq("dst"), "left")
      .select((coalesce(col("cs"), lit(0L))
        + coalesce(col("cd"), lit(0L))).as("nc"))
    val counts = flagged.agg(
      sum(when(col("nc") === 2, 1L).otherwise(0L)).cast("long").as("e_cc"),
      sum(when(col("nc") === 1, 1L).otherwise(0L)).cast("long").as("e_cp"),
      sum(when(col("nc") === 0, 1L).otherwise(0L)).cast("long").as("e_pp"))
    val nP = nAll - nCore
    val pairsC = nCore * (nCore - 1) / 2
    val pairsP = nP * (nP - 1) / 2
    core.unpersist(blocking = false)
    counts.select(
      lit(k).as("k"), lit(nCore).as("n_core"), lit(nP).as("n_periph"),
      col("e_cc"), col("e_cp"), col("e_pp"),
      when(lit(pairsC + pairsP) > 0,
        expr(s"((e_cc + ${pairsP}L - e_pp) * 1000000L) div " +
          s"${pairsC + pairsP}L")).otherwise(lit(0L))
        .cast("long").as("agreement_e6"))
  }

  /** Per-vertex Dirichlet energy of a vertex signal over the link
    * graph — roughness(v) = Σ_{u∈N(v)} (s_v − s_u)², the local
    * smoothness residual. Genuine endorsement links connect pages of
    * comparable standing, so a vertex whose PageRank (or quality score)
    * differs sharply from ALL its neighbors is the classic link-spam /
    * rank-manipulation fingerprint (the TrustRank-adjacent smoothness
    * argument). Scores arrive as e6 integers, so every squared
    * difference and per-vertex sum is exact — int64-safe up to
    * deg·(Δe6)² ≈ 10⁶-degree hubs at full-probability rank gaps.
    *
    * One scores⋈edges⋈scores tag join + one partial-aggregated groupBy
    * (the LP gather shape).
    *
    * @param edges  symmetric directed slots
    * @param scores (id, score_e6) total signal
    * @return (id, deg, energy) — energy in squared-e6 units
    */
  def signalRoughness(edges: DataFrame, scores: DataFrame): DataFrame =
    edges
      .join(scores.select(col("id").as("src"), col("score_e6").as("sa")),
        Seq("src"))
      .join(scores.select(col("id").as("dst"), col("score_e6").as("sb")),
        Seq("dst"))
      .groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("deg"),
        sum((col("sa") - col("sb")) * (col("sa") - col("sb")))
          .cast("long").as("energy"))

  /** One-level map-equation codelength (Rosvall & Bergstrom 2008) of a
    * partition — the information-theoretic community-quality score
    * Infomap minimizes, the standard alternative to [[modularity]] that
    * does NOT suffer modularity's resolution limit. For an undirected
    * graph the random surfer's stationary distribution is degree-
    * proportional (p_v = deg_v / m2, m2 = directed slot count), module
    * exit probability q_i = cut_i / m2, and with H(x) = x·log2(x):
    *
    *   L = H(Σq_i) − Σ_i H(q_i) − Σ_v H(p_v) + Σ_i H(q_i + vol_i/m2)
    *
    * (bits per step; zero-probability terms vanish). Inputs are the
    * SAME per-module (cut, vol) table [[conductance]] aggregates plus
    * the degree table — one edge⋈labels tag join + two hash aggs, then
    * three scalar reductions; nothing module- or vertex-sized reaches
    * the driver. All log terms are doubles; on web-scale module counts
    * the Σ-order noise is ~1e-12, absorbed by the gates' e6 rounding.
    *
    * @param edges  symmetric directed slots
    * @param labels (id, label) total partition
    * @return bits per surfer step (lower = better partition)
    */
  def mapEquation(edges: DataFrame, labels: DataFrame): Double = {
    val m2d = edges.count().toDouble
    if (m2d == 0) return 0.0
    val ls = labels.select(col("id").as("src"), col("label").as("ls"))
    val ld = labels.select(col("id").as("dst"), col("label").as("ld"))
    val perModule = edges.join(ls, "src").join(ld, "dst")
      .groupBy(col("ls").as("label"))
      .agg(sum(when(col("ls") =!= col("ld"), 1L).otherwise(0L))
          .cast("long").as("cut"),
        count(lit(1)).as("vol"))
    def h(c: org.apache.spark.sql.Column) =
      when(c > 0, c * log2(c)).otherwise(lit(0.0))
    val mod = perModule.agg(
      sum(col("cut")).cast("double").as("qsum"),
      sum(h(col("cut") / m2d)).as("hq"),
      sum(h((col("cut") + col("vol")) / m2d)).as("hqp"))
      .first()
    val qAll = mod.getDouble(0) / m2d
    val hv = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .agg(sum(h(col("deg") / m2d))).first().getDouble(0)
    val hQAll = if (qAll > 0) qAll * math.log(qAll) / math.log(2.0) else 0.0
    hQAll - mod.getDouble(1) - hv + mod.getDouble(2)
  }
}
