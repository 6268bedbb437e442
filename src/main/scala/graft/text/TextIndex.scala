package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Corpus indexing operators over a `documents(doc_id, text, …)` table —
  * the retrieval-side counterpart of the dedup/quality pipeline (SURVEY
  * §2.10). Everything is built from codegen'd built-ins (no UDFs), so each
  * operator is a scan plus a bounded number of hash shuffles at any corpus
  * size.
  */
object TextIndex {

  /** Lowercased alphanumeric index terms. */
  val termsCol: Column =
    regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))

  /** 60-bit md5-derived uniform hash of a string column, in [0, 2^60) —
    * the deterministic sampling primitive (replayable in ANSI SQL engines
    * as `('0x' || substr(md5(x),1,15))::BIGINT`).
    */
  def md5Uniform(key: Column): Column =
    conv(substring(md5(key), 1, 15), 16, 10).cast("long")

  /** Distinct (doc_id, term) pairs and their exact document frequency —
    * the shared spine of [[postings]], [[coOccurrence]], and
    * [[topTerms]] (one tokenize + dedup + count, mirrored by the
    * oracle's tok/pairs/df CTE chain).
    */
  private def docTermPairs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(termsCol).as("term")).distinct()

  private def termDf(docs: DataFrame): DataFrame =
    docTermPairs(docs).groupBy("term").agg(count(lit(1)).as("df"))

  /** Vocabulary coverage curve: the fraction of all corpus token
    * OCCURRENCES covered by the top-k most frequent terms, at a few k
    * checkpoints — the table that sizes a tokenizer vocabulary (if 10k
    * types cover 98% of tokens, a 50k vocab buys almost nothing) and
    * prices the [[oovRate]] threshold. The top-max(k) selection is a
    * TakeOrdered ((tf desc, term asc) pin); the cumulative window runs
    * over that BOUNDED prefix only, never the full term table. Returns
    * (k, covered_tokens, coverage_e6) per checkpoint.
    */
  def vocabCoverage(docs: DataFrame,
                    ks: Seq[Int] = Seq(100, 1000, 10000)): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1), s"need positive ks, got $ks")
    val spark = docs.sparkSession
    import spark.implicits._
    val tf = docs.select(explode(termsCol).as("term"))
      .groupBy("term").agg(count(lit(1)).as("tf"))
    val tot = tf.agg(sum(col("tf")).as("tot"))
    val ord = Window.orderBy(col("tf").desc, col("term").asc)
    val cum = tf.orderBy(col("tf").desc, col("term").asc).limit(ks.max)
      .withColumn("rk", row_number().over(ord))
      .withColumn("cum", sum(col("tf")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    cum.crossJoin(broadcast(ks.toDF("k")))
      .filter(col("rk") <= col("k"))
      .groupBy("k").agg(max(col("cum")).as("covered_tokens"))
      .crossJoin(tot)
      .select(col("k").cast("long").as("k"),
        col("covered_tokens").cast("long").as("covered_tokens"),
        round(col("covered_tokens").cast("double") * 1000000 / col("tot"))
          .cast("long").as("coverage_e6"))
  }

  /** Doc–doc TF-IDF cosine similarity over the df-banded vocabulary —
    * the sparse lexical counterpart of the embedding-space near-dup pass
    * (catches template/boilerplate overlap that MinHash's shingle sets
    * and dense cosine both blur). The similarity space is the terms with
    * `minDf ≤ df ≤ maxDf`: the upper band is the stopword guard that
    * bounds the postings self-join at Σ df² over banded terms instead of
    * a head term's corpus-sized posting list squared (the CoCitation-cap
    * pattern on the inverted index).
    *
    * Determinism contract: idf² is quantized ONCE per term to an e6
    * integer (i2e6 = ROUND(ln²(N/df)·1e6)), so the pair numerator
    * Σ tf_a·tf_b·i2e6 and both norms Σ tf²·i2e6 are exact order-free
    * integer sums; the only float is the final single-expression
    * num/√(na·nb). Int64 envelope: tf_a·tf_b·i2e6 ≤ tf²·(ln N)²·1e6 —
    * safe while per-doc banded tf < ~10⁵ at web-corpus N.
    *
    * @return (doc_a, doc_b, cos_e6) for canonical pairs ≥ `minSimE6`
    */
  def tfidfPairs(docs: DataFrame, minDf: Long = 2L, maxDf: Long = 100L,
                 minSimE6: Long = 300000L): DataFrame = {
    val tf = docs.select(col("doc_id"), explode(termsCol).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val n = docs.agg(count(lit(1)).as("n"))
    val idf2 = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf && col("df") <= maxDf)
      .crossJoin(n)
      .select(col("term"),
        round(pow(log(col("n").cast("double") / col("df")), 2) * 1000000)
          .cast("long").as("i2e6"))
    val wtf = tf.join(idf2, "term")
    val norms = wtf.groupBy("doc_id")
      .agg(sum(col("tf") * col("tf") * col("i2e6")).as("n2"))
    wtf.select(col("term"), col("doc_id").as("a"), col("tf").as("tfa"),
        col("i2e6"))
      .join(wtf.select(col("term"), col("doc_id").as("b"),
        col("tf").as("tfb")), Seq("term"))
      .filter(col("a") < col("b"))
      .groupBy("a", "b")
      .agg(sum(col("tfa") * col("tfb") * col("i2e6")).as("num"))
      .join(norms.select(col("doc_id").as("a"), col("n2").as("na")), "a")
      .join(norms.select(col("doc_id").as("b"), col("n2").as("nb")), "b")
      .select(col("a").as("doc_a"), col("b").as("doc_b"),
        round(col("num").cast("double") * 1000000
          / (sqrt(col("na").cast("double"))
            * sqrt(col("nb").cast("double")))).cast("long").as("cos_e6"))
      .filter(col("cos_e6") >= minSimE6)
  }

  /** Inverted index with capped posting lists.
    *
    * One row per term with document frequency ≥ `minDf`: the exact df
    * plus the first `cap` doc ids ascending, comma-joined. The cap is the
    * 100 TB guard — a head term's full posting list is corpus-sized, so
    * the per-term window truncates it to a fixed prefix while `df` stays
    * exact (computed by partial-aggregated groupBy BEFORE the cap). The
    * window partitions by term, so ranking never concentrates data beyond
    * one term's postings on one partition; for true stopword-scale terms
    * compose with [[coOccurrence]]'s df band instead of indexing them.
    */
  def postings(docs: DataFrame, minDf: Long, cap: Int): DataFrame = {
    val pairs = docTermPairs(docs)
    val df = termDf(docs).filter(col("df") >= minDf)
    val capped = pairs
      .withColumn("rn", row_number().over(
        Window.partitionBy("term").orderBy(col("doc_id").asc)))
      .filter(col("rn") <= cap)
      .groupBy("term")
      .agg(array_join(
        transform(array_sort(collect_list(col("doc_id"))),
          _.cast("string")), ",").as("posting_head"))
    df.join(capped, "term")
      .select(col("term"), col("df"), col("posting_head"))
  }

  /** Within-document term co-occurrence counts over a df-banded
    * vocabulary.
    *
    * Terms with document frequency in [`minDf`, `maxDf`] form the
    * vocabulary; for every document, each unordered pair of distinct
    * vocabulary terms it contains counts once; pairs seen in ≥ `minPairs`
    * documents survive. The df band is what makes this scale: the upper
    * bound excludes stopword-grade terms whose within-doc pairing is
    * quadratic in document length, so the exploded pair volume is bounded
    * by Σ_doc C(|vocab terms in doc|, 2) with the hot terms gone — the
    * standard construction for distributional-similarity / phrase-mining
    * passes over a crawl.
    */
  def coOccurrence(docs: DataFrame, minDf: Long, maxDf: Long,
                   minPairs: Long): DataFrame = {
    val pairs = docTermPairs(docs)
    val vocab = termDf(docs)
      .filter(col("df") >= minDf && col("df") <= maxDf)
      .select(col("term"))
    val in = pairs.join(vocab, "term")
    val a = in.select(col("doc_id"), col("term").as("tok_a"))
    val b = in.select(col("doc_id").as("doc_b"), col("term").as("tok_b"))
    a.join(b, col("doc_id") === col("doc_b") && col("tok_a") < col("tok_b"))
      .groupBy("tok_a", "tok_b").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minPairs)
  }

  /** TextRank keyword scores (Mihalcea & Tarau 2004): PageRank over the
    * [[coOccurrence]] term graph, the unsupervised keyword extractor —
    * terms that co-occur with many well-connected terms score high.
    * Weighted update at the paper's d = 0.85:
    *
    *   S(v) = (1−d) + d · Σ_{u∈N(v)} (w_uv / W_u) · S(u)
    *
    * in the [[graft.streaming.Funnel.markovStationary]] exact-integer
    * contract: row-normalized weights are e9 integers fixed once, every
    * iterate is `(s·p) div 1e9` sums — bit-replayable, no floats ever.
    * The graph is vocab-bounded (df band), so per-iteration state is
    * vocabulary-sized regardless of corpus size; the expensive pass is
    * the one co-occurrence build. Int64 envelope: s_e9 stays within
    * ~deg·1e9 per term — overflow needs a 4e8-degree term node.
    *
    * @return (term, s_e9) for every term in the co-occurrence graph
    */
  def textRank(docs: DataFrame, minDf: Long, maxDf: Long, minPairs: Long,
               iters: Int = 3): DataFrame = {
    require(iters >= 1)
    val co = coOccurrence(docs, minDf, maxDf, minPairs)
    val sym = co.select(col("tok_a").as("u"), col("tok_b").as("v"),
        col("n_docs").as("w"))
      .union(co.select(col("tok_b").as("u"), col("tok_a").as("v"),
        col("n_docs").as("w")))
    val wsum = sym.groupBy("u").agg(sum(col("w")).as("wu"))
    val pmat = sym.join(wsum, "u")
      .select(col("u"), col("v"),
        expr("(w * 1000000000) div wu").as("p_e9"))
      .transform(graft.engine.Materialize.eager(_).state)
    val terms = sym.select(col("u").as("term")).distinct()
      .transform(graft.engine.Materialize.eager(_).state)
    var s = terms.select(col("term"), lit(1000000000L).as("s_e9"))
    var i = 0
    while (i < iters) {
      i += 1
      val flow = s.join(pmat, col("term") === col("u"))
        .select(col("v"), expr("(s_e9 * p_e9) div 1000000000").as("c"))
        .groupBy(col("v").as("t2")).agg(sum(col("c")).as("fl"))
      s = terms.join(flow, col("term") === col("t2"), "left")
        .withColumn("fl2", coalesce(col("fl"), lit(0L)))
        .select(col("term"),
          expr("150000000 + (850 * fl2) div 1000").cast("long").as("s_e9"))
        .transform(graft.engine.Materialize.eager(_).state)
    }
    pmat.unpersist(blocking = false)
    s
  }

  /** Global heavy-hitter terms: exact document frequency, top `k` by
    * (df desc, term asc). The ranking plans as TakeOrderedAndProject —
    * each partition reduces to its own k rows before a single k·P-row
    * merge — never a global sort, so the corpus-profiling staple stays
    * cheap at any corpus size.
    */
  def topTerms(docs: DataFrame, k: Int): DataFrame =
    termDf(docs)
      .orderBy(col("df").desc, col("term").asc)
      .limit(k)

  /** Positional phrase query against the corpus's hottest bigram: find
    * the single most frequent adjacent term pair (ties broken
    * lexicographically) and return every occurrence as (doc_id, pos) —
    * the two-term phrase-search path of a positional inverted index,
    * self-contained so the whole round trip (index → rank → lookup) is
    * exercised in one deterministic pass.
    *
    * Adjacency comes from a doc-partitioned `lead` window (partition-
    * local, no global sort); the top-1 ranking plans as
    * TakeOrderedAndProject; the occurrence lookup is a broadcast
    * semi-join of the one winning pair back onto the bigram stream. At
    * 100 TB the same plan serves an arbitrary user phrase — the ranking
    * stage just gets replaced by the query constant.
    */
  def topBigramOccurrences(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      posexplode(termsCol).as(Seq("pos", "term")))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val bg = toks.select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("term").as("t1"), lead(col("term"), 1).over(w).as("t2"))
      .filter(col("t2").isNotNull)
    val top = bg.groupBy("t1", "t2").agg(count(lit(1)).as("n_occ"))
      .orderBy(col("n_occ").desc, col("t1").asc, col("t2").asc)
      .limit(1)
    bg.join(broadcast(top), Seq("t1", "t2"))
      .select(col("doc_id"), col("pos"), col("t1"), col("t2"), col("n_occ"))
  }

  /** Collocation mining: PMI of adjacent index-term bigrams. Marginals
    * are computed over ALL bigrams (so scores are true corpus PMI), then
    * rows are thresholded at `minCount` occurrences to bound the output —
    * the classic collocation/phrase-candidate pass. Reuses
    * [[graft.algo.SkipGram.pmiScores]]'s scaled-integer PMI (pmi_e6), so
    * the gate replays exactly under the established ln-parity precedent.
    */
  def collocations(docs: DataFrame, minCount: Long): DataFrame = {
    val toks = docs.select(col("doc_id"),
      posexplode(termsCol).as(Seq("pos", "term")))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val bg = toks.select(col("term").as("center"),
        lead(col("term"), 1).over(w).as("context"))
      .filter(col("context").isNotNull)
    val pairs = bg.groupBy("center", "context").agg(count(lit(1)).as("n"))
    graft.algo.SkipGram.pmiScores(pairs)
      .filter(col("n") >= minCount)
      .select(col("center").as("t1"), col("context").as("t2"),
        col("n"), col("pmi_e6"))
  }

  /** Feature-hashing document vectors (the hashing trick): each term
    * maps to dimension md5(term) % dim with sign ± from the next hash
    * bit, and the document's vector is the signed term-count sum — the
    * fixed-width featurizer that needs NO vocabulary, so it runs as one
    * scan + one hash aggregation at any corpus size (Weinberger et al.).
    * Emitted sparse as (doc_id, dim, val) rows — exact integers, and the
    * sparse form is what a downstream trainer ingests.
    */
  def featureHash(docs: DataFrame, dim: Int): DataFrame = {
    require(dim >= 2)
    val terms = docs.select(col("doc_id"), explode(termsCol).as("term"))
    val h = md5Uniform(col("term"))
    terms
      .select(col("doc_id"), (h % dim).as("dim"),
        // sign = the hash bit just above the dim bits: h % 2dim < dim
        // (Column./ is DOUBLE division — keep this in pure modular math)
        when(h % (2L * dim) < dim, lit(1L)).otherwise(lit(-1L)).as("sgn"))
      .groupBy("doc_id", "dim")
      .agg(sum(col("sgn")).cast("long").as("val"))
      .filter(col("val") =!= 0)
  }

  /** Deterministic quality-weighted document sampling.
    *
    * Each document's keep-probability (in permille) is an exact integer
    * function of its length — `min(maxP, n_chars * mult)` — and the
    * keep decision is `md5Uniform(doc_id:seed) % 1000 < p`: longer
    * (higher-signal) documents are kept more often, the draw is
    * reproducible across runs/engines, and the whole pass is a stateless
    * scan — the shape a 100 TB training-data subsample has to have (no
    * RNG state, no sort, no shuffle; re-running on a changed corpus keeps
    * every previously-kept unchanged document).
    */
  def weightedSample(docs: DataFrame, seed: Long, mult: Long = 2L,
                     maxP: Long = 900L): DataFrame = {
    val p = least(lit(maxP), col("n_chars") * lit(mult)).as("p_permille")
    docs.select(col("doc_id"), col("n_chars"), p)
      .filter(md5Uniform(concat_ws(":", col("doc_id"), lit(seed))) % 1000
        < col("p_permille"))
  }

  /** Vocabulary-growth (Heaps-law) checkpoints: at each corpus prefix —
    * documents with `doc_id ≤ ⌊max_doc·permille/1000⌋` — the document,
    * token, and distinct-type counts. The type-vs-token curve is the
    * corpus-health diagnostic a training-data pipeline tracks while
    * ingesting (a flattening curve means the new data stopped adding
    * vocabulary — duplication or domain collapse).
    *
    * No ordered scan anywhere: types-at-checkpoint comes from each term's
    * FIRST document (one hash aggregation), then a broadcast ≤-join
    * against the fixed checkpoint table — cumulative counting without a
    * cumulative window, the only shape that holds at corpus scale.
    * Checkpoints are permilles of max(doc_id), so the output is
    * |permilles| rows at any corpus size.
    */
  def vocabularyGrowth(docs: DataFrame,
                       permilles: Seq[Int] = Seq(125, 250, 500, 1000))
      : DataFrame = {
    require(permilles.nonEmpty && permilles.forall(p => p >= 1 && p <= 1000))
    val spark = docs.sparkSession
    import spark.implicits._
    val maxDoc = docs.agg(max(col("doc_id"))).first().getLong(0)
    val caps = permilles.map(p => (p.toLong, maxDoc * p / 1000))
      .toDF("permille", "cap")
    val docTokens = docs.select(col("doc_id"),
      size(termsCol).cast("long").as("ntok"))
    val firstDoc = docs.select(col("doc_id"), explode(termsCol).as("term"))
      .groupBy("term").agg(min(col("doc_id")).as("first_doc"))
    val tokensAt = broadcast(caps).join(docTokens, col("doc_id") <= col("cap"))
      .groupBy("permille", "cap")
      .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).cast("long").as("n_tokens"))
    val typesAt = broadcast(caps.select(col("permille").as("p2"), col("cap").as("c2")))
      .join(firstDoc, col("first_doc") <= col("c2"))
      .groupBy("p2").agg(count(lit(1)).as("n_types"))
    tokensAt.join(typesAt, col("permille") === col("p2"), "left")
      .select(col("permille"), col("cap"), col("n_docs"), col("n_tokens"),
        coalesce(col("n_types"), lit(0L)).as("n_types"))
  }

  /** Zipf rank–frequency slope over the `topN` hottest terms — the
    * corpus-health curve fit: natural text sits near slope −1, template
    * farms and generator spam bend the head of the curve, so an ingest
    * pipeline tracks the fitted slope per snapshot next to
    * [[vocabularyGrowth]].
    *
    * Least squares of ln(count) on ln(rank). Each term's (x, y) =
    * (⌊ln rank·10⁶⌉, ⌊ln count·10⁶⌉) is an INTEGER pair, so the four
    * regression sums are order-free integer aggregations (the edge-BC
    * lesson) and the slope/intercept are each one double expression over
    * them — bit-replayable. Integer envelope: n·Σxy stays under 2⁶³ for
    * topN ≤ 200 up to corpus counts of e⁶⁰ tokens, i.e. unconditionally.
    *
    * Scale shape: one corpus term-count agg, a TakeOrdered top-N, a
    * window over the topN-row (bounded) table, one 1-row agg.
    *
    * @return 1 row: (n_terms, slope_e6, intercept_e6) — intercept in
    *         ln-count units ×10⁶
    */
  def zipfFit(docs: DataFrame, topN: Int): DataFrame = {
    val tf = docs.select(explode(termsCol).as("term"))
      .groupBy("term").agg(count(lit(1)).as("tf"))
    val top = tf.orderBy(col("tf").desc, col("term").asc).limit(topN)
    val ranked = top.withColumn("rank", row_number()
      .over(Window.orderBy(col("tf").desc, col("term").asc)).cast("long"))
    val xy = ranked.select(
      round(log(col("rank").cast("double")) * 1000000).cast("long").as("x"),
      round(log(col("tf").cast("double")) * 1000000).cast("long").as("y"))
    val ag = xy.agg(count(lit(1)).as("n"), sum("x").as("sx"),
      sum("y").as("sy"), sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"))
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
      (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    ag.select(col("n").cast("long").as("n_terms"),
      round(slope * 1000000).cast("long").as("slope_e6"),
      round((col("sy").cast("double") - slope * col("sx").cast("double")) /
        col("n").cast("double")).cast("long").as("intercept_e6"))
  }

  /** Per-document out-of-vocabulary rate against the corpus top-`vocabK`
    * vocabulary (tf desc, term asc — deterministic cutoff) — the
    * tokenizer-coverage filter feature: docs whose tokens mostly fall
    * outside the working vocabulary are wrong-language residue, OCR
    * noise, or id dumps, and OOV-rate is the cheap signal that catches
    * them before an expensive LM pass. Zero-token docs emit no row.
    *
    * Scale shape: one corpus tf agg, a TakeOrdered top-K (broadcastable
    * vocab), one left join + per-doc agg — no windows, no all-pairs.
    *
    * @return (doc_id, n_tokens, n_oov, oov_e6)
    */
  def oovRate(docs: DataFrame, vocabK: Int): DataFrame = {
    require(vocabK >= 1)
    val toks = docs.select(col("doc_id"), explode(termsCol).as("term"))
    val vocab = toks.groupBy("term").agg(count(lit(1)).as("tfc"))
      .orderBy(col("tfc").desc, col("term").asc).limit(vocabK)
      .select(col("term"), lit(1L).as("inv"))
    toks.join(vocab, Seq("term"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("inv").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"),
        col("n_oov").cast("long").as("n_oov"),
        expr("n_oov * 1000000 div n_tokens").as("oov_e6"))
  }

  /** Heaps'-law exponent over the [[vocabularyGrowth]] checkpoints —
    * V(N) = K·N^β, fit as ln V = ln K + β·ln N by least squares. β ≈
    * 0.4–0.6 on natural text; β drifting toward 1 means the vocabulary
    * never saturates (OCR noise, random ids — every token novel), β
    * near 0 means template spam. The pretraining-scale use: β measured
    * on a 1% sample EXTRAPOLATES the full corpus's vocabulary, sizing
    * the tokenizer/embedding table before the big run.
    *
    * Same determinism contract as [[zipfFit]]: each checkpoint's
    * (⌊ln N·10⁶⌉, ⌊ln V·10⁶⌉) is an INTEGER pair, the four regression
    * sums are order-free integer aggs, slope/intercept one double
    * expression each. Envelope: |x| ≤ ln(10¹⁸)·10⁶ < 2²⁶, so n·Σx² <
    * 2⁶³ for any checkpoint count below 2¹⁰.
    *
    * @return 1 row: (n_points, beta_e6, lnk_e6)
    */
  def heapsFit(docs: DataFrame,
               permilles: Seq[Int] = Seq(125, 250, 375, 500, 625, 750, 875,
                 1000)): DataFrame = {
    val g = vocabularyGrowth(docs, permilles)
    val xy = g.filter(col("n_tokens") > 0 && col("n_types") > 0)
      .select(
        round(log(col("n_tokens").cast("double")) * 1000000).cast("long").as("x"),
        round(log(col("n_types").cast("double")) * 1000000).cast("long").as("y"))
    val ag = xy.agg(count(lit(1)).as("n"), sum("x").as("sx"),
      sum("y").as("sy"), sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"))
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
      (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    ag.select(col("n").cast("long").as("n_points"),
      round(slope * 1000000).cast("long").as("beta_e6"),
      round((col("sy").cast("double") - slope * col("sx").cast("double")) /
        col("n").cast("double")).cast("long").as("lnk_e6"))
  }

  /** Per-document KL divergence from the corpus unigram distribution —
    * KL(doc ‖ corpus) = Σ_t (tf_d/len_d)·ln((tf_d/len_d)/(tf_c/total)):
    * the domain-outlier / off-distribution filter signal (machine
    * translations, generator spam, and wrong-language residue all sit in
    * the high-KL tail; boilerplate mirrors sit near 0).
    *
    * Determinism: each (doc, term)'s log-ratio is rounded to an e6
    * INTEGER and weighted by the integer tf_d, so the per-doc sum is
    * order-free; one final divide by len_d. The ratio itself is computed
    * as (tf_d/len_d)/(tf_c/total) in that exact operand order. Scale
    * shape: one corpus term agg joined back onto the per-doc term table
    * (both hash-partitioned by term), one per-doc agg; the corpus total
    * is a 1-row broadcast.
    *
    * @return (doc_id, n_tokens, kl_e6), kl ≥ 0 by Gibbs' inequality
    */
  def klFromCorpus(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(termsCol).as("term"))
    val tfd = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val len = tfd.groupBy("doc_id").agg(sum("tf").cast("long").as("len"))
    val tfc = toks.groupBy("term").agg(count(lit(1)).as("tfc"))
    val total = toks.agg(count(lit(1)).cast("long").as("total"))
    val ratio = (col("tf").cast("double") / col("len")) /
      (col("tfc").cast("double") / col("total"))
    val terms = tfd.join(len, "doc_id").join(tfc, "term")
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("len"),
        (col("tf") * round(log(ratio) * 1000000).cast("long")).as("c"))
    terms.groupBy("doc_id")
      .agg(first(col("len")).as("len"), sum(col("c")).as("s"))
      .select(col("doc_id"), col("len").as("n_tokens"),
        round(col("s").cast("double") / col("len")).cast("long").as("kl_e6"))
  }

  /** DSIR-style importance weight (Xie et al., "Data Selection with
    * Importance Resampling", 2023): per document the average unigram
    * log-likelihood ratio of a TARGET subset's language model over the
    * raw corpus's,
    *
    *   weight(d) = (1/len) Σ_w tf_d(w) · ln( p_target(w) / p_raw(w) )
    *
    * with add-1 smoothing over the shared corpus vocabulary. High-weight
    * documents look like the target; sampling ∝ exp(weight) is the
    * standard way to tilt a 100 TB crawl toward a curated slice without
    * training a classifier.
    *
    * Determinism contract (the d_kl / edge-BC lesson): each per-TERM
    * log-ratio is rounded to an e6 INTEGER and weighted by the exact
    * integer tf, so the per-doc sum is order-free; one final divide.
    * Cost: two corpus-sized tokenize+agg passes (target tf is a filtered
    * re-aggregation) and a vocabulary-sized join onto the per-doc tf
    * table — no windows, nothing quadratic.
    *
    * @param isTarget row predicate over `docs` selecting the target slice
    * @return (doc_id, n_tokens, dsir_e6)
    */
  def dsirWeights(docs: DataFrame, isTarget: Column): DataFrame = {
    val toks = docs.select(col("doc_id"), isTarget.as("tgt"),
      explode(termsCol).as("term"))
    val tfd = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val len = tfd.groupBy("doc_id").agg(sum("tf").cast("long").as("len"))
    // per-term counts in the raw corpus and in the target slice; the
    // vocabulary is the raw corpus's (add-1 keeps every ratio finite)
    val byTerm = toks.groupBy("term").agg(
      count(lit(1)).cast("long").as("cr"),
      sum(when(col("tgt"), 1L).otherwise(0L)).cast("long").as("ct"))
    val scal = byTerm.agg(
      sum(col("cr")).cast("long").as("totr"),
      sum(col("ct")).cast("long").as("tott"),
      count(lit(1)).cast("long").as("vocab"))
    val ratio = ((col("ct") + 1).cast("double") / (col("tott") + col("vocab")))
      ./((col("cr") + 1).cast("double") / (col("totr") + col("vocab")))
    val terms = tfd.join(byTerm, "term").crossJoin(broadcast(scal))
      .select(col("doc_id"),
        (col("tf") * round(log(ratio) * 1000000).cast("long")).as("c"))
    terms.groupBy("doc_id").agg(sum(col("c")).as("s"))
      .join(len, "doc_id")
      .select(col("doc_id"), col("len").as("n_tokens"),
        round(col("s").cast("double") / col("len")).cast("long")
          .as("dsir_e6"))
  }

  /** Per-term gamma-coded posting-list cost: document-id delta gaps per
    * term (first gap doc_id+1 so id 0 stays codable), Elias-γ bits
    * 2·⌊log₂ gap⌋+1 summed per term — the index-sizing audit next to the
    * adjacency variant ([[graft.graph.Compress.gammaGapCost]]); run after
    * a crawl-id remap to see how much locality the remap buys the index.
    *
    * The per-term window is bounded by `maxDf` BEFORE ranking (df from a
    * plain hash agg, head terms dropped like [[coOccurrence]]'s band and
    * the CoCitation hub cap) — a stopword's posting list is corpus-sized
    * and would otherwise concentrate on one partition.
    *
    * @return (term, df, gamma_bits) for terms with df in [minDf, maxDf]
    */
  def postingsGammaCost(docs: DataFrame, minDf: Long = 2L,
                        maxDf: Long = 1000000L): DataFrame = {
    val pairs = docTermPairs(docs)
    val banded = termDf(docs)
      .filter(col("df") >= minDf && col("df") <= maxDf)
      .select(col("term"))
    val w = Window.partitionBy("term").orderBy("doc_id")
    pairs.join(banded, Seq("term"), "left_semi")
      .withColumn("gap",
        coalesce(col("doc_id") - lag(col("doc_id"), 1).over(w),
          col("doc_id") + 1))
      .select(col("term"),
        (lit(2) * (length(bin(col("gap"))) - 1) + 1).cast("long").as("bits"))
      .groupBy("term")
      .agg(count(lit(1)).as("df"), sum(col("bits")).as("gamma_bits"))
  }

  /** Split-half vocabulary drift: Jensen–Shannon divergence between the
    * unigram distributions of the doc_id-parity halves of the corpus —
    * the text-side twin of the embedding centroidDrift audit ("is this
    * corpus statistically homogeneous, or did the second half come from
    * somewhere else?"). Run before pooling two crawls, or on a
    * time-split to detect topic drift.
    *
    *   p(w) = (tf_A(w)+1)/(N_A+V),  q(w) = (tf_B(w)+1)/(N_B+V)
    *   JS   = ½ Σ_w [ p·ln(p/m) + q·ln(q/m) ],  m = (p+q)/2
    *
    * with add-1 smoothing over the SHARED corpus vocabulary (V = all
    * distinct terms, either half), so both distributions are everywhere
    * positive and JS ≤ ln 2. Determinism contract (the d_kl / dsir
    * lesson): each per-TERM contribution is rounded to an e9 integer
    * before the vocabulary-sized sum, so aggregation order cannot move
    * the result. Plan: one tokenize+agg pass producing per-(term, half)
    * tfs, two 1-row broadcast scalars, one vocabulary-sized agg.
    *
    * @return one row (n_vocab, tok_a, tok_b, js_e9), JS in nats
    */
  def vocabDrift(docs: DataFrame): DataFrame = {
    val toks = docs.select((col("doc_id") % 2).as("half"),
      explode(termsCol).as("term"))
    val tf = toks.groupBy("term")
      .agg(sum(when(col("half") === 0, 1L).otherwise(0L)).as("tfa"),
        sum(when(col("half") === 1, 1L).otherwise(0L)).as("tfb"))
    val scal = tf.agg(count(lit(1)).cast("long").as("v"),
      sum(col("tfa")).cast("long").as("na"),
      sum(col("tfb")).cast("long").as("nb"))
    val p = (col("tfa") + 1).cast("double") / (col("na") + col("v"))
    val q = (col("tfb") + 1).cast("double") / (col("nb") + col("v"))
    val m = (p + q) / 2
    tf.crossJoin(broadcast(scal))
      .select(col("v"), col("na"), col("nb"),
        round((p * log(p / m) + q * log(q / m)) * 500000000d)
          .cast("long").as("c"))
      .groupBy("v", "na", "nb")
      .agg(sum(col("c")).as("js_e9"))
      .select(col("v").as("n_vocab"), col("na").as("tok_a"),
        col("nb").as("tok_b"), col("js_e9"))
  }

  /** Zipf rank–frequency slope: OLS fit of ln(freq) on ln(rank) over the
    * top-`topN` terms. Natural text sits near −1 (Zipf's law); a slope
    * well off −1 flags templated/boilerplate or synthetic corpora — the
    * corpus-level cousin of the per-doc quality rules.
    *
    * Exactness contract: each ln is rounded ×1e3 to a long BEFORE the
    * OLS sums, making every covariance term integer; ln(freq) is
    * non-increasing in ln(rank), so the covariance numerator is ≤ 0 and
    * `ΣxΣy − nΣxy ≥ 0` — both engines' integer division then agrees
    * (truncation == floor on non-negative operands). Integer envelope:
    * with topN ≤ 200 and ln(freq) ≤ ln(2^63), the scaled numerator stays
    * < 2^63 (bounds in the gate's spec); topN is capped accordingly.
    *
    * Plan: tokenize-scan → term hash agg → TakeOrderedAndProject top-N →
    * one window + one agg over the BOUNDED N-row table. Nothing
    * vocabulary-sized ever sorts globally.
    *
    * @return one row (n_terms, slope_e6)
    */
  def zipfSlope(docs: DataFrame, topN: Int = 200): DataFrame = {
    require(topN >= 2 && topN <= 200,
      s"topN must be in [2, 200] (integer envelope), got $topN")
    import org.apache.spark.sql.expressions.Window
    val top = docs
      .select(explode(termsCol).as("term"))
      .groupBy("term").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("term").asc)
      .limit(topN)
    val ranked = top.withColumn("rank",
      row_number().over(Window.orderBy(col("freq").desc, col("term").asc)))
    val xy = ranked.select(
      round(log(col("rank").cast("double")) * 1000).cast("long").as("x"),
      round(log(col("freq").cast("double")) * 1000).cast("long").as("y"))
    xy.agg(count(lit(1)).as("n_terms"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      .select(col("n_terms"),
        when(col("n_terms") * col("sxx") - col("sx") * col("sx") > 0,
          -expr("((sx * sy - n_terms * sxy) * 1000000L) div " +
            "(n_terms * sxx - sx * sx)"))
          .otherwise(lit(0L)).cast("long").as("slope_e6"))
  }

  /** Per-term burstiness (Church & Gale 1995): how clumped a term's
    * occurrences are across documents. Function words spread evenly
    * (variance ≈ mean, VMR ≈ 1); content/topic words burst (VMR ≫ 1) —
    * the signal behind adaptive LM caching and topical-term extraction,
    * and at corpus scale a cheap boilerplate detector (machine-injected
    * terms burst extremely).
    *
    * Exact integers: over the df docs CONTAINING the term,
    *   mean_e6 = Σtf·10⁶ div df
    *   vmr_e6  = (df·Σtf² − (Σtf)²)·10⁶ div ((df−1)·Σtf)   (df ≥ 2)
    * — sample variance over occurrences divided by the mean, both
    * non-negative by Cauchy–Schwarz so integer division replays. Integer
    * envelope: df·Σtf² must stay < 2^63 — holds to ~10¹⁵ total
    * occurrences of a term at typical tf; past that lift to decimal.
    *
    * Plan: tokenize scan → (doc,term) hash agg → term hash agg → filter.
    * Scan-only, no windows, no joins.
    *
    * @return (term, df, tf_total, mean_e6, vmr_e6) for terms with
    *         df ≥ minDf
    */
  def burstiness(docs: DataFrame, minDf: Long): DataFrame = {
    require(minDf >= 2, s"minDf must be >= 2 for the sample VMR, got $minDf")
    docs.select(col("doc_id"), explode(termsCol).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .groupBy("term").agg(count(lit(1)).as("df"),
        sum(col("tf")).as("tf_total"),
        sum(col("tf") * col("tf")).as("tf_sq"))
      .filter(col("df") >= minDf)
      .select(col("term"), col("df"), col("tf_total"),
        expr("(tf_total * 1000000L) div df").cast("long").as("mean_e6"),
        expr("((df * tf_sq - tf_total * tf_total) * 1000000L) div " +
          "((df - 1) * tf_total)").cast("long").as("vmr_e6"))
  }
}
