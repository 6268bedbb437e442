package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Skip-gram training-data statistics over a walk-pair corpus — the two
  * remaining pieces (after [[RandomWalks.skipGramPairs]]) of the
  * DeepWalk → word2vec-SGNS data pipeline: PMI association scores and
  * deterministic unigram^(3/4) negative sampling.
  *
  * Everything here is reproducible across engines and runs: weights are
  * computed with IEEE-deterministic double ops (multiplies and sqrt are
  * correctly rounded on every platform, so both Spark and the DuckDB
  * oracle floor the SAME value), and draws use the same LCG-style mix as
  * [[RandomWalks.walks]].
  */
object SkipGram {

  /** Third mix multiplier (negative-draw index). Small like
    * [[RandomWalks.StepMixA]] so the full mix stays < 2^62 for
    * center/context ids inside the 2^40-id envelope.
    */
  val StepMixC = 987643L

  /** PMI of each (center, context) pair against the corpus unigram
    * marginals: `ln(n(c,x) · N / (n(c)·n(x)))`, emitted as a ×1e6
    * scaled BIGINT (`pmi_e6`). Positive values mark
    * pairs that co-occur more than independence predicts — the matrix
    * SGNS implicitly factorizes (Levy & Goldberg 2014).
    *
    * Plan: two marginal hash aggregations joined back onto the pair
    * table plus a 1-row broadcast of the corpus total — three shuffles
    * keyed on high-cardinality columns, no windows, no all-pairs step,
    * so cost stays linear in the pair count at any corpus size. The
    * pair table is referenced four times (both marginals, the total,
    * and the join spine): persist it first when it is an expensive
    * plan rather than a materialized table.
    */
  def pmiScores(pairs: DataFrame): DataFrame = {
    val nc = pairs.groupBy("center").agg(sum(col("n")).as("n_center"))
    val nx = pairs.groupBy("context").agg(sum(col("n")).as("n_context"))
    val tot = pairs.agg(sum(col("n")).as("_N"))
    // marginal product in double (a long*long product overflows for
    // marginals ≥ ~3e9 — ANSI would throw); output on the engine's
    // scaled-BIGINT convention so the cross-engine compare never sits
    // on a float rounding boundary
    pairs.join(nc, "center").join(nx, "context").crossJoin(tot)
      .select(col("center"), col("context"), col("n"),
        round(log(col("n").cast("double") * col("_N") /
          (col("n_center").cast("double") * col("n_context"))) * 1000000)
          .cast("long").as("pmi_e6"))
  }

  /** word2vec noise weights: `max(1, floor(deg^(3/4)))`, the unigram
    * distribution raised to the 3/4 power (Mikolov et al. 2013) with
    * vertex degree standing in for term frequency. Computed as
    * `floor(sqrt(sqrt(d·d·d)))` in doubles — every step (multiply,
    * sqrt) is correctly rounded under IEEE 754, so the result is
    * bit-identical on any engine; exactness vs the true real value is
    * irrelevant, cross-engine determinism is the contract.
    */
  def noiseWeights(edges: DataFrame): DataFrame = {
    val deg = edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("d"))
    val dd = col("d").cast("double")
    deg.select(col("id"),
      greatest(lit(1L), floor(sqrt(sqrt(dd * dd * dd))).cast("long")).as("w"))
  }

  /** Deterministic SGNS negative sampling: for every distinct
    * (center, context) pair and draw index j ∈ [0, k), pick the vertex
    * whose weight interval contains
    * `(center·A + context·B + j·C) mod ΣW` — sampling from the
    * unigram^(3/4) noise distribution exactly as word2vec's table lookup
    * does, but stateless and replayable. Draws that hit the positive
    * context are dropped (word2vec's `target == word` skip), so a pair
    * yields ≤ k negatives.
    *
    * Scale shape — the two classic single-node shortcuts are avoided:
    *  - the global prefix sum over vertex weights is two-level (per-id
    *    window WITHIN range buckets + a cumulative pass over the
    *    bucket-total table, which has only `buckets` rows), never a
    *    single-partition window over the vertex set;
    *  - the draw→interval lookup is an equi-join on weight-space blocks
    *    of span ⌈ΣW/buckets⌉ (each interval explodes to the blocks it
    *    overlaps — 1 row typically, Σw_i/span + V rows total), never a
    *    broadcast-nested-loop range join. Block assignment uses the
    *    same floor(x/span) on both sides, and floor∘divide is monotone,
    *    so every draw lands in a block its interval also emitted —
    *    coverage is exact regardless of double rounding.
    *
    * Output: (center, context, j, neg). Ids must be < 2^40 (mix
    * overflow envelope, see [[RandomWalks.StepMixA]]). `buckets` also
    * sets the draw-lookup join's key cardinality — size it at a small
    * multiple of the cluster's shuffle parallelism (the 64 default fits
    * local[32]; a 1000-executor run wants thousands) so the block join
    * fans out across all reducers.
    */
  def negativeSamples(edges: DataFrame, pairs: DataFrame, k: Int,
                      buckets: Int = 64): DataFrame = {
    require(k >= 1 && buckets >= 1)
    // weights feed three branches (max-id, bucketing, total) — one scan
    val wt = graft.engine.Materialize.eager(noiseWeights(edges)).state
    val mx = wt.agg(max(col("id")).as("_mx"))
    // id-range buckets (monotone in id, so per-bucket order ∘ bucket
    // order = global id order), then the two-level prefix sum
    val spanIds = (floor(col("_mx") / lit(buckets.toLong)) + 1).cast("long")
    val bucketed = wt.crossJoin(mx)
      .select(col("id"), col("w"),
        floor(col("id") / spanIds).cast("long").as("b"))
    val boff = bucketed.groupBy("b").agg(sum(col("w")).as("bw"))
      .withColumn("off", sum(col("bw")).over(Window.orderBy("b")) - col("bw"))
      .select(col("b"), col("off"))
    val iv = bucketed.join(broadcast(boff), "b")
      .withColumn("lo", col("off") - col("w") +
        sum(col("w")).over(Window.partitionBy("b").orderBy("id")))
      .select(col("id"), col("w"), col("lo"))

    val tot = wt.agg(sum(col("w")).as("_tw"))
    val spanW = (floor(col("_tw") / lit(buckets.toLong)) + 1).cast("long")
    val blocks = iv.crossJoin(tot)
      .select(col("id"), col("w"), col("lo"),
        explode(sequence(floor(col("lo") / spanW).cast("long"),
          floor((col("lo") + col("w") - 1) / spanW).cast("long"))).as("rb"))

    val draws = pairs.select(col("center"), col("context")).distinct()
      .crossJoin(tot)
      .select(col("center"), col("context"), col("_tw"),
        explode(sequence(lit(0L), lit((k - 1).toLong))).as("j"))
      .withColumn("r", (col("center") * RandomWalks.StepMixA
        + col("context") * RandomWalks.StepMixB
        + col("j") * StepMixC) % col("_tw"))
      .withColumn("rb", floor(col("r") / spanW).cast("long"))

    val out = draws.join(blocks, Seq("rb"))
      .filter(col("r") >= col("lo") && col("r") < col("lo") + col("w"))
      .filter(col("id") =!= col("context"))
      .select(col("center"), col("context"), col("j"), col("id").as("neg"))
    out
  }

  /** Final SGNS training-example table: one row per (center, context)
    * pair with its weight and the negative draws packed in draw order as
    * a comma-joined string (a string, not an array, so any engine can
    * byte-compare the artifact). Pairs whose every draw hit the positive
    * context keep an empty negative list via the left join. This is the
    * hand-off table an embedding trainer consumes — the terminal operator
    * of the walks → pairs → negatives pipeline.
    */
  def trainingExamples(pairs: DataFrame, negatives: DataFrame): DataFrame = {
    val packed = negatives
      .groupBy("center", "context")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("j"), col("neg")))),
        _.getField("neg").cast("string")), ",").as("negs"))
    pairs.join(packed, Seq("center", "context"), "left")
      .select(col("center"), col("context"), col("n"),
        coalesce(col("negs"), lit("")).as("negs"))
  }
}
