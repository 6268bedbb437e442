package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.algo.{Hits, LabelPropagation, PageRank, Spectral}
import graft.engine.Superstep
import graft.graph.GraphOps

/** The fixed-step driver [[Superstep.fixed]] — its persist / truncate /
  * release policy and the plan shape of the chains that run on it — and
  * the argument contracts of the convergence driver [[Superstep.run]].
  */
class FixedStepDriverSpec extends GraftSuite {

  /** A narrow (shuffle-free) state, so every job below is a truncation. */
  private def init: DataFrame =
    spark.range(0, 64).select(col("id"), lit(0L).as("x"))

  private def plusOne(prev: DataFrame, step: Int): DataFrame =
    prev.select(col("id"), (col("x") + 1).as("x"))

  test("a 12-step read-once run truncates after steps 5 and 10 and keeps one cache entry") {
    val before = cacheEntries()
    var out: DataFrame = null
    val counts = countActions {
      out = Superstep.fixed(init, 12, readsPrevOnce = true)(plusOne)
    }
    assert(counts.jobs === 2, s"expected the step-5 and step-10 truncations, got $counts")
    assert(cacheEntries() - before === 1)
    assert(out.agg(min("x"), max("x")).first() === Row(12L, 12L))
    out.unpersist(blocking = true)
    assert(cacheEntries() === before)
  }

  test("a read-more run materializes every step and leaves no cache entry") {
    val before = cacheEntries()
    var out: DataFrame = null
    val counts = countActions {
      out = Superstep.fixed(init, 12, readsPrevOnce = false)(plusOne)
    }
    assert(counts.jobs === 12, s"expected one materialization per step, got $counts")
    assert(cacheEntries() === before)
    assert(out.agg(min("x"), max("x")).first() === Row(12L, 12L))
  }

  test("a read-once run releases only the cache entries it registered") {
    val two = Superstep.fixed(init, 2, readsPrevOnce = true)(plusOne)
    two.count()
    // steps 1-2 of this run share the plans (and the entries) of `two`
    val three = Superstep.fixed(init, 3, readsPrevOnce = true)(plusOne)
    assert(two.storageLevel != StorageLevel.NONE, "the 2-step result lost its cache entry")
    assert(three.agg(max("x")).first().getLong(0) === 3L)
    three.unpersist(blocking = true)
    two.unpersist(blocking = true)
  }

  test("a read-more chain keeps real statistics: HITS after 12 steps") {
    val scores = Hits.runFixed(edgesDf(Fixtures.karatePairs), 12, partitions = 4)
    val size = scores.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(size < (BigInt(1) << 20), s"estimated size has ${size.toString.length} digits")
  }

  test("Superstep.run rejects identityInit on a resumed run and a lazy non-identity init") {
    val init = LabelPropagation.initLabels(spark.range(4).select(col("id")))
    val same = (labels: DataFrame) => labels
    intercept[IllegalArgumentException] {
      Superstep.run("lp", init, same, 4L, identityInit = true, startIter = 2)
    }
    intercept[IllegalArgumentException] {
      Superstep.run("lp", init, same, 4L, materializeInit = false)
    }
  }

  /** Join-key lists of every `kind` join (e.g. "SortMergeJoin") in the
    * plans that streams the edge table: one key is an edge endpoint.
    */
  private def edgeKeyedJoins(plans: Seq[String], kind: String): Seq[String] = {
    val join = (kind + """ \[([^\]]*)\], \[([^\]]*)\]""").r
    plans.flatMap(join.findAllMatchIn(_)).map(_.matched)
      .filter(j => """\b(src|dst)#""".r.findFirstIn(j).isDefined)
  }

  // The gather joins stream the persisted edge table against the iterate;
  // their shuffle_hash state-side hint is what keeps a stats-less iterate
  // from re-sorting the edge table every step. (The vertex-keyed joins —
  // keep-alive, dangling probe, HITS' auth ⋈ hub — carry no hint and are
  // out of scope here.)
  test("the ported chains gather by shuffled hash with broadcast joins disabled") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try {
      val sym = GraphOps.prepareForGather(edgesDf(undirected(Fixtures.karatePairs)), 4)
      val directed = edgesDf(Fixtures.karatePairs)
      // control: an unhinted gather against a stats-less state table does
      // plan a sort-merge join here, so the check below can fail
      val state = sym.select(col("src").as("id")).distinct().localCheckpoint(eager = true)
      val control = executedPlans { sym.join(state, sym("dst") === state("id")).count() }
      assert(edgeKeyedJoins(control, "SortMergeJoin").nonEmpty, control.mkString("\n---\n"))

      val chains: Seq[(String, () => DataFrame)] = Seq(
        "PageRank.runFixed symmetric" ->
          (() => PageRank.runFixed(sym, 3, partitions = 4, symmetric = true)),
        "PageRank.runFixed directed" ->
          (() => PageRank.runFixed(directed, 3, partitions = 4)),
        "Spectral.katzFixed" -> (() => Spectral.katzFixed(sym, 3, partitions = 4)),
        "Hits.runFixed" -> (() => Hits.runFixed(directed, 3, partitions = 4)),
        "LabelPropagation.runFixed" ->
          (() => LabelPropagation.runFixed(sym, 3, symmetric = true)))
      chains.foreach { case (name, run) =>
        val plans = executedPlans { run().collect() }
        assert(edgeKeyedJoins(plans, "ShuffledHashJoin").nonEmpty,
          s"$name: no shuffled-hash gather captured")
        val smj = edgeKeyedJoins(plans, "SortMergeJoin")
        assert(smj.isEmpty, s"$name gathers by sort-merge join: ${smj.mkString("; ")}")
      }
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
