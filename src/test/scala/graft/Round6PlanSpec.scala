package graft

/** Round-6 optimization plan-shape assertions (VERDICT r5 task 1): the
  * k-means++ seeding loop must never plan a global (empty-partitionBy)
  * window — the per-step argmax is a TakeOrderedAndProject and the
  * nearest-seed distance is carried, not recomputed.
  */
class Round6PlanSpec extends GraftSuite {
  import spark.implicits._

  test("kmeansppSeeds plans no window; argmax is TakeOrderedAndProject") {
    val v = (0L to 200L)
      .map(i => (i, Array.fill(8)(((i * 37 + 11) % 101).toFloat)))
      .toDF("vec_id", "embedding")
    val plans = executedPlans {
      graft.functions.Similarity.kmeansppSeeds(v, k = 4).collect()
    }
    assert(plans.nonEmpty, "listener captured no executions")
    val windowed = plans.filter(_.contains("Window"))
    assert(windowed.isEmpty,
      s"seeding must not plan any window exchange:\n${windowed.mkString("\n---\n")}")
    assert(plans.exists(_.contains("TakeOrderedAndProject")),
      s"per-step argmax must be TakeOrderedAndProject:\n${plans.mkString("\n---\n")}")
  }

  /** Identity-init fast path (round 6): skipping the init materialization
    * and folding iteration 1's convergence join must change NOTHING about
    * the result — labels, iteration count, and the per-iteration
    * changes/communities metrics all byte-equal the materialized path.
    */
  test("identityInit convergence fold matches the materialized join path") {
    import graft.algo.{ConnectedComponents, LabelPropagation}
    import graft.engine.Superstep
    import graft.graph.GraphOps
    val edges = GraphOps.prepareForGather(
      edgesDf(undirected(Fixtures.karatePairs)), 8)
    val n = GraphOps.vertices(edges).count()

    // LP: the public entry (identityInit on) vs a direct Superstep.run
    // with the default materialized init and the same step function
    val fast = LabelPropagation.run(edges, n, earlyStop = false,
      symmetric = true, autoSkew = false)
    val init = LabelPropagation.initLabels(GraphOps.verticesSymmetric(edges))
    var it = 0
    val slow = Superstep.run("lp", init, l => {
      it += 1
      LabelPropagation.superstep(edges, l, symmetric = true, packedArgmax = true)
    }, n, earlyStop = false)
    assert(fast.iterations == slow.iterations)
    assert(labelsMap(fast.labels) == labelsMap(slow.labels))
    assert(fast.metrics.map(m => (m.iteration, m.changes, m.communities)) ==
      slow.metrics.map(m => (m.iteration, m.changes, m.communities)))

    // CC: cold identity run vs a warm start seeded WITH the identity —
    // the warm path takes the materialized-init branch by construction
    val cold = ConnectedComponents.run(edges, n)
    val matInit = LabelPropagation.initLabels(GraphOps.vertices(edges))
    val warmIdentity = ConnectedComponents.run(edges, n,
      initLabels = Some(matInit))
    assert(labelsMap(cold.labels) == labelsMap(warmIdentity.labels))
    assert(cold.metrics.map(m => (m.changes, m.communities)) ==
      warmIdentity.metrics.map(m => (m.changes, m.communities)))
  }
}
