package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.algo.{Betweenness, BowTie, Centrality, Hits, Influence, KCore, LabelPropagation,
  LabelSpreading, Louvain, Matching, Mis, PageRank, RandomWalks, Redirects, ShortestPaths,
  SpanningForest, Spectral, StronglyConnected, Truss, WlRefinement}
import graft.engine.{Checkpointer, Superstep}
import graft.functions.Similarity
import graft.graph.{GraphOps, Partition}

import scala.jdk.CollectionConverters._

/** The two drivers of `engine/Superstep`: the fixed-step driver
  * [[Superstep.fixed]] and the convergence driver [[Superstep.converge]]
  * — their persist / truncate / release policies, the actions each round
  * costs, and the plan shape of the loops that run on them — plus the
  * argument contracts of [[Superstep.run]].
  */
class SuperstepDriverSpec extends GraftSuite {

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
  private def withoutBroadcastJoins(body: => Unit): Unit = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try body
    finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("the ported chains gather by shuffled hash with broadcast joins disabled") {
    withoutBroadcastJoins {
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
    }
  }

  // ---- the convergence driver ----

  private def weighted(triples: Seq[(Long, Long, Long)]): DataFrame = {
    import spark.implicits._
    triples.toDF("src", "dst", "weight")
  }

  private def sources(ids: Long*): DataFrame = {
    import spark.implicits._
    ids.toDF("id")
  }

  /** Karate with small repeating weights, so Borůvka breaks ties. */
  private def weightedKarate: DataFrame =
    weighted(Fixtures.karatePairs.map { case (a, b) => (a, b, (a * 7 + b) % 5) })

  private def condensed(pairs: Seq[(Long, Long)]): DataFrame =
    edgesDf(pairs).toDF("csrc", "cdst")

  /** 4→3→2→1: every vertex is its own SCC, and each outer round peels
    * the current head.
    */
  private val reversePath: Seq[(Long, Long)] = Seq((4L, 3L), (3L, 2L), (2L, 1L))

  /** n→n−1→…→1 with 1..n−2 also linking to the head n: one SCC, found
    * in one outer round whose backward BFS takes three steps whatever n
    * is, while the head's color needs n color rounds to reach vertex 1
    * (n − 1 changing rounds and a stable one).
    */
  private def headPath(n: Long): Seq[(Long, Long)] =
    (2L to n).map(i => (i, i - 1)) ++ (1L until n - 1).map(i => (i, n))

  /** 1→2→…→n: levels 0..n−1, n − 1 changing rounds and a stable one. */
  private def chain(n: Long): Seq[(Long, Long)] = (1L until n).map(i => (i, i + 1))

  /** 1→2→…→n at unit weight: one more vertex reached per round, n
    * rounds.
    */
  private def unitPath(n: Long): DataFrame =
    weighted((1L until n).map(i => (i, i + 1, 1L)))

  /** 1→2→3→4 at unit weight plus the shortcut 1→4 at weight 10: round 1
    * reaches 2 and 4 (at 10), round 2 reaches 3, round 3 improves 4 to 3,
    * round 4 changes nothing.
    */
  private val weightedPath: Seq[(Long, Long, Long)] =
    Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L), (1L, 4L, 10L))

  /** Peel rounds the k-core of `pairs` takes, counting the stable round —
    * an imperative replay of the degree filter.
    */
  private def peelRounds(pairs: Seq[(Long, Long)], k: Int): Int = {
    val adj = undirected(pairs).groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    var alive = adj.keySet
    var rounds = 0
    var stable = false
    while (!stable && alive.nonEmpty) {
      rounds += 1
      val next = alive.filter(v => adj(v).count(alive) >= k)
      stable = next == alive
      alive = next
    }
    rounds
  }

  /** Peel rounds the k-truss of `pairs` takes, counting the stable round
    * — an imperative replay of the support filter — and the truss.
    */
  private def trussRounds(pairs: Seq[(Long, Long)], k: Int): (Int, Set[(Long, Long)]) = {
    var alive = undirected(pairs).filter(p => p._1 < p._2).toSet
    var rounds = 0
    var stable = false
    while (!stable) {
      rounds += 1
      val adj = alive.toSeq.flatMap(p => Seq(p, p.swap)).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
      val next = alive.filter { case (a, b) => (adj(a) & adj(b)).size >= k - 2 }
      stable = next == alive
      alive = next
    }
    (rounds, alive)
  }

  private def edgeSet(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("the ported loops run their known round counts") {
    val karate = edgesDf(Fixtures.karatePairs)
    assert(StronglyConnected.run(edgesDf(reversePath))._2 === 4)
    val (core, rounds, converged) = KCore.kCore(karate, 4L)
    assert(rounds === peelRounds(Fixtures.karatePairs, 4) && converged)
    assert(core.count() === 10L)
    val (dist, relaxRounds, relaxed) = ShortestPaths.run(weighted(weightedPath), sources(1L))
    assert(relaxRounds === 4 && relaxed)
    assert(labelsMap(dist) === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
    assert(labelsMap(StronglyConnected.dagLevels(condensed(chain(5)))) ===
      (1L to 5L).map(i => i -> (i - 1)).toMap)
    // kTruss requires convergence, so the round cap pins the round count
    val (peels, truss) = trussRounds(Fixtures.karatePairs, 4)
    assert(peels === 3)
    assert(edgeSet(Truss.kTruss(karate, 4, maxRounds = peels)) === truss)
    intercept[IllegalArgumentException](Truss.kTruss(karate, 4, maxRounds = peels - 1))
    // an empty truss stops on the round that empties it: the replay's
    // last round starts from no edges, and the driver does not run it
    val (emptyPeels, none) = trussRounds(Fixtures.karatePairs, 6)
    assert(emptyPeels === 3 && none.isEmpty)
    assert(Truss.kTruss(karate, 6, maxRounds = emptyPeels - 1).count() === 0L)
    // the fixed-schedule loops: the 2-core of a 10-vertex path loses both
    // ends per round, a unit path one more reached vertex per round, a
    // walk one step, a pointer jump doubles its span, and MIS decides a
    // single edge in one round
    val path10 = edgesDf(chain(10))
    val unitWeights = weighted(undirected(chain(10)).map { case (a, b) => (a, b, 1L) })
    assert(KCore.peelFixed(path10, 2L, rounds = 3).count() === 4L)
    assert(KCore.weightedCoreFixed(unitWeights, 2L, rounds = 3).count() === 4L)
    assert(ShortestPaths.runFixed(unitPath(10), sources(1L), rounds = 3).count() === 4L)
    assert(ShortestPaths.runFixedPerSource(unitPath(10), sources(1L, 2L), rounds = 3)
      .count() === 8L)
    assert(ShortestPaths.earliestArrival(unitPath(10).withColumnRenamed("weight", "t"),
      sources(1L), rounds = 3).count() === 4L)
    val symPath = edgesDf(undirected(chain(10)))
    assert(RandomWalks.walks(symPath, sources(1L), 4).agg(max("step")).first().getLong(0) === 4L)
    assert(RandomWalks.walksBiased(symPath, sources(1L), 4).count() === 5L)
    assert(RandomWalks.walksWeighted(unitWeights, sources(1L), 4).count() === 5L)
    // 1→…→9 needs 8 steps: two doublings take 4, three resolve it
    val redirects = edgesDf(chain(9))
    val resolved = (d: Int) => Redirects.resolve(redirects, doublings = d)
      .filter(col("id") === 1L).select(col("target")).first().getLong(0)
    assert(resolved(2) === 5L && resolved(3) === 9L)
    val edge = edgesDf(undirected(Seq((1L, 2L))))
    val undecided = (df: DataFrame) => df.filter(col("status") === "und").count()
    assert(undecided(Mis.misFixed(edge, 7L, 0)) === 2L)
    assert(undecided(Mis.misFixed(edge, 7L, 1)) === 0L)
    assert(undecided(Mis.mis(edge, 7L)) === 0L)
  }

  // A round's one action is its eager truncation, which observes the
  // probe: one result job. A separate probe query would be a second
  // result job every round. Each loop runs twice with the same setup and
  // a known difference in rounds, with broadcast joins off; the bound
  // leaves room for the odd job AQE adds at run time (a run of the whole
  // suite measured one extra in 4 SSSP rounds), not for a second result
  // job per round.
  test("a convergence round costs one action: fewer than two result jobs per round") {
    withoutBroadcastJoins {
      val symKarate = edgesDf(undirected(Fixtures.karatePairs))
      // (name, run on input size n, two sizes, the rounds they differ by)
      val loops: Seq[(String, Long => Unit, (Long, Long), Int)] = Seq(
        ("StronglyConnected.run", n => StronglyConnected.run(edgesDf(headPath(n))),
          (4L, 8L), 4),
        ("StronglyConnected.dagLevels",
          n => StronglyConnected.dagLevels(condensed(chain(n))), (5L, 9L), 4),
        // the 2-core of a path peels both ends each round: 2 and 6 rounds
        ("KCore.kCore", n => KCore.kCore(edgesDf(chain(n)), 2L), (4L, 12L), 4),
        ("ShortestPaths.run", n => ShortestPaths.run(unitPath(n), sources(1L)),
          (4L, 8L), 4),
        ("PageRank.run", n => PageRank.run(symKarate, eps = 0.0, maxIter = n.toInt,
          partitions = 4, autoSkew = false), (3L, 7L), 4),
        // a BFS from the head of a path reaches one vertex per round
        ("GraphOps.reachableFrom",
          n => GraphOps.reachableFrom(edgesDf(chain(n)), sources(1L)), (4L, 8L), 4),
        ("Betweenness.bfsLevels",
          n => Betweenness.bfsLevels(edgesDf(chain(n)), sources(1L)), (4L, 8L), 4))
      loops.foreach { case (name, run, (a, b), extraRounds) =>
        val small = countActions(run(a))
        val large = countActions(run(b))
        val grown = large.resultJobs - small.resultJobs
        assert(grown >= extraRounds && grown < 2 * extraRounds,
          s"$name: $small at size $a, $large at size $b")
      }
    }
  }

  /** LT threshold numerator 1 for every karate vertex. */
  private def ltThresholds: DataFrame = {
    import spark.implicits._
    (1L to 34L).map(_ -> 1L).toDF("id", "tnum")
  }

  private def classSeeds: DataFrame = {
    import spark.implicits._
    Seq((1L, 0L), (34L, 1L)).toDF("id", "cls")
  }

  private def vectors: DataFrame = {
    import spark.implicits._
    def pad(xs: Float*): Seq[Float] = xs ++ Seq.fill(64 - xs.length)(0.0f)
    Seq((0L, pad(1f, 0f, 0f)), (1L, pad(0.95f, 0.31f, 0f)), (2L, pad(0.9f, 0.3f, 0.1f)),
      (3L, pad(0.8f, 0f, 0.6f))).toDF("vec_id", "embedding")
  }

  test("every ported loop leaves the cache as it found it") {
    val karate = edgesDf(Fixtures.karatePairs)
    val sym = edgesDf(undirected(Fixtures.karatePairs))
    val symWeighted = weighted(undirected(Fixtures.karatePairs).map { case (a, b) =>
      (a, b, (a * b) % 5 + 1) })
    val runs: Seq[(String, () => Unit)] = Seq(
      "PageRank.run" -> (() => PageRank.run(karate, maxIter = 5, partitions = 4)),
      "StronglyConnected.run" -> (() => StronglyConnected.run(edgesDf(reversePath))),
      "StronglyConnected.dagLevels" -> (() => StronglyConnected.dagLevels(condensed(chain(5)))),
      "SpanningForest.boruvka" -> (() => SpanningForest.boruvka(weightedKarate)),
      "KCore.kCore" -> (() => KCore.kCore(karate, 4L)),
      "KCore.coreness" -> (() => KCore.coreness(karate)),
      "ShortestPaths.run" -> (() => ShortestPaths.run(weighted(weightedPath), sources(1L))),
      "Influence.voteRank" -> (() => Influence.voteRank(sym, 3)),
      "Influence.ltCascade" -> (() => Influence.ltCascade(sym, sources(1L),
        ltThresholds, tden = 4, rounds = 3)),
      "Influence.icCascade" -> (() => Influence.icCascade(sym, sources(1L),
        permille = 600, rounds = 3)),
      "WlRefinement.refine" -> (() => WlRefinement.refine(sym, 2)),
      "LabelSpreading.run" -> (() => LabelSpreading.run(sym, classSeeds, 0.5, 3)),
      "Partition.balancedLp" -> (() => Partition.balancedLp(sym, k = 4, iters = 2)),
      "StronglyConnected.dagPathCounts" ->
        (() => StronglyConnected.dagPathCounts(condensed(chain(5)), rounds = 3)),
      "Matching.greedyRounds" -> (() => Matching.greedyRounds(sym, 3, seed = 7L)),
      "Matching.greedyRoundsWeighted" ->
        (() => Matching.greedyRoundsWeighted(symWeighted, 3, seed = 7L)),
      "Similarity.mmrSelect" -> (() => Similarity.mmrSelect(vectors, cand = 3, k = 3)),
      "Truss.peelFixed" -> (() => Truss.peelFixed(karate, 4, rounds = 2)),
      "Truss.trussnessFixed" -> (() => Truss.trussnessFixed(karate, maxK = 5, roundsPerK = 2)),
      "Truss.kTruss" -> (() => Truss.kTruss(karate, 4)),
      "Centrality.neighborhoodFunctionApprox" ->
        (() => Centrality.neighborhoodFunctionApprox(sym, maxDepth = 4)),
      "GraphOps.reachableFrom" -> (() => GraphOps.reachableFrom(karate, sources(1L))),
      "Betweenness.bfsLevels" -> (() => Betweenness.bfsLevels(sym, sources(1L, 34L))),
      "Betweenness.bfsParents" -> (() => Betweenness.bfsParents(sym, sources(1L, 34L))),
      "Betweenness.run" -> (() => Betweenness.run(sym, sources(1L, 34L))),
      "Betweenness.runEdges" -> (() => Betweenness.runEdges(sym, sources(1L, 34L))),
      "BowTie.classify" -> (() => BowTie.classify(karate)),
      "KCore.peelFixed" -> (() => KCore.peelFixed(karate, 4L, rounds = 2)),
      "KCore.weightedCoreFixed" -> (() => KCore.weightedCoreFixed(symWeighted, 6L, rounds = 2)),
      "ShortestPaths.runFixed" ->
        (() => ShortestPaths.runFixed(weighted(weightedPath), sources(1L), rounds = 2)),
      "ShortestPaths.runFixedPerSource" -> (() =>
        ShortestPaths.runFixedPerSource(weighted(weightedPath), sources(1L, 2L), rounds = 2)),
      "ShortestPaths.earliestArrival" -> (() => ShortestPaths.earliestArrival(
        weighted(weightedPath).withColumnRenamed("weight", "t"), sources(1L), rounds = 2)),
      "RandomWalks.walks" -> (() => RandomWalks.walks(sym, sources(1L, 34L), 3)),
      "RandomWalks.walksBiased" -> (() => RandomWalks.walksBiased(sym, sources(1L, 34L), 3)),
      "RandomWalks.walksWeighted" ->
        (() => RandomWalks.walksWeighted(symWeighted, sources(1L, 34L), 3)),
      "Louvain.moveFixed" -> (() => Louvain.moveFixed(symWeighted, 2)),
      "Redirects.resolve" -> (() => Redirects.resolve(edgesDf(chain(9)), doublings = 2)),
      "Mis.misFixed" -> (() => Mis.misFixed(sym, 7L, 2)),
      "Mis.mis" -> (() => Mis.mis(sym, 7L)))
    runs.foreach { case (name, run) =>
      val before = cacheEntries()
      run()
      assert(cacheEntries() === before, s"$name")
    }
  }

  test("coreness requires every level to converge") {
    val path = edgesDf(Seq((1L, 2L), (2L, 3L), (3L, 4L)))
    // the 2-core of the path needs two peel rounds
    intercept[IllegalArgumentException](KCore.coreness(path, maxRoundsPerK = 1))
    assert(labelsMap(KCore.coreness(path)) === (1L to 4L).map(_ -> 1L).toMap)
  }

  test("kTruss requires convergence") {
    // the 4-truss of karate needs three peel rounds
    intercept[IllegalArgumentException](
      Truss.kTruss(edgesDf(Fixtures.karatePairs), 4, maxRounds = 1))
  }

  /** One round of a step that joins its state with a function of itself. */
  private def selfJoin(prev: DataFrame, step: Int): DataFrame =
    prev.join(prev.select(col("id"), (col("x") + 1).as("y")), "id")
      .select(col("id"), col("y").as("x"))

  /** `lastRound` [[selfJoin]] rounds on the convergence driver; the probe
    * never stops the run.
    */
  private def selfJoinRounds(lastRound: Int): DataFrame =
    Superstep.converge("selfjoin", init, lastRound)(selfJoin)(
      Superstep.Observe(_ => Nil), (_, row) =>
        Superstep.Verdict(row.getLong(0), 0L, stop = false)).labels

  test("every truncation keeps real statistics") {
    val size = (df: DataFrame) => df.queryExecution.optimizedPlan.stats.sizeInBytes
    // control: a bare eager checkpoint copies the step's estimate, which
    // squares every round
    val bare = (1 to 6).foldLeft(init)((s, i) => selfJoin(s, i).localCheckpoint(eager = true))
    assert(size(bare) > (BigInt(1) << 64), s"bare estimate ${size(bare)}")
    // variable-width states: 1,000-byte binaries (Catalyst's default is
    // 100) and arrays of 100 doubles (the default is one element)
    val blobs = init.select(col("id"), unhex(repeat(lit("ab"), 1000)).as("b"))
    val vectors = init.select(col("id"), array_repeat(lit(0.5), 100).as("v"))
    val touch = (df: DataFrame, _: Int) => df.select(col("*"))
    // rows × (8 bytes of row overhead + 8 per long column + the observed
    // average length of a variable-width column)
    val truncated: Seq[(String, DataFrame, Int)] = Seq(
      ("a convergence round", selfJoinRounds(6), 24),
      ("a read-more fixed step", Superstep.fixed(init, 6, readsPrevOnce = false)(selfJoin), 24),
      ("KCore.peelFixed", KCore.peelFixed(edgesDf(Fixtures.karatePairs), 4L, rounds = 2), 16),
      ("a binary state", Superstep.fixed(blobs, 2, readsPrevOnce = false)(touch), 16 + 1000),
      ("an array state", Superstep.fixed(vectors, 2, readsPrevOnce = false)(touch), 16 + 800))
    truncated.foreach { case (name, df, width) =>
      assert(size(df) === BigInt(df.count() * width), name)
    }
    assert(truncated.head._2.agg(min("x"), max("x")).first() === Row(6L, 6L))
    // the binary state's estimate covers the bytes it holds
    val blobState = truncated(3)._2
    assert(size(blobState) >= BigInt(blobState.agg(sum(octet_length(col("b")))).first().getLong(0)))
  }

  test("the observed scalars equal an aggregate over the same state") {
    val karate = edgesDf(undirected(Fixtures.karatePairs))
    val e = karate.persist(StorageLevel.MEMORY_AND_DISK)
    val w = weighted(weightedPath)
      .select(col("src"), col("dst"), col("weight").as("w"))
    // (name, init, step, probe columns): the kCore, SSSP and SCC color
    // rounds, with the probes those loops observe
    val loops: Seq[(String, DataFrame, (DataFrame, Int) => DataFrame, Seq[Column])] = Seq(
      ("kCore", GraphOps.vertices(e), (alive, _) =>
        e.join(alive.select(col("id").as("src")), "src")
          .join(alive.select(col("id").as("dst")), "dst")
          .groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= 4).select(col("id")),
        Nil),
      ("SSSP", sources(1L).select(col("id"), lit(0L).as("dist")), (d, _) => {
        val next = ShortestPaths.relaxOnce(w, d.select(col("id"), col("dist")))
        next.join(d.select(col("id"), col("dist").as("old")), Seq("id"), "left")
          .select(col("id"), col("dist"),
            (col("old").isNull || col("dist") < col("old")).as("improved"))
      }, Seq(count_if(col("improved")))),
      ("SCC color", GraphOps.vertices(e).select(col("id"), col("id").as("color")), (c, _) =>
        e.join(c.select(col("id").as("src"), col("color")), "src")
          .select(col("dst").as("id"), col("color"), lit(null).cast("long").as("own"))
          .union(c.select(col("id"), col("color"), col("color").as("own")))
          .groupBy("id").agg(max(col("color")).as("color"), max(col("own")).as("prev")),
        Seq(count_if(col("color") =!= col("prev")), max(col("color")))))
    loops.foreach { case (name, init, step, scalars) =>
      val states = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      val rows = scala.collection.mutable.ArrayBuffer.empty[Row]
      val res = Superstep.converge(name, init, 4) { (prev, i) =>
        if (i > 1) states += prev
        step(prev, i)
      }(Superstep.Observe(_ => scalars), (_, row) => {
        rows += row
        Superstep.Verdict(0L, 0L, stop = false)
      })
      states += res.labels
      assert(rows.size === 4, name)
      // the row count leads the probe's columns
      rows.zip(states).foreach { case (row, state) =>
        assert(row === state.agg(count(lit(1)), scalars: _*).first(), name)
      }
    }
    e.unpersist(blocking = true)
  }
  test("a frontier BFS state's size estimate grows by one edge-join factor per round") {
    // 40 rounds on a 41-vertex path, the depth cap; the estimate was
    // measured at 106 digits, and squaring would double them per round
    val levels = Betweenness.bfsLevels(edgesDf(chain(41)), sources(1L))
    val size = levels.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(size.toString.length < 212, s"estimated size has ${size.toString.length} digits")
    assert(levels.agg(max("dist")).first().getLong(0) === 40L)
  }

  test("an observed round costs one eager truncation") {
    val run = (rounds: Int) => countActions(Superstep.converge("plusone", init, rounds)(
      plusOne)(Superstep.Observe(_ => Nil),
      (_, row) => Superstep.Verdict(row.getLong(0), 0L, stop = false)))
    val (small, large) = (run(2), run(6))
    assert(large.resultJobs - small.resultJobs === 4 * 1, s"$small in 2 rounds, $large in 6")
  }

  test("durable checkpoints land on the cadence rounds and metrics list every round once") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cadence").toString
    val cp = new Checkpointer(dir, spark)
    val res = LabelPropagation.run(edgesDf(undirected(Fixtures.karatePairs)), 34L,
      checkpointer = Some(cp), checkpointEvery = 2, symmetric = true)
    assert(res.iterations >= 2, s"${res.iterations} rounds")
    val snaps = new java.io.File(s"$dir/lp/labels").list().toSeq
      .map(_.stripPrefix("iter=").toInt).sorted
    assert(snaps === (2 to res.iterations by 2))
    assert(cp.readMetrics("lp").map(_.iteration) === (1 to res.iterations))
  }

  /** `kind` joins on `key` alone, Inner — the shape of a probe's
    * next ⋈ prev join.
    */
  private def keyJoins(plans: Seq[String], kind: String, key: String): Seq[String] =
    plans.flatMap(s"$kind \\[$key#\\d+L?\\], \\[$key#\\d+L?\\], Inner".r.findAllIn(_))

  // A probe plan is the only plan that reads the renamed previous state.
  private def probePlans(plans: Seq[String]): Seq[String] =
    plans.filter(_.contains("labelAnt#"))

  test("the convergence probes hash-build prev with broadcast joins disabled") {
    withoutBroadcastJoins {
      val sym = GraphOps.prepareForGather(edgesDf(undirected(Fixtures.karatePairs)), 4)
      // (name, run, state key): the two loops whose probe is a query over
      // next ⋈ prev; every other convergence loop observes its probe over
      // next alone and joins nothing
      val loops: Seq[(String, () => Unit, String)] = Seq(
        ("LabelPropagation.run", () => LabelPropagation.run(sym, 34L, symmetric = true),
          "id"),
        ("ConnectedComponents.run",
          () => graft.algo.ConnectedComponents.run(sym, 34L), "id"))
      loops.foreach { case (name, run, key) =>
        val plans = executedPlans(run())
        assert(keyJoins(probePlans(plans), "ShuffledHashJoin", key).nonEmpty,
          s"$name: no shuffled-hash probe captured")
        val smj = keyJoins(probePlans(plans), "SortMergeJoin", key)
        assert(smj.isEmpty, s"$name probes by sort-merge join: ${smj.mkString("; ")}")
      }
    }
  }

  test("SCC's sccs join plans a broadcast under default settings") {
    // the reached set carries its real row count, so the join of it with
    // the colors broadcasts from the start; the plan of the sccs state is
    // the one that names the root column
    val plans = executedPlans(StronglyConnected.run(edgesDf(headPath(6))))
      .filter(_.contains(" AS root#"))
    assert(plans.nonEmpty, "no sccs plan captured")
    plans.foreach { p =>
      val initial = p.substring(p.indexOf("== Initial Plan =="))
      assert(initial.contains("BroadcastHashJoin"), p)
    }
  }

  test("no eager checkpoint is taken outside the engine") {
    // Materialize.eager is the one eager truncation: a bare eager
    // checkpoint copies the plan's size estimate, which compounds
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.startsWith(root.resolve("engine"))).toSeq
    assert(files.size > 50, s"only ${files.size} sources under $root")
    val sites = files.flatMap { f =>
      scala.io.Source.fromFile(f.toFile, "UTF-8").getLines().zipWithIndex
        .collect { case (line, i) if line.contains("localCheckpoint(eager = true)") =>
          s"$f:${i + 1}" }
    }
    assert(sites.isEmpty, sites.mkString("\n"))
  }
}
