package graft

import graft.sources.{GraphReaders, PagesSynth, TextExtract}
import graft.graph.GraphOps
import org.apache.spark.sql.functions._
import java.nio.file.Files

class ExtractSpec extends GraftSuite {
  import spark.implicits._

  test("per-row invariant: generator text == extracted text, byte-identical (n=300)") {
    val pages = PagesSynth.pages(spark, 300)
    val diff = pages
      .withColumn("extracted", TextExtract.extractText(col("html")))
      .filter(col("extracted") =!= col("text"))
    assert(diff.count() === 0L)
  }

  test("extraction is parallelism-invariant (sha256 per url at 1 vs 8 partitions)") {
    val pages = PagesSynth.pages(spark, 200)
    def hashes(parts: Int): Map[String, String] =
      pages.repartition(parts)
        .select(col("url"), sha2(TextExtract.extractText(col("html")), 256).as("h"))
        .as[(String, String)].collect().toMap
    assert(hashes(1) === hashes(8))
  }

  test("outlink extraction finds every anchor, in document order") {
    val html = """<html><body><a href="https://a.example/x">1</a>
                 |<p>t</p><a href="https://b.example/y#frag">2</a></body></html>"""
      .stripMargin.getBytes("UTF-8")
    val links = Seq(html).toDF("html")
      .select(TextExtract.extractOutlinks(col("html")).as("l"))
      .as[Seq[String]].head()
    assert(links === Seq("https://a.example/x", "https://b.example/y#frag"))
  }

  test("url normalization: lowercase scheme+host, strip fragment") {
    val got = Seq("HTTPS://Host3.Example/p/7#sec", "https://h.example/p/1")
      .toDF("u").select(TextExtract.normalizeUrl(col("u"))).as[String].collect()
    assert(got(0) === "https://host3.example/p/7")
    assert(got(1) === "https://h.example/p/1")
  }

  test("edge build: every page links 3..8 targets; ids resolve through dictionary") {
    val pages = PagesSynth.pages(spark, 100)
    val (edges, dict) = TextExtract.buildEdges(pages)
    val n = pages.count()
    val e = edges.count()
    assert(e >= 3 * n && e <= 8 * n)
    // every edge endpoint exists in the dictionary id range
    val maxId = dict.agg(max("id")).as[Long].head()
    assert(GraphOps.vertices(edges).agg(max("id")).as[Long].head() <= maxId)
    // deterministic: same build twice is identical
    val (edges2, _) = TextExtract.buildEdges(pages)
    assert(edges.except(edges2).count() === 0L && edges2.except(edges).count() === 0L)
  }

  test("link targets are power-law skewed (page 0 is hot)") {
    val pages = PagesSynth.pages(spark, 2000)
    val (edges, dict) = TextExtract.buildEdges(pages)
    val indeg = edges.groupBy("dst").count()
    val top = indeg.agg(max("count")).as[Long].head()
    val mean = indeg.agg(avg("count")).first().getDouble(0)
    assert(top > 20 * mean, s"expected heavy skew, top=$top avg=$mean")
  }
}

class ReadersSpec extends GraftSuite {
  import spark.implicits._

  private def tmpFile(content: String, suffix: String): String = {
    val f = Files.createTempFile("graft", suffix)
    Files.writeString(f, content)
    f.toString
  }

  test("edge-list txt: comments skipped, tabs split, undirected doubles slots") {
    val path = tmpFile(
      "# Undirected graph\n# FromNodeId\tToNodeId\n1\t2\n1\t3\n2\t3\n", ".txt")
    val (edges, dict) = GraphReaders.readEdgeListTxt(spark, path, directed = false)
    assert(edges.count() === 6L)
    val d = dict.as[(String, Long)].collect().toMap
    assert(d === Map("1" -> 0L, "2" -> 1L, "3" -> 2L))
  }

  test("edge-list txt directed keeps multi-edges (no dedup)") {
    val path = tmpFile("1\t2\n1\t2\n", ".txt")
    val (edges, _) = GraphReaders.readEdgeListTxt(spark, path, directed = true)
    assert(edges.count() === 2L)
  }

  test("pajek .net: header skipped, dedup'd, symmetrized") {
    val path = tmpFile(
      """*Vertices 4
        |1 "a" 0.0 0.0 0.0
        |2 "b" 0.0 0.0 0.0
        |3 "c" 0.0 0.0 0.0
        |4 "d" 0.0 0.0 0.0
        |*Edges
        |2 1 1.0
        |2 1 1.0
        |3 1 1.0
        |4 3 2.5
        |""".stripMargin, ".net")
    val (edges, _) = GraphReaders.readPajekNet(spark, path)
    assert(edges.count() === 6L) // 3 pairs × 2 directions, multi-edge dedup'd
    // parsed costs survive, symmetrized; ids: a=0,b=1,c=2,d=3
    val w = edges.as[(Long, Long, Float)].collect()
      .map { case (s, d, c) => (s, d) -> c }.toMap
    assert(w((3L, 2L)) === 2.5f && w((2L, 3L)) === 2.5f)
    assert(w((0L, 1L)) === 1.0f)
  }

  test("ground truth: first occurrence wins") {
    val gpath = tmpFile("# c\nb\t10\na\t10\nb\t20\n", ".txt")
    val epath = tmpFile("a\tb\n", ".txt")
    val (_, dict) = GraphReaders.readEdgeListTxt(spark, epath, directed = false)
    val gt = GraphReaders.readGroundTruth(spark, gpath, dict)
      .as[(Long, Long)].collect().toMap
    // a → id 0, b → id 1; both share ground-truth community "10" (b's 20 loses)
    assert(gt === Map(0L -> 0L, 1L -> 0L))
  }

  test("communities sink writes name\\tlabel rows") {
    val slots = undirected(Seq((1L, 2L)))
    val epath = tmpFile("x\ty\n", ".txt")
    val (_, dict) = GraphReaders.readEdgeListTxt(spark, epath, directed = false)
    val labels = Seq((0L, 0L), (1L, 0L)).toDF("id", "label")
    val out = Files.createTempDirectory("graftout").toString + "/comm"
    GraphReaders.writeCommunities(labels, dict, out)
    val back = spark.read.option("sep", "\t").csv(out).count()
    assert(back === 2L)
  }
}

class CheckpointResumeSpec extends GraftSuite {

  test("LP resumed from latest checkpoint equals uninterrupted run") {
    import graft.engine.{Checkpointer, Superstep}
    import graft.algo.LabelPropagation
    val slots = undirected(Fixtures.karatePairs)
    val edges = edgesDf(slots)
    val n = GraphOps.vertices(edges).count()

    val full = labelsMap(LabelPropagation.run(edges, n, earlyStop = false).labels)

    val dir = Files.createTempDirectory("graftckpt").toString
    val cp = new Checkpointer(dir, spark)
    // "killed" run: checkpoint every superstep, stop after 2
    LabelPropagation.run(edges, n, checkpointer = Some(cp), checkpointEvery = 1,
      maxIter = Some(2), earlyStop = false)
    val (it, snapshot) = cp.latest("lp").get
    assert(it === 2)
    // resume from the snapshot
    val resumed = Superstep.run("lp", snapshot,
      l => LabelPropagation.superstep(edges, l), n, earlyStop = false)
    assert(labelsMap(resumed.labels) === full)
    // lineage records exist for the checkpointed superstep, one per
    // partition of the written snapshot, and add up to the snapshot
    val lineage = spark.read.parquet(s"$dir/lp/lineage/iter=2")
    assert(lineage.count() > 0)
    import org.apache.spark.sql.functions.{col, sum}
    val totals = lineage.agg(sum(col("rowCount")), sum(col("labelSum"))).first()
    assert(totals.getLong(0) === snapshot.count())
    assert(totals.getLong(1) === snapshot.agg(sum(col("label"))).first().getLong(0))
  }

  test("superstep metrics are recorded each iteration") {
    import graft.algo.LabelPropagation
    val slots = undirected(Fixtures.twoCliquesBridge)
    val edges = edgesDf(slots)
    val n = GraphOps.vertices(edges).count()
    val res = LabelPropagation.run(edges, n, earlyStop = false)
    assert(res.metrics.size === res.iterations)
    assert(res.metrics.last.changes === 0L || res.converged)
    assert(res.metrics.forall(_.communities > 0))
  }
}
