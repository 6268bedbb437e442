package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count-min sketch over term occurrences (Cormode–Muthukrishnan): the
  * classic sublinear heavy-hitter counter a streaming/100 TB pipeline
  * keeps instead of the full term-count table. Depth [[Depth]] rows ×
  * `width` buckets; bucket_r(t) = md5Uniform("r:" ++ t) mod width, so the
  * whole sketch is deterministic and the driver gate replays it bit-exact
  * in ANSI SQL (no seeded native hashing).
  *
  *   est(t) = min_r sketch[r][bucket_r(t)]   (≥ exact, the CMS guarantee)
  *
  * Plan: ONE corpus-wide term-count hash aggregation (the expensive pass,
  * map-side combined), then [[Depth]] width-bounded re-aggregations of
  * that table — the sketch build never touches the corpus again. The
  * sketch itself is 3·width rows: broadcast-sized by construction, which
  * is the whole point at scale.
  */
object Sketch {

  val Depth = 3

  /** Deterministic bucket of `term` in row `row`. */
  def bucket(row: Int, term: Column, width: Int): Column =
    TextIndex.md5Uniform(concat(lit(s"$row:"), term)) % width

  /** Exact per-term occurrence counts (the one corpus-sized pass). */
  private def termCounts(docs: DataFrame): DataFrame =
    docs.select(explode(TextIndex.termsCol).as("term"))
      .groupBy("term").agg(count(lit(1)).as("exact_n"))

  /** The sketch of the term counts `tc`: (row, bucket, n) — Depth ×
    * width cells, absent cells implicitly 0.
    */
  private def countMin(tc: DataFrame, width: Int): DataFrame =
    (0 until Depth).map { r =>
      tc.groupBy(bucket(r, col("term"), width).as("bucket"))
        .agg(sum(col("exact_n")).cast("long").as("n"))
        .select(lit(r).as("row"), col("bucket"), col("n"))
    }.reduce(_ union _)

  /** CMS estimates next to exact counts for the `k` heaviest terms
    * (exact count desc, term asc): (term, exact_n, est_n). The sketch
    * side of each probe join is Depth × width rows — broadcast.
    */
  def cmsTopK(docs: DataFrame, width: Int, k: Int): DataFrame = {
    require(width >= 1 && k >= 1)
    val tc = termCounts(docs).persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sk = countMin(tc, width)
    var out = tc.orderBy(col("exact_n").desc, col("term").asc).limit(k)
    for (r <- 0 until Depth)
      out = out.join(
        broadcast(sk.filter(col("row") === r)
          .select(col("bucket").as(s"b$r"), col("n").as(s"c$r"))),
        bucket(r, col("term"), width) === col(s"b$r"))
    out.select(col("term"), col("exact_n"),
      least(col("c0"), col("c1"), col("c2")).as("est_n"))
  }
}
