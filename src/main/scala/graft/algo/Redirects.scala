package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.{Materialize, Superstep}

/** Redirect-chain resolution — the crawl-canonicalization step that maps
  * every redirecting URL to its final landing page before link-graph
  * construction (HTTP 3xx chains, canonical tags).
  *
  * Input is a FUNCTIONAL edge table (at most one `dst` per `src` — the
  * caller dedups conflicting redirects first). Chains are followed by
  * POINTER DOUBLING: after k rounds every source has taken 2^k steps,
  * absorbing at terminals (pages that do not redirect), so a chain of
  * length L resolves in ceil(log2 L) self-joins of a VERTEX-sized table —
  * never a per-step scan of the edge table, which is what makes this the
  * 100 TB shape (a 4-billion-URL redirect table with chains up to 2^16
  * long costs 16 joins, not 65536). Redirect cycles never absorb and are
  * reported `resolved = false` rather than looping forever.
  */
object Redirects {

  /** Resolve every redirect source through up to 2^doublings steps.
    *
    * @return (id, target, resolved) for each `src` of the input: `target`
    *         is the node reached after 2^doublings steps (stationary at
    *         terminals), `resolved` is true iff it no longer redirects —
    *         false means a cycle or a chain longer than 2^doublings.
    */
  def resolve(redirects: DataFrame, doublings: Int = 16): DataFrame = {
    require(doublings >= 1 && doublings <= 62)
    val f = redirects.select(col("src"), col("dst"))
    // ptr after round k maps each redirect source to f*^(2^k) of it,
    // where f* extends f with the identity on terminals; composing ptr
    // with itself squares the step count. Each round references the
    // current table twice.
    val ptr = Superstep.fixed(
        Materialize.eager(f.select(col("src").as("id"), col("dst").as("cur"))).state,
        doublings, readsPrevOnce = false) { (ptr, _) =>
      val hop = ptr.select(col("id").as("hid"), col("cur").as("hcur"))
      ptr.join(hop, col("cur") === col("hid"), "left")
        .select(col("id"), coalesce(col("hcur"), col("cur")).as("cur"))
    }
    val srcs = f.select(col("src").as("s")).distinct()
    ptr.join(srcs, col("cur") === col("s"), "left")
      .select(col("id"), col("cur").as("target"), col("s").isNull.as("resolved"))
  }
}
