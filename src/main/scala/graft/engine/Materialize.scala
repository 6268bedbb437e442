package graft.engine

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, Row}
import org.apache.spark.sql.functions.{count, lit}

/** The engine's one eager plan truncation: every state that a later plan
  * reads more than once, and every round of [[Superstep.converge]] but
  * LP/CC's, is cut here.
  *
  * One job: an eager `localCheckpoint` of `df.observe(count(*), scalars…)`
  * materializes the state, truncates its lineage (plans stay
  * constant-size across rounds) and computes the caller's one-row
  * aggregates in the same pass, read synchronously from the query's
  * observed metrics — a round's probe costs no action of its own.
  *
  * The checkpoint is then rebuilt with statistics from what was observed:
  * rows × the row width Catalyst itself estimates from the schema, with
  * the average length observed in the same pass in place of the default
  * size of each string, binary and array column
  * ([[GraftBridge.lengthSums]]; a 100-byte default would make a state of
  * kilobyte HLL sketches look small enough to broadcast). A bare
  * checkpoint copies the plan's size ESTIMATE instead, and a state that
  * joins a function of itself squares that estimate every round — the
  * digits double per round, until the optimizer stalls for minutes in
  * `BigInteger.multiply` on the next join (the round-4
  * `SizeInBytesOnlyStatsPlanVisitor` pathology). Real sizes also let
  * small states broadcast.
  *
  * Nothing is persisted, so nothing is left in the cache.
  */
object Materialize {

  /** A truncated state, its row count and the observed `scalars` row. */
  final case class Eager(state: DataFrame, rows: Long, scalars: Row)

  private val names = new AtomicLong

  def eager(df: DataFrame, scalars: Column*): Eager = {
    val name = s"graft_eager_${names.incrementAndGet()}"
    val lengths = GraftBridge.lengthSums(df)
    val observed = df.observe(name, count(lit(1)), lengths.map(_._2) ++ scalars: _*)
    val cut = observed.localCheckpoint(eager = true)
    val row = observed.queryExecution.observedMetrics(name).toSeq
    val rows = row.head.asInstanceOf[Long]
    val (bytes, rest) = row.tail.splitAt(lengths.size)
    Eager(GraftBridge.withStats(cut, rows,
      lengths.map(_._1).zip(bytes.map(_.asInstanceOf[Long]))), rows, Row.fromSeq(rest))
  }
}
