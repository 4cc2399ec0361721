package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The lineage-cut policy every iterative operator shares.
  *
  * A cut materializes an intermediate once, so every later reference reads
  * its blocks instead of re-running the producing subtree (Catalyst has no
  * common-subexpression reuse across separate DataFrame references) and the
  * plan of a loop stays O(1) deep. The cut is a reliable checkpoint when the
  * session has a checkpoint dir (local blocks die with their executor, and
  * recovery would replay the whole iteration chain) and an executor-local
  * checkpoint otherwise.
  */
object Lineage {

  /** Edge-count ceiling of the size-gated driver tiers (CC union-find,
    * PageRank power iteration, Bellman–Ford, BFS). Below it the edge list
    * is bounded driver state (about 16 MB at 1M edges, the same contract
    * as a broadcast-join side) and one collect beats O(rounds) shuffle
    * rounds whose cost is all fixed job overhead; above it the distributed
    * loop runs.
    */
  val DriverTierMaxEdges: Long = 1000000L

  private def reliable(df: DataFrame): Boolean =
    df.sparkSession.sparkContext.getCheckpointDir.isDefined

  /** Eager cut: materializes `df` now, in its own job. */
  def cut(df: DataFrame): DataFrame =
    if (reliable(df)) df.checkpoint() else df.localCheckpoint()

  /** Lazy cut plus a row count of `probe(cut)`, as ONE job: the count runs
    * on the probe's internal RDD, so it rides the checkpoint's own
    * materializing job (a `count()` over the lazy checkpoint would add an
    * aggregate-exchange job, and an eager cut followed by a scan pays two).
    */
  def cutCounted(df: DataFrame,
      probe: DataFrame => DataFrame = identity): (DataFrame, Long) = {
    val c = if (reliable(df)) df.checkpoint(eager = false)
      else df.localCheckpoint(eager = false)
    (c, probe(c).queryExecution.toRdd.count())
  }

  /** Frees a superseded local cut's blocks, which would otherwise stay
    * persisted for the rest of the session. A no-op on reliable cuts (those
    * are files). Call it only on frames no live result depends on.
    */
  def release(df: DataFrame): Unit =
    if (!reliable(df))
      df.queryExecution.logical.collectFirst { case lr: LogicalRDD => lr.rdd }
        .foreach(_.unpersist(blocking = false))
}
