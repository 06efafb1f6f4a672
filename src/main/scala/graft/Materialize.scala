package graft

import org.apache.spark.sql.DataFrame

/** Materialization barrier for iterative/chained pipelines.
  *
  * `localCheckpoint(true)` snapshots the plan into a `LogicalRDD` that keeps
  * the origin plan's constraint expressions. When the origin plan joins a
  * previously checkpointed store (every microbatch of the document pipeline),
  * those constraints can reference attribute ids that are NOT in the
  * checkpoint's output; a later `Union` over such a frame then crashes in
  * Catalyst's constraint rewriting (`UnionBase.rewriteConstraints`:
  * `key not found: guid#N`). Creating the checkpoint with constraint
  * propagation disabled stores NO origin constraints — downstream plans stay
  * consistent, and nothing is lost across what is already a materialization
  * barrier.
  */
object Materialize {

  private val ConfKey = "spark.sql.constraintPropagation.enabled"

  /** Test hook: when set, accumulates the row count of every checkpointed
    * frame — lets specs assert that iterative cascades materialize
    * O(subtree) rows, never O(store) per level (cheap: counts the
    * already-materialized RDD). */
  @volatile var tally: Option[java.util.concurrent.atomic.AtomicLong] = None

  /** Eager local checkpoint whose LogicalRDD carries no origin constraints.
    * The conf flip is serialized (the flag is session-global): without the
    * lock, two concurrent checkpoints could interleave read/restore and
    * leave constraint propagation disabled for the whole session.
    *
    * What runs under the lock: `localCheckpoint(false)` executes the
    * physical plan to get its RDD, and under AQE that materializes every
    * query stage of the plan — each shuffle-map and broadcast job runs
    * INSIDE `synchronized`, with constraint propagation off. Only the
    * final result stage (the checkpointed RDD's own partitions) runs
    * later, in the count job of [[checkpointCounted]] or in the first
    * consumer of [[checkpointLazy]]. So concurrent checkpoints DO
    * serialize most of their Spark jobs.
    *
    * KNOWN LIMITATION: the flag is session-global, so any OTHER thread
    * planning queries on the same session while a checkpoint holds the
    * lock — a window as long as the checkpointed plan's shuffle and
    * broadcast jobs, not just its planning — plans with constraint
    * propagation disabled and may lose inferred filters for that plan.
    * This is a performance effect only, never correctness: a
    * constraint-propagation miss can only forgo a filter inference. The
    * pipeline drives checkpoints from the single foreachBatch thread; the
    * bounded save/train pools (ModelStore.saveEc, Similarity.trainEc, the
    * release-ingest overlap) may plan while the flag is flipped and
    * deliberately accept it. ROADMAP item 4 removes the flag and the lock
    * (rebuild the checkpointed LogicalRDD without origin constraints). */
  def checkpoint(df: DataFrame): DataFrame = checkpointCounted(df)._1

  /** Like [[checkpoint]] but also returns the materialized row count —
    * callers that would otherwise follow the checkpoint with an `isEmpty`
    * or `count()` probe get it for free (the eager materialization IS a
    * count), saving one Spark job per probe.
    *
    * The count runs on the checkpointed RDD itself, not as
    * `Dataset.count()`: that is an aggregate plan, which under AQE costs a
    * planning pass, a shuffle-map job and a result job. Counting the RDD
    * is one job that computes (and so checkpoints) every partition. */
  def checkpointCounted(df: DataFrame): (DataFrame, Long) = {
    val out = checkpointLazy(df)
    val n = out.queryExecution.toRdd.count()
    tally.foreach(_.addAndGet(n))
    (out, n)
  }

  /** Constraint-free local checkpoint WITHOUT the materializing count job.
    * For callers that immediately run their own full-scan action (e.g. a
    * fused convergence aggregate) and would pay a redundant count — the
    * caller's action materializes the checkpoint and must touch every
    * partition. Such callers should also feed [[tally]] themselves if they
    * know the row count. */
  def checkpointLazy(df: DataFrame): DataFrame = synchronized {
    val conf = df.sparkSession.conf
    val prior = conf.get(ConfKey, "true")
    conf.set(ConfKey, "false")
    try df.localCheckpoint(false)
    finally conf.set(ConfKey, prior)
  }
}
