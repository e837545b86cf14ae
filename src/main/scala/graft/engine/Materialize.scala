package graft.engine

import org.apache.spark.sql.DataFrame

/** The one place that decides how a lineage cut is made. Iterative and
  * multi-consumer plans (the Subsetter's phase mutations, Dedup's shared
  * shingle/band relations, the ANN index builds) cut their lineage through
  * one of the two calls below and take no strategy argument. The reference
  * materializes into real destination tables at every step
  * (`subset.py:117,147,202`); here both cuts are executor-local
  * checkpoints, the right choice for single-JVM runs but NOT reliable on a
  * real cluster (a lost executor makes the cut lineage unrecoverable). On
  * a cluster, this object is the one line to change: make the cut a
  * reliable checkpoint or an intermediate Parquet write.
  */
object Materialize {

  /** Executor-local checkpoint, computed eagerly in a dedicated job. */
  val local: DataFrame => DataFrame = _.localCheckpoint()

  /** Executor-local checkpoint, LAZY: the logical plan is cut at this
    * boundary immediately (same analysis-depth control as [[local]]), but
    * the data materializes inside the CALLER'S next action instead of a
    * dedicated eager job. The iterative-loop fusion primitive: a
    * fixpoint's convergence probe (label sum, edge count) doubles as the
    * materializing job, one job per round instead of two. Use it only where
    * consumption is proved sequential.
    */
  val localLazy: DataFrame => DataFrame = _.localCheckpoint(eager = false)
}
