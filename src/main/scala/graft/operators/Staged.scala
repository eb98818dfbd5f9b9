package graft.operators

import org.apache.spark.sql.DataFrame

/** An un-materialized result plus the persisted or checkpointed stages
  * it reads. Declared rows call [[materialize]] so consumers read
  * blocks, not lineage; plan dumps and plan-pinning specs read
  * `result` directly, since a checkpointed row's own executed plan is
  * a bare RDD scan.
  */
final case class Staged(result: DataFrame, stages: Seq[DataFrame]) {

  /** Eagerly checkpoint `result`, then release every stage, whatever
    * materialized it (`Layouts.releaseCheckpoint` falls back to
    * `unpersist` for persisted stages).
    */
  def materialize(): DataFrame =
    try result.localCheckpoint(true)
    finally stages.foreach(Layouts.releaseCheckpoint)
}
