package org.apache.spark.scheduler

/** Reads the Spark-internal shuffle id of a stage: a job whose final stage
  * has none ends in a result stage (an action or a broadcast), not in a
  * shuffle map as AQE's per-exchange jobs do.
  */
object StageKind {
  def endsInResult(job: SparkListenerJobStart): Boolean =
    job.stageInfos.maxBy(_.stageId).shuffleDepId.isEmpty
}
