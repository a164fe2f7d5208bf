package org.apache.spark

import org.apache.spark.scheduler.StageInfo

/** The operators a stage runs: the operation-scope names of its RDDs (for
  * SQL, the physical operators, e.g. `Scan parquet`,
  * `WholeStageCodegen (2)`, `Exchange`) in RDD order, without repeats.
  */
object StageScopes {
  def apply(si: StageInfo): Seq[String] =
    si.rddInfos.sortBy(_.id).flatMap(_.scope.map(_.name.trim)).distinct.toSeq
}
