package graft.obs

import org.apache.spark.sql.SparkSession

/** Job descriptions for the Spark actions an op fires internally (eager
  * collects, bisection passes, convergence checks): the Spark UI, event
  * log and listeners then show `"<op>: <step>"` instead of the caller's
  * description or a bare call site.
  */
object JobLabel {

  /** Runs `body` with the job description set to `label`; the caller's
    * description (or its absence) is restored afterwards, also when
    * `body` throws.
    */
  def apply[T](spark: SparkSession, label: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try body finally sc.setJobDescription(prev)
  }
}
