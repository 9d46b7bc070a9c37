package graft

import org.apache.spark.sql.SparkSession

/** Names the engine step that submits Spark jobs. [[run]] sets the local
  * property [[Key]] on the calling thread while `f` runs, so every job
  * `f` submits carries the step's name: local properties travel with each
  * job, and AQE's query-stage threads inherit the caller's (the same way
  * the job group id reaches them). A listener then attributes jobs by
  * step, whatever file the step's code lives in. A nested step names its
  * own jobs and restores the outer name on exit.
  *
  * Only code that submits jobs is wrapped: a rows-tier call whose handles
  * are settled, or a cache hit, sets no property. README.md lists the
  * stage names. */
object Stage {
  val Key = "graft.stage"

  def run[T](spark: SparkSession, name: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, name)
    try f finally sc.setLocalProperty(Key, prev)
  }
}
