package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block submits from the calling thread (its job
  * group), keyed by the engine step that submitted each one: the job's
  * [[Stage.Key]] local property, or "none" when no step named it. A job
  * budget pinned per step names the step a regression came from, and
  * stays put when the step's code moves to another file. */
object JobCount {

  /** `f`'s result and its jobs per stage, counted once the listener bus
    * has drained. */
  def byStage[T](spark: SparkSession)(f: => T): (T, Map[String, Int]) = {
    val sc = spark.sparkContext
    val group = s"job-count-${System.nanoTime()}"
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          stages.add(Option(e.properties.getProperty(Stage.Key)).getOrElse("none"))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "JobCount")
    try {
      val r = f
      // the bus is private[spark]; its drain is public in bytecode
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      import scala.jdk.CollectionConverters._
      (r, stages.asScala.toSeq.groupBy(identity).map { case (k, v) => k -> v.size })
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
