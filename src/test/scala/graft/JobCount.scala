package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block submits from the calling thread (its job
  * group), keyed by the module that submitted each one: the class of the
  * first `graft.` frame in the job's call site, e.g.
  * `graft.operators.IvfFlat$.build(...)` → `IvfFlat`. A job budget pinned
  * per module names the module a regression came from. */
object JobCount {

  def moduleOf(callSite: String): String =
    Option(callSite).toSeq.flatMap(_.split("\n")).map(_.trim)
      .find(_.startsWith("graft."))
      .map { frame =>
        val qualified = frame.takeWhile(_ != '(')
        val cls = qualified.substring(0, math.max(0, qualified.lastIndexOf('.')))
        cls.substring(cls.lastIndexOf('.') + 1).takeWhile(_ != '$')
      }
      .getOrElse("unattributed")

  /** `f`'s result and its jobs per module, counted once the listener bus
    * has drained. */
  def byModule[T](spark: SparkSession)(f: => T): (T, Map[String, Int]) = {
    val sc = spark.sparkContext
    val group = s"job-count-${System.nanoTime()}"
    val modules = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // jobs a query stage submits from an async thread carry no graft frame
    // of their own; their SQL execution's call site does
    val sqlSites = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group) {
          val own = moduleOf(
            e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).orNull)
          val sql = Option(e.properties.getProperty("spark.sql.execution.id"))
            .flatMap(_.toLongOption).flatMap(id => Option(sqlSites.get(id)))
            .map(moduleOf).getOrElse("unattributed")
          modules.add(if (own != "unattributed") own else sql)
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          sqlSites.put(s.executionId, s.details)
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "JobCount")
    try {
      val r = f
      // the bus is private[spark]; its drain is public in bytecode
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      import scala.jdk.CollectionConverters._
      (r, modules.asScala.toSeq.groupBy(identity).map { case (k, v) => k -> v.size })
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
