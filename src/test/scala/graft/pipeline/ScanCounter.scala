package graft.pipeline

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionStart}
import scala.collection.mutable

/**
 * Counts EXECUTED file scans by location: every file-scan node of every SQL
 * plan is registered by its metric accumulators, and it counts once when
 * some task reported one of them. A node that is planned but never run —
 * or a cached set read back — counts nothing; a scan re-run by a second
 * job of the same plan counts once. Locations under `inputDir` are
 * "source", state snapshot directories are "state".
 */
final class ScanCounter(inputDir: String) extends SparkListener {
  // metric accumulator id -> (scan node key, kind)
  private val scanOf = mutable.Map[Long, (Long, String)]()
  private val hit = mutable.Set[(Long, String)]()

  private def kindOf(location: String): String = {
    val first = location.dropWhile(_ != '[').drop(1).takeWhile(c => c != ',' && c != ']')
    val path = first.stripPrefix("file:")
    if (path == inputDir || path.startsWith(inputDir + "/")) "source"
    else if (path.contains("/state/snapshot-")) "state"
    else "other"
  }

  private def register(p: SparkPlanInfo): Unit = {
    p.metadata.get("Location").foreach { loc =>
      if (p.metrics.nonEmpty) {
        val key = p.metrics.map(_.accumulatorId).min
        p.metrics.foreach(m => scanOf(m.accumulatorId) = (key, kindOf(loc)))
      }
    }
    p.children.foreach(register)
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = synchronized {
    event match {
      case s: SparkListenerSQLExecutionStart => register(s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate => register(u.sparkPlanInfo)
      case _ =>
    }
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    t.taskInfo.accumulables.foreach(a => scanOf.get(a.id).foreach(hit += _))
  }

  def scans(kind: String): Int = synchronized(hit.count(_._2 == kind))
}

object ScanCounter {
  /** Runs `f` with a fresh counter attached; the counts are final on return. */
  def during[A](sc: SparkContext, inputDir: String)(f: => A): (A, ScanCounter) = {
    val c = new ScanCounter(inputDir)
    org.apache.spark.graftglue.ListenerBusGlue.drain(sc)
    sc.addSparkListener(c)
    try {
      val a = f
      org.apache.spark.graftglue.ListenerBusGlue.drain(sc)
      (a, c)
    } finally sc.removeSparkListener(c)
  }
}
