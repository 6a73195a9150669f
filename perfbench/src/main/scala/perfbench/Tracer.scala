package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import scala.collection.mutable

/** One span of the trace: an op, a SQL execution, a job, or a layer call
  * the benchmark timed on its own. Times are epoch milliseconds. */
final case class Span(id: String, parent: String, name: String, layer: String,
                      start: Long, end: Long, attrs: Map[String, Double] = Map.empty)

/**
 * The traced run's SparkListener. It keeps every event of one op in memory
 * and, after the op, turns each SQL execution into a span attributed to a
 * layer by the paths in its plan:
 *
 *  - a write under the op's output directory names its sink (`graylog`,
 *    `prtg`, ...) or the `state` commit;
 *  - a read of state snapshots only is `state` (the commit's footer count);
 *  - a plan that scans both the input and the state, with no write, is the
 *    `state` dedup (the checkpoint of the anti-joined set runs its stages);
 *  - a plan that scans only the input parquet itself is `source`;
 *  - a plan over an existing RDD whose tasks scan the input is the routed
 *    set's `cache` materialization (the scan sits in the checkpoint's
 *    lineage); other reads of that RDD are `cache` reads;
 *  - a streaming micro-batch, the parent of its nested executions, is
 *    `stream`.
 *
 * Scans are counted as executed scan nodes: a file-scan node of any plan
 * counts once when some task reported one of its metrics.
 */
final class Tracer(inputDir: String, k: Int) extends SparkListener {

  private final class Exec(val id: Long, val root: Long, val start: Long, val desc: String) {
    var end: Long = -1L
    var write: Option[String] = None
    val ownScans = mutable.Set[String]()
    var rddScan = false
  }
  private final class Job(val id: Int, val exec: Long, val start: Long, val stages: Seq[Int]) {
    var end: Long = -1L
  }
  private final class Stage {
    val runMs = mutable.ArrayBuffer[Long]()
    var cpuNs, gcMs, shuffleW, spill, inBytes = 0L
    val scansHit = mutable.Set[Long]()
  }

  private val execs = mutable.LinkedHashMap[Long, Exec]()
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stages = mutable.Map[Int, Stage]()
  // metric accumulator id -> (scan node key, scan kind)
  private val scanAccs = mutable.Map[Long, (Long, String)]()

  def reset(): Unit = synchronized {
    execs.clear(); jobs.clear(); stages.clear(); scanAccs.clear()
  }

  private def kindOf(location: String): String = {
    val first = location.dropWhile(_ != '[').drop(1).takeWhile(c => c != ',' && c != ']')
    val path = first.stripPrefix("file:")
    if (path.startsWith(inputDir)) "source"
    else if (path.contains("/state/snapshot-")) "state"
    else "other"
  }

  private def register(e: Exec, p: SparkPlanInfo): Unit = {
    if (p.nodeName.startsWith("Execute InsertIntoHadoopFsRelationCommand"))
      e.write = "file:(/[^,\\s\\]]+)".r.findFirstMatchIn(p.simpleString).map(_.group(1))
    if (p.nodeName.contains("ExistingRDD")) e.rddScan = true
    p.metadata.get("Location").foreach { loc =>
      val kind = kindOf(loc)
      e.ownScans += kind
      if (p.metrics.nonEmpty) {
        val key = p.metrics.map(_.accumulatorId).min
        p.metrics.foreach(m => scanAccs(m.accumulatorId) = (key, kind))
      }
    }
    p.children.foreach(register(e, _))
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = synchronized {
    event match {
      case s: SparkListenerSQLExecutionStart =>
        val e = new Exec(s.executionId, s.rootExecutionId.getOrElse(s.executionId),
          s.time, s.description)
        execs(s.executionId) = e
        register(e, s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        execs.get(u.executionId).foreach(register(_, u.sparkPlanInfo))
      case e: SparkListenerSQLExecutionEnd =>
        execs.get(e.executionId).foreach(_.end = e.time)
      case _ =>
    }
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobs(j.jobId) = new Job(j.jobId, exec, j.time, j.stageIds)
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(j.jobId).foreach(_.end = j.time)
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate(t.stageId, new Stage)
    val m = t.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleW += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.diskBytesSpilled
      s.inBytes += m.inputMetrics.bytesRead
    }
    t.taskInfo.accumulables.foreach(a => scanAccs.get(a.id).foreach(x => s.scansHit += x._1))
  }

  /** Per-op layer metrics and spans, computed from the events of one op
    * (call after the listener bus drained). `opStart`/`opEnd` in epoch ms. */
  def summarize(opId: String, outDir: String, opStart: Long, opEnd: Long)
      : (Map[String, Double], Seq[Span]) = synchronized {
    val kindOfKey = scanAccs.values.toMap
    def stagesOf(e: Exec) = jobs.values.filter(_.exec == e.id)
      .flatMap(_.stages).flatMap(stages.get)
    def hitKinds(ss: Iterable[Stage]) = ss.flatMap(_.scansHit).map(kindOfKey).toSet
    val parents = execs.values.map(_.root).toSet
    val outPrefix = outDir + "/"

    def layerOf(e: Exec): (String, String) = e.write match {
      case Some(p) if p.startsWith(outPrefix) =>
        p.stripPrefix(outPrefix).takeWhile(_ != '/') match {
          case "state" => ("state", "commit")
          case "prtg_batches" => ("sinks", "prtg")
          case other => ("sinks", other)
        }
      case Some(p) => ("other", p)
      case None =>
        if (parents.contains(e.id) && execs.values.exists(c => c.root == e.id && c.id != e.id))
          ("stream", "batch")
        else if (e.ownScans == Set("state")) ("state", "read")
        else if (e.ownScans == Set("source", "state")) ("state", "dedup")
        else if (e.ownScans.contains("source")) ("source", "scan")
        else if (hitKinds(stagesOf(e)).contains("source")) ("cache", "materialize")
        else if (e.rddScan) ("cache", "read")
        else ("driver", e.desc.take(40))
    }

    val spans = mutable.ArrayBuffer[Span]()
    spans += Span(opId, "", "op", "op", opStart, opEnd)
    val layered = execs.values.toSeq.map(e => e -> layerOf(e))
    layered.foreach { case (e, (layer, name)) =>
      val parent = if (e.root != e.id) s"$opId/sql-${e.root}" else opId
      val ss = stagesOf(e).toSeq
      spans += Span(s"$opId/sql-${e.id}", parent, name, layer, e.start,
        if (e.end > 0) e.end else opEnd,
        Map("jobs" -> jobs.values.count(_.exec == e.id).toDouble,
          "tasks" -> ss.map(_.runMs.size).sum.toDouble,
          "task_s" -> ss.map(_.runMs.sum).sum / 1000.0))
    }
    // a job belongs to the layer of its SQL execution, so a layer's self
    // time includes the time its jobs ran
    val layerOfExec = layered.map { case (e, (l, _)) => e.id -> l }.toMap
    jobs.values.foreach { j =>
      spans += Span(s"$opId/job-${j.id}",
        if (j.exec >= 0) s"$opId/sql-${j.exec}" else opId, s"job-${j.id}",
        layerOfExec.getOrElse(j.exec, "spark"), j.start, if (j.end > 0) j.end else opEnd)
    }

    def total(layer: String, name: String = null) = layered.collect {
      case (e, (l, n)) if l == layer && (name == null || n == name) =>
        ((if (e.end > 0) e.end else opEnd) - e.start) / 1000.0
    }.sum
    // only the stages of this op's jobs: task ends of an earlier op may trail in
    val allStages = jobs.values.toSeq.flatMap(_.stages).distinct.flatMap(stages.get)
    val scanKeys = allStages.flatMap(_.scansHit).distinct
    val runMs = allStages.flatMap(_.runMs)
    val wallS = (opEnd - opStart) / 1000.0
    val skew = allStages.filter(_.runMs.size >= 2).map { s =>
      val sorted = s.runMs.sorted
      sorted.last.toDouble / math.max(1L, sorted(sorted.size / 2))
    }.foldLeft(1.0)(math.max)
    val sinkSpans = layered.collect { case (e, ("sinks", _)) =>
      (e.start, if (e.end > 0) e.end else opEnd) }

    val m = mutable.LinkedHashMap[String, Double]()
    m("source.scans") = scanKeys.count(kindOfKey(_) == "source").toDouble
    m("source.bytes_read") = allStages.filter(s => hitKinds(Seq(s)) == Set("source"))
      .map(_.inBytes).sum.toDouble
    m("state.commit_s") = total("state", "commit") + total("state", "read")
    m("state.scans") = scanKeys.count(kindOfKey(_) == "state").toDouble
    m("cache.s") = total("cache", "materialize")
    Seq("file_csv", "graylog", "fluentd", "log_analytics", "prtg", "checksums",
        "quarantine", "metrics").foreach(n => m(s"sink.$n.s") = total("sinks", n))
    m("sinks.s") = Spans.coveredMs(sinkSpans) / 1000.0
    m("spark.sql_executions") = execs.size.toDouble
    m("spark.jobs") = jobs.size.toDouble
    m("spark.tasks") = runMs.size.toDouble
    m("spark.task_s") = runMs.sum / 1000.0
    m("spark.cpu_util") = allStages.map(_.cpuNs).sum / 1e9 / (wallS * k)
    m("spark.shuffle_bytes") = allStages.map(_.shuffleW).sum.toDouble
    m("spark.spill_bytes") = allStages.map(_.spill).sum.toDouble
    m("spark.gc_s") = allStages.map(_.gcMs).sum / 1000.0
    m("spark.task_skew") = skew
    (m.toMap, spans.toSeq)
  }
}

/** Self time of each span: its duration minus the part of its interval
  * that its children cover. */
object Spans {
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      s.id -> (s.end - s.start - coveredMs(iv)) / 1000.0
    }.toMap
  }

  /** Length of the union of intervals [a, b). */
  def coveredMs(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L; var curS = 0L; var curE = 0L
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    covered + curE - curS
  }
}
