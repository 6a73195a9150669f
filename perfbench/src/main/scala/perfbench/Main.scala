package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.util.{Failure, Success, Try}
import graft.pipeline.GraftSession

/**
 * Benchmark entry point, one workload per JVM. A closed loop with one client:
 * the main thread starts the next op only after the previous op and its
 * check finished. Ops run for `--seconds` (and at least `MinOps` times);
 * the result JSON goes to `--result`, and with `--trace 1` the spans of
 * the traced ops go to `--trace-file`.
 *
 * Usage: perfbench.Main --workload batch_cold|batch_warm|stream_drain
 *   --seed N --seconds S --trace 0|1 --rows N --cores K --work DIR
 *   --result FILE [--trace-file FILE]
 */
object Main {

  /** Per-workload shape: input files, and micro-batch cut for the stream. */
  private val StreamFiles = 12
  private val FilesPerTrigger = 4
  private val BatchFiles = 8
  private val SetupRounds = 3
  /** Fewest timed ops per run, whatever `--seconds` says. The op keeps
    * speeding up for several ops after the warm-up as the JIT converges;
    * with three the median was the second timed op, still on the steep
    * part of that curve. */
  private val MinOps = 4

  final case class Op(runS: Double, done: Option[Done], failures: Seq[String],
                      outBytes: Long, traced: Boolean, layers: Map[String, Double])

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val rows = a("rows").toLong
    val k = a("cores").toInt
    val work = Paths.get(a("work")).toAbsolutePath
    Files.createDirectories(work)

    val t0 = System.nanoTime()
    val spark = GraftSession.local(k, "perfbench")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val w: Workload = workload match {
      case "batch_cold" => new BatchWorkload(spark, seed, rows, BatchFiles, warm = false)
      case "batch_warm" => new BatchWorkload(spark, seed, rows, BatchFiles, warm = true)
      case "stream_drain" => new StreamWorkload(spark, seed, rows, StreamFiles, FilesPerTrigger)
      case other => sys.error(s"unknown workload $other")
    }

    // set-up: input generation, base state and reference, SetupRounds times
    val setupRounds = (0 until SetupRounds).map { r =>
      val t = System.nanoTime()
      w.setup(work.resolve(s"setup-$r"))
      (System.nanoTime() - t) / 1e9
    }
    (0 until SetupRounds - 1).foreach(r => Inputs.deleteTree(work.resolve(s"setup-$r")))

    val tracer = new Tracer(w.inputDir.toString, k)
    val spans = mutable.ArrayBuffer[Span]()
    def runOp(i: Int, traced: Boolean): Op = {
      val out = work.resolve(s"op-$i")
      w.prepare(out)
      if (traced) {
        // events still queued from the previous op must not reach the tracer
        org.apache.spark.perfbench.BusGlue.drain(spark.sparkContext)
        tracer.reset()
        spark.sparkContext.addSparkListener(tracer)
      }
      val startMs = System.currentTimeMillis()
      val t = System.nanoTime()
      val opDone = Try(w.op(out))
      val runS = (System.nanoTime() - t) / 1e9
      val endMs = System.currentTimeMillis()
      val done = opDone.map(w.settle)
      val traceLayers =
        if (!traced) Map.empty[String, Double]
        else {
          org.apache.spark.perfbench.BusGlue.drain(spark.sparkContext)
          spark.sparkContext.removeSparkListener(tracer)
          val (m, s) = tracer.summarize(s"op-$i", out.toString, startMs, endMs)
          spans ++= s
          m
        }
      val failures = done match {
        case Success(d) => Try(w.check(out, d)).fold(e => Seq(s"check threw $e"), identity)
        case Failure(e) => Seq(s"op threw $e")
      }
      val outBytes = Inputs.diskUsage(out)._1
      val layers =
        if (!traced) traceLayers
        else traceLayers ++ done.toOption.map(d => layerCounts(w, out, d)).getOrElse(Map.empty) ++
          Workloads.isolated(w, out)
      failures.foreach(f => System.err.println(s"[perfbench] op $i FAILED: $f"))
      Inputs.deleteTree(out)
      Op(runS, done.toOption, failures, outBytes, traced, layers)
    }

    val tw = System.nanoTime()
    val warmup = (0 until w.warmupOps).map(i => runOp(-1 - i, traced = false))
    val warmupS = (System.nanoTime() - tw) / 1e9
    val setupS = sessionS + median(setupRounds) + warmupS

    // the timed closed loop; the traced run alternates traced and plain ops
    val ops = mutable.ArrayBuffer[Op]()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (ops.size < MinOps || System.nanoTime() < deadline)
      ops += runOp(ops.size, traced = trace && ops.size % 2 == 0)

    val failed = ops.count(_.failures.nonEmpty)
    val correct = failed == 0 && warmup.forall(_.failures.isEmpty)
    val runs = ops.map(_.runS)
    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        val runS = median(runs)
        val routed = ops.flatMap(_.done).map(_.routed).headOption.getOrElse(0L)
        val batchS = w match {
          case _: StreamWorkload => ops.flatMap(_.done).flatMap(_.batches).map(_.batchDuration / 1000.0)
          case _ => runs.toSeq
        }
        val (tailP, tail) = tailPercentile(batchS)
        val q = quartiles(runs)
        println(f"[perfbench] $workload run_s n=${runs.size} q1=${q._1}%.4f median=${q._2}%.4f q3=${q._3}%.4f ops=${runs.map(x => f"$x%.3f").mkString(",")}")
        println(s"[perfbench] $workload batch_tail_s is p$tailP of ${batchS.size} batches")
        println(f"[perfbench] $workload setup: session=$sessionS%.3f rounds=${setupRounds.mkString(",")} warmup=$warmupS%.3f")
        Seq(
          ("setup_s", setupS, "s"),
          ("run_s", runS, "s"),
          ("rows_per_s", w.rows / runS, "rows/s"),
          ("routed_rows_per_s", routed / runS, "rows/s"),
          ("batch_p50_s", median(batchS), "s"),
          ("batch_tail_s", tail, "s"),
          ("ok_frac", (ops.size - failed).toDouble / ops.size, "ratio"),
          ("peak_rss_mb", peakRssMb(), "MB"),
          ("out_bytes_per_row", median(ops.map(_.outBytes.toDouble)) / w.rows, "B/row"))
      } else {
        val traced = ops.filter(_.traced)
        val plain = ops.filterNot(_.traced)
        val overhead = median(traced.map(_.runS)) - median(plain.map(_.runS))
        println(f"[perfbench] $workload traced run_s ${median(traced.map(_.runS))}%.4f (n=${traced.size}), untraced ${median(plain.map(_.runS))}%.4f (n=${plain.size})")
        PerLayer.map { case (n, u) => (n, median(traced.flatMap(_.layers.get(n))), u) } :+
          (("trace.overhead_s", overhead, "s"))
      }

    if (trace) a.get("trace-file").foreach(f => writeTrace(Paths.get(f), workload, seed, ops.toSeq, spans.toSeq))
    val json = metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString(s"""{"correct": $correct, "attempted": ${ops.size}, "failed": $failed, "metrics": {""", ", ", "}}")
    Files.write(Paths.get(a("result")), json.getBytes(StandardCharsets.UTF_8))
    w.close()
    spark.stop()
  }

  /** Counts the traced op reports besides the listener's: parse rows, state
    * on disk, sink output on disk, transport and streaming progress. */
  private def layerCounts(w: Workload, out: Path, d: Done): Map[String, Double] = {
    val statePath = out.resolve("state")
    val snapshots = Workloads.stateSnapshots(out)
    val sinkDirs = if (Files.exists(out)) {
      val it = Files.list(out); try it.toArray.map(_.asInstanceOf[Path]).toSeq finally it.close()
    } else Nil
    val sinks = sinkDirs.filterNot(p => Set("state", "_checkpoint", "_batches")(p.getFileName.toString))
      .map(Inputs.diskUsage)
    val (recs, bytes) = w match {
      case s: StreamWorkload => val r = s.received(d); (r._1.toDouble, r._2.toDouble)
      case _ => (0.0, 0.0)
    }
    def dur(key: String) = d.batches.map(p => Option(p.durationMs.get(key)).map(_.longValue).getOrElse(0L)).sum / 1000.0
    val committed = d.stats.map(s => (s.rowsIn - s.rowsDeduped).toDouble)
      .getOrElse(w.spark.read.parquet(statePath.toString + "/snapshot-*").count().toDouble)
    Map(
      "parse.rows_in" -> d.parsed.toDouble,
      "parse.rows_routed" -> d.routed.toDouble,
      "parse.kept_ratio" -> (if (d.parsed > 0) d.routed.toDouble / d.parsed else 0.0),
      "state.rows_committed" -> committed,
      "state.snapshots" -> snapshots.toDouble,
      "state.bytes" -> Inputs.diskUsage(statePath)._1.toDouble,
      "sinks.bytes_written" -> sinks.map(_._1).sum.toDouble,
      "sinks.files_written" -> sinks.map(_._2).sum.toDouble,
      "transport.s" -> d.transportS,
      "transport.records" -> recs,
      "transport.bytes" -> bytes,
      "transport.records_per_s" -> (if (d.transportS > 0) recs / d.transportS else 0.0),
      "stream.batches" -> d.batches.size.toDouble,
      "stream.add_batch_s" -> dur("addBatch"),
      "stream.wal_commit_s" -> dur("walCommit"),
      "stream.planning_s" -> dur("queryPlanning"))
  }

  /** Every per-layer metric, in print order, with its unit. */
  val PerLayer: Seq[(String, String)] = Seq(
    "source.scans" -> "count", "source.bytes_read" -> "B",
    "state.load_s" -> "s", "state.dedup_s" -> "s", "state.commit_s" -> "s",
    "state.scans" -> "count", "state.rows_committed" -> "count",
    "state.snapshots" -> "count", "state.bytes" -> "B",
    "parse.s" -> "s", "parse.rows_in" -> "count", "parse.rows_routed" -> "count",
    "parse.kept_ratio" -> "ratio",
    "cache.s" -> "s") ++
    Seq("file_csv", "graylog", "fluentd", "log_analytics", "prtg", "checksums",
      "quarantine", "metrics").map(n => s"sink.$n.s" -> "s") ++ Seq(
    "sinks.s" -> "s", "sinks.bytes_written" -> "B", "sinks.files_written" -> "count",
    "transport.s" -> "s", "transport.records" -> "count", "transport.bytes" -> "B",
    "transport.records_per_s" -> "1/s",
    "stream.batches" -> "count", "stream.add_batch_s" -> "s",
    "stream.wal_commit_s" -> "s", "stream.planning_s" -> "s",
    "spark.sql_executions" -> "count", "spark.jobs" -> "count", "spark.tasks" -> "count",
    "spark.task_s" -> "s", "spark.cpu_util" -> "ratio", "spark.shuffle_bytes" -> "B",
    "spark.spill_bytes" -> "B", "spark.gc_s" -> "s", "spark.task_skew" -> "ratio")

  def median(xs: Iterable[Double]): Double = quartiles(xs)._2

  /** (q1, median, q3), linear interpolation between order statistics. */
  def quartiles(xs: Iterable[Double]): (Double, Double, Double) =
    if (xs.isEmpty) (0.0, 0.0, 0.0)
    else {
      val s = xs.toIndexedSeq.sorted
      def at(p: Double) = {
        val x = p * (s.size - 1)
        val lo = math.floor(x).toInt
        val hi = math.min(lo + 1, s.size - 1)
        s(lo) + (s(hi) - s(lo)) * (x - lo)
      }
      (at(0.25), at(0.5), at(0.75))
    }

  /** The highest of p50/p75/p90/p95/p99 with at least ten samples beyond it;
    * with fewer than twenty samples there is none, and p75 stands in (the
    * maximum of a dozen batches moves with a single slow one). */
  def tailPercentile(xs: Iterable[Double]): (Int, Double) = {
    val s = xs.toIndexedSeq.sorted
    val p = Seq(99, 95, 90, 75, 50).find(p => s.size * (100 - p) / 100.0 >= 10).getOrElse(75)
    (p, if (s.isEmpty) 0.0 else s(math.max(math.ceil(p / 100.0 * s.size).toInt - 1, 0)))
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).bigDecimal.toPlainString

  private def writeTrace(path: Path, workload: String, seed: Long, ops: Seq[Op], spans: Seq[Span]): Unit = {
    val self = Spans.selfTimes(spans)
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val opsJson = ops.map { o =>
      val layers = o.layers.map { case (n, v) => s"${q(n)}: ${num(v)}" }.mkString("{", ", ", "}")
      s"""{"run_s": ${num(o.runS)}, "traced": ${o.traced}, "ok": ${o.failures.isEmpty}, "layers": $layers}"""
    }
    val spansJson = spans.map { s =>
      val attrs = s.attrs.map { case (n, v) => s"${q(n)}: ${num(v)}" }.mkString("{", ", ", "}")
      s"""{"id": ${q(s.id)}, "parent": ${q(s.parent)}, "name": ${q(s.name)}, "layer": ${q(s.layer)}, """ +
        s""""start_ms": ${s.start}, "end_ms": ${s.end}, "self_s": ${num(self(s.id))}, "attrs": $attrs}"""
    }
    Files.createDirectories(path.getParent)
    Files.write(path, (s"""{"workload": ${q(workload)}, "seed": $seed,\n "ops": [\n  """ +
      opsJson.mkString(",\n  ") + "],\n \"spans\": [\n  " + spansJson.mkString(",\n  ") + "]}\n")
      .getBytes(StandardCharsets.UTF_8))
  }
}
