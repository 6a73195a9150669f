package perfbench

import java.nio.file.{Files, Path}
import java.util.UUID
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import graft.pipeline.{Pipeline, RunStats, StateStore, Transport}
import graft.streaming.StreamingPipeline

/** What one op returned, for its check and its metrics. */
final case class Done(routed: Long, parsed: Long, stats: Option[RunStats] = None,
                      batches: Seq[StreamingQueryProgress] = Nil,
                      transportS: Double = 0.0, sent: Long = 0L)

/**
 * One workload: a seeded setup, an op the closed loop repeats (timed), and
 * a check of each op's outputs (untimed). `setup` is repeatable; each call
 * writes a fresh copy under `dir` and the last one is used.
 */
abstract class Workload(val spark: SparkSession, val seed: Long, val rows: Long) {
  val cfg = Pipeline.Config()
  val base: Long = Inputs.idBase(seed)
  protected var dir: Path = _
  protected var expected: Map[String, (Long, Long)] = Map.empty
  def inputDir: Path = dir.resolve("input")
  /** The rows the op should find fresh (parse input). */
  def freshDir: Path = dir.resolve("fresh")
  def expectedRouted: Long = expected.values.map(_._1).sum
  /** For the traced run's load and dedup timings: the state one op loaded
    * (on the stream, the state its last micro-batch loaded), and the rows
    * it anti-joined against that state. */
  def stateSeen(out: Path): DataFrame
  def dedupInput: DataFrame
  /** Untimed ops before the timed loop: the first op of a JVM takes about
    * twice as long as the later ones. */
  def warmupOps: Int

  def setup(d: Path): Unit
  def prepare(out: Path): Unit = ()
  def op(out: Path): Done
  /** Completes an op's `Done` after its timing stopped (untimed). */
  def settle(d: Done): Done = d
  def check(out: Path, d: Done): Seq[String]
  def close(): Unit = ()

  protected def input: DataFrame = spark.read.parquet(inputDir.toString)

  /** Per-content_type (rows, checksum) of a routed output against the
    * setup reference. */
  protected def checkRouted(what: String, got: Map[String, (Long, Long)]): Seq[String] =
    if (got == expected) Nil
    else Seq(s"$what per-content_type (rows, checksum) $got != expected $expected")

  protected def cntTotal(path: Path): Long =
    spark.read.parquet(path.toString).agg(sum("cnt")).head().getLong(0)
}

/** Batch workloads: one `Pipeline.run` over the input table per op. */
class BatchWorkload(spark: SparkSession, seed: Long, rows: Long, files: Int, warm: Boolean)
    extends Workload(spark, seed, rows) {
  require(rows % 10 == 0, "batch rows must be a multiple of 10")
  private val freshDigit = Math.floorMod(seed, 10L).toInt
  private def baseState = dir.resolve("state")
  val expectedDeduped: Long = if (warm) rows / 10 * 9 else 0L

  def stateSeen(out: Path): DataFrame =
    new StateStore((if (warm) baseState else dir.resolve("no-state")).toString)
      .load(spark, cfg.nowEpochSec)
  def dedupInput: DataFrame = input
  // the second op is still about 20 % slower than the third
  def warmupOps: Int = 2

  def setup(d: Path): Unit = {
    dir = d
    Inputs.writeBatchInput(spark, base, rows, files, inputDir)
    if (warm) {
      Inputs.buildWarmState(spark, base, rows, freshDigit, baseState, cfg)
      Inputs.warmFresh(spark, base, rows, freshDigit).write.parquet(freshDir.toString)
    } else Inputs.copyTree(inputDir, freshDir)
    expected = Inputs.reference(spark.read.parquet(freshDir.toString))
  }

  override def prepare(out: Path): Unit =
    if (warm) Inputs.copyTree(baseState, out.resolve("state"))

  def op(out: Path): Done = {
    val r = Pipeline.run(spark, input, out.toString, cfg)
    Done(r.stats.rowsRouted, r.stats.rowsIn - r.stats.rowsDeduped, Some(r.stats))
  }

  def check(out: Path, d: Done): Seq[String] = {
    val s = d.stats.get
    val sums = spark.read.parquet(out.resolve("checksums").toString).collect()
      .map(r => r.getAs[String]("content_type") -> (r.getAs[Long]("rows"), r.getAs[Long]("checksum")))
      .toMap
    Seq(
      (s.rowsIn == rows) -> s"rowsIn ${s.rowsIn} != $rows",
      (s.rowsDeduped == expectedDeduped) -> s"rowsDeduped ${s.rowsDeduped} != $expectedDeduped",
      (s.rowsRouted == expectedRouted) -> s"rowsRouted ${s.rowsRouted} != $expectedRouted",
      (sums.values.map(_._1).sum == s.rowsRouted) -> "checksums row total != rowsRouted",
      (cntTotal(out.resolve("prtg")) == s.rowsRouted) -> "prtg cnt total != rowsRouted",
    ).collect { case (false, msg) => msg } ++ checkRouted("checksums sink", sums)
  }
}

/** Streaming workload: one `runAvailableNow` drain per op, with each
  * micro-batch also sent to a loopback Graylog receiver. */
class StreamWorkload(spark: SparkSession, seed: Long, rows: Long, files: Int,
                     filesPerBatch: Int) extends Workload(spark, seed, rows) {
  require(rows % (files * 4) == 0, s"stream rows must be a multiple of ${files * 4}")
  private val perFile = rows / files
  private var distinct = 0L
  private var expectedGraylog = 0L
  private val receiver = new GraylogReceiver
  private val probe = new StreamProbe
  spark.streams.addListener(probe)

  // the last micro-batch saw every snapshot but the one it committed
  def stateSeen(out: Path): DataFrame = {
    val st = new StateStore(out.resolve("state").toString)
    st.loadAsOf(spark, cfg.nowEpochSec, st.currentSnapshot.getOrElse(0) - 1)
  }
  def dedupInput: DataFrame = spark.read.parquet(
    (files - filesPerBatch until files).map(Inputs.streamFile(inputDir, _).toString): _*)
  def warmupOps: Int = 1

  def setup(d: Path): Unit = {
    dir = d
    distinct = Inputs.writeStreamInput(spark, base, files, perFile, filesPerBatch, seed,
      inputDir, d.resolve("tmp"))
    input.dropDuplicates("doc_id").write.parquet(freshDir.toString)
    val fresh = spark.read.parquet(freshDir.toString)
    expected = Inputs.reference(fresh)
    expectedGraylog = graft.pipeline.Sinks.graylogShape(
      Pipeline.routedRecords(fresh, cfg.rules)).count()
  }

  def op(out: Path): Done = {
    receiver.reset()
    probe.reset()
    val sendNs = new AtomicLong
    val sent = new AtomicLong
    val send: DataFrame => Long = { df =>
      val t = System.nanoTime()
      val n = Transport.sendGraylogTcp(df, "127.0.0.1", receiver.port)
      sendNs.addAndGet(System.nanoTime() - t)
      sent.addAndGet(n)
      n
    }
    val routed = StreamingPipeline.runAvailableNow(spark, inputDir.toString, out.toString,
      cfg, filesPerBatch, Some(send))
    Done(routed, distinct, transportS = sendNs.get / 1e9, sent = sent.get)
  }

  // the listener bus delivers the progress events after the drain returned;
  // waiting for them is not part of the op
  override def settle(d: Done): Done = d.copy(batches = probe.await())

  /** Graylog (records, bytes, max open connections) of the last op. */
  def received(d: Done): (Long, Long, Int) = receiver.await(d.sent)

  def check(out: Path, d: Done): Seq[String] = {
    val routedDf = spark.read.parquet(out.resolve("routed").toString)
    val sums = routedDf.groupBy("content_type")
      .agg(count(lit(1)).as("rows"), expr("bit_xor(xxhash64(doc_id, tokens))").as("checksum"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val ids = routedDf.select(countDistinct("doc_id")).head().getLong(0)
    val stateRows = spark.read.parquet(out.resolve("state").toString + "/snapshot-*").count()
    val (recs, _, maxOpen) = received(d)
    val nproc = Runtime.getRuntime.availableProcessors
    Seq(
      (d.routed == expectedRouted) -> s"routed ${d.routed} != $expectedRouted",
      (ids == d.routed) -> s"routed output holds ${d.routed - ids} re-delivered ids",
      (stateRows == distinct) -> s"state rows $stateRows != distinct ids $distinct",
      (cntTotal(out.resolve("prtg_batches")) == d.routed) -> "prtg cnt total != routed",
      (d.batches.size == files / filesPerBatch) ->
        s"${d.batches.size} micro-batches != ${files / filesPerBatch}",
      (d.sent == expectedGraylog) -> s"transport sent ${d.sent} != $expectedGraylog",
      (recs == d.sent) -> s"receiver counted $recs records, transport sent ${d.sent}",
      (maxOpen <= nproc) -> s"$maxOpen Graylog connections open at once > $nproc",
    ).collect { case (false, msg) => msg } ++ checkRouted("routed batches", sums)
  }

  override def close(): Unit = {
    spark.streams.removeListener(probe)
    receiver.close()
  }
}

/** Collects the progress of the latest streaming query; `await` returns
  * once that query's termination event arrived, which the listener bus
  * delivers after all of its progress events. */
final class StreamProbe extends StreamingQueryListener {
  @volatile private var current: UUID = _
  @volatile private var ended: UUID = _
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]

  def reset(): Unit = { current = null; ended = null; progress.clear() }

  def await(timeoutMs: Long = 30000L): Seq[StreamingQueryProgress] = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while ((current == null || ended != current) && System.currentTimeMillis() < deadline)
      Thread.sleep(2)
    import scala.jdk.CollectionConverters._
    progress.asScala.toSeq.filter(p => p.id == current && p.numInputRows > 0)
  }

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = current = e.id
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    ended = e.id
}

object Workloads {
  /** Layer calls timed alone, forced through a `noop` write: parse over
    * the rows the op found fresh, and the state load and dedup over the
    * state the op (on the stream, its last micro-batch) loaded. */
  def isolated(w: Workload, out: Path): Map[String, Double] = {
    val spark = w.spark
    def noop(df: => DataFrame): Double = {
      val t = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t) / 1e9
    }
    def load = w.stateSeen(out)
    Map(
      "parse.s" -> noop(Pipeline.routedRecords(spark.read.parquet(w.freshDir.toString),
        w.cfg.rules)),
      "state.load_s" -> noop(load),
      "state.dedup_s" -> noop(StateStore.dedup(w.dedupInput, load)))
  }

  def stateSnapshots(out: Path): Long = {
    val st = out.resolve("state")
    if (!Files.exists(st)) 0L
    else Files.list(st).filter(_.getFileName.toString.startsWith("snapshot-")).count()
  }
}
