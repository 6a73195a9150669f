package graft.pipeline

import graft.SparkSuite
import graft.streaming.StreamingPipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * The single-pass contract of the flagship: one `Pipeline.run` (and one
 * streaming micro-batch) reads its input once and the dedup state at most
 * once — every sink, the state commit, the metrics sink and `RunStats` are
 * served from one materialization — and the state commit still holds every
 * received id exactly once (filter-dropped ids included, `duplicate`
 * ignored), like the reference's mark-known-before-filter.
 */
class SinglePassSpec extends SparkSuite {
  import spark.implicits._

  private val cfg = Pipeline.Config()

  /** 4000 generated rows as parquet files under a fresh directory. */
  private def parquetInput(prefix: String): String = {
    val dir = tmpDir(prefix)
    DataGen.sequences(spark, 4000L, 4).write.mode("overwrite").parquet(s"$dir/in")
    s"$dir/in"
  }

  /** A 10-delta state holding the input ids not ending in 9 (90 %), the
    * ten deltas split by the ids' tens digit. */
  private def warmState(input: DataFrame, stateDir: String): Unit = {
    val store = new StateStore(stateDir)
    (0 until 10).foreach { d =>
      store.commit(spark,
        input.filter(!col("doc_id").endsWith("9") &&
          substring(col("doc_id"), -2, 1) === d.toString).select("doc_id"),
        "doc_id", cfg.expirationEpochSec, cfg.nowEpochSec)
    }
  }

  test("Pipeline.run scans the input once and the state at most once (cold state)") {
    val in = parquetInput("sp_cold")
    val (res, scans) = ScanCounter.during(spark.sparkContext, in) {
      Pipeline.run(spark, spark.read.parquet(in), tmpDir("sp_cold_out"))
    }
    assert(res.stats.rowsIn === 4000L)
    assert(res.stats.rowsDeduped === 0L)
    assert(scans.scans("source") === 1, "input scans")
    assert(scans.scans("state") <= 1, "state scans")
  }

  test("Pipeline.run scans the input once and the state once (10-delta warm state)") {
    val in = parquetInput("sp_warm")
    val out = tmpDir("sp_warm_out")
    warmState(spark.read.parquet(in), s"$out/state")
    val (res, scans) = ScanCounter.during(spark.sparkContext, in) {
      Pipeline.run(spark, spark.read.parquet(in), out)
    }
    assert(res.stats.rowsIn === 4000L)
    assert(res.stats.rowsDeduped === 3600L)
    assert(res.snapshot === Some(10))
    assert(scans.scans("source") === 1, "input scans")
    assert(scans.scans("state") === 1, "state scans")
  }

  test("one streaming micro-batch scans its input once and the state at most once") {
    val in = parquetInput("sp_stream")
    val out = tmpDir("sp_stream_out")
    warmState(spark.read.parquet(in), s"$out/state")
    val (routed, scans) = ScanCounter.during(spark.sparkContext, in) {
      StreamingPipeline.runAvailableNow(spark, in, out, cfg, maxFilesPerTrigger = 1000)
    }
    assert(new java.io.File(s"$out/_batches").list().toSeq === Seq("batch-0"),
      "the drain must be one micro-batch")
    assert(routed === spark.read.parquet(s"$out/routed").count())
    assert(scans.scans("source") === 1, "input scans")
    assert(scans.scans("state") <= 1, "state scans")
    // the batch committed exactly its 400 fresh ids
    assert(spark.read.parquet(new StateStore(s"$out/state").snapshotPath(10)).count() === 400L)
  }

  test("filter-dropped ids are committed: a second run over the same input finds every row known") {
    val seqs = DataGen.sequences(spark, 2000L, 4)
    val out = tmpDir("sp_rerun")
    val r1 = Pipeline.run(spark, seqs, out)
    assert(r1.stats.rowsDroppedByFilter > 0, "the fixture must exercise the filter")
    val r2 = Pipeline.run(spark, seqs, out)
    assert(r2.stats.rowsDeduped === r2.stats.rowsIn)
    assert(r2.stats.rowsRouted === 0L)
  }

  test("duplicate = 3 inflates the sinks and the metrics, but commits each id exactly once") {
    val seqs = DataGen.sequences(spark, 2000L, 4)
    val once = Pipeline.run(spark, seqs, tmpDir("sp_dup1")).stats
    val out = tmpDir("sp_dup3")
    val st = Pipeline.run(spark, seqs, out, Pipeline.Config(duplicate = 3)).stats
    assert(st.rowsIn === 2000L)
    assert(st.rowsRouted === once.rowsRouted * 3)
    assert(st.rowsDroppedByFilter === once.rowsDroppedByFilter * 3)
    assert(spark.read.parquet(s"$out/graylog").count() === st.rowsRouted)

    val state = spark.read.parquet(new StateStore(s"$out/state").snapshotPath(0))
    assert(state.count() === 2000L)
    assert(state.select("content_id").distinct().count() === 2000L)

    val metrics = spark.read.parquet(s"$out/metrics")
    def stageSum(s: String) = metrics.filter(col("stage") === s)
      .agg(coalesce(sum("rows"), lit(0L))).as[Long].head()
    assert(stageSum("parsed") === (st.rowsIn - st.rowsDeduped) * 3)
    assert(stageSum("routed") === st.rowsRouted)
    assert(stageSum("dropped_by_filter") === st.rowsDroppedByFilter)
    assert(stageSum("filtered") === st.rowsRouted + st.rowsQuarantined)
  }
}
