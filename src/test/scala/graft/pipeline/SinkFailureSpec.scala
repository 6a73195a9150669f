package graft.pipeline

import graft.SparkSuite
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.graftglue.ListenerBusGlue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/**
 * The run contract under a failing sink: `Pipeline.run` throws, but only
 * after every sibling sink write settled — no sink starts a job and no
 * file under the output directory changes once it returned — it commits
 * no state, and once the fault is gone a re-run writes what a clean run
 * writes.
 */
class SinkFailureSpec extends SparkSuite {
  import spark.implicits._

  /** Every interface enabled, the file sink (one CSV per content type)
    * writing to `filePath` under the output directory. */
  private def cfg(filePath: String) = Pipeline.Config(output = Some(OutputConfig(
    file = Some(FileOutputConfig(path = filePath, separateByContentType = true)),
    graylog = Some(GraylogOutputConfig()),
    fluentd = Some(FluentdOutputConfig()),
    azureLogAnalytics = Some(OmsOutputConfig()))))

  /** Every file under `dir` with its size and modification time. */
  private def listing(dir: String): Map[String, (Long, Long)] = {
    val it = Files.walk(Paths.get(dir))
    try {
      import scala.jdk.CollectionConverters._
      it.iterator().asScala.filter(Files.isRegularFile(_)).map { p: Path =>
        p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
      }.toMap
    } finally it.close()
  }

  private def checksums(out: String): Set[(String, Long, Long)] =
    spark.read.parquet(s"$out/checksums").as[(String, Long, Long)].collect().toSet

  private val seqs = DataGen.sequences(spark, 60000L, 8)

  /** Runs with a failing file sink, checks the failure contract, then
    * re-runs into the same directory with `fixed` as the file path. */
  private def failThenRerun(out: String, failing: String, fixed: String): Unit = {
    val jobStarts = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { jobStarts.add(j.time); () }
    }
    spark.sparkContext.addSparkListener(listener)
    val returned = try {
      intercept[Exception](Pipeline.run(spark, seqs, out, cfg(failing)))
      val t = System.currentTimeMillis()
      val atReturn = listing(out)
      Thread.sleep(2000)
      assert(listing(out) === atReturn, "a sink kept writing after run() returned")
      ListenerBusGlue.drain(spark.sparkContext)
      t
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    assert(!jobStarts.asScala.exists(_ > returned), "a sink started a job after run() returned")
    assert(new StateStore(s"$out/state").currentSnapshot === None,
      "a failed run must not commit state")

    val rerun = Pipeline.run(spark, seqs, out, cfg(fixed))
    val clean = tmpDir("sinkfail_clean")
    val reference = Pipeline.run(spark, seqs, clean, cfg(fixed))
    assert(rerun.stats === reference.stats)
    assert(checksums(out) === checksums(clean))
    assert(new StateStore(s"$out/state").currentSnapshot === Some(0))
  }

  test("a sink failing mid-write: its tasks cannot create their files") {
    val out = tmpDir("sinkfail_task")
    // a regular file where the file sink needs a directory: the sink's
    // write job starts, and its tasks fail
    Files.write(Paths.get(out, "blocker"), Array.emptyByteArray)
    failThenRerun(out, failing = "blocker/output.csv", fixed = "csv/output.csv")
  }

  test("a sink failing at once, while its siblings are mid-write") {
    // an invalid path fails the file sink before it starts a job, so the
    // other sinks are certainly still writing when it throws
    failThenRerun(tmpDir("sinkfail_path"), failing = "bad\u0000/output.csv",
      fixed = "csv/output.csv")
  }
}
