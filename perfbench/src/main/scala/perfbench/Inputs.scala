package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.pipeline.{DataGen, Pipeline, StateStore}

/**
 * Seeded input generation. The seed picks the doc-id range (and with it
 * every derived audit field), which tenth of the batch input the warm state
 * does NOT hold, and which stream files re-deliver earlier ids. The program
 * only ever sees the parquet files written here.
 */
object Inputs {

  /** First doc-id number for a seed: 12-digit ids, disjoint 1e9-wide ranges. */
  def idBase(seed: Long): Long = (Math.floorMod(seed, 900L) + 1L) * 1000000000L

  /** The `sequences` columns for a frame of numeric ids in column `id` —
    * the same column functions as `DataGen.sequences`, over an arbitrary
    * id range instead of `range(0, n)`. */
  def sequences(ids: DataFrame): DataFrame =
    ids
      .withColumn("tokens", GraftFunctions.gen_tokens(col("id"), DataGen.Vocab))
      .withColumn("doc_id", format_string("doc-%012d", col("id")))
      .withColumn("n_tok", size(col("tokens")))
      .withColumn("source",
        element_at(array(lit("wal"), lit("api"), lit("export")),
          (pmod(xxhash64(col("id"), lit(7)), lit(3)) + lit(1)).cast("int")))
      .select("doc_id", "tokens", "n_tok", "source")

  /** Batch input: ids [base, base+n) as `files` parquet files. */
  def writeBatchInput(spark: SparkSession, base: Long, n: Long, files: Int, dir: Path): Unit =
    sequences(spark.range(base, base + n, 1, files).toDF())
      .write.mode("overwrite").parquet(dir.toString)

  /** Ids of the warm state: every offset whose last decimal digit is not
    * `freshDigit` (90 %), split over 10 deltas by the tens digit. */
  def buildWarmState(spark: SparkSession, base: Long, n: Long, freshDigit: Int,
                     dir: Path, cfg: Pipeline.Config): Unit = {
    val store = new StateStore(dir.toString)
    val off = col("id") - lit(base)
    (0 until 10).foreach { d =>
      val ids = spark.range(base, base + n)
        .filter(pmod(off, lit(10)) =!= freshDigit && pmod(floor(off / 10), lit(10)) === d)
        .select(format_string("doc-%012d", col("id")).as("doc_id"))
      store.commit(spark, ids, "doc_id", cfg.expirationEpochSec, cfg.nowEpochSec)
    }
  }

  /** Rows of the batch input the warm state does not hold. */
  def warmFresh(spark: SparkSession, base: Long, n: Long, freshDigit: Int): DataFrame =
    sequences(spark.range(base, base + n).toDF()
      .filter(pmod(col("id") - lit(base), lit(10)) === freshDigit))

  /**
   * Stream input: `files` parquet files of `perFile` rows, each written as
   * its own file and stamped with increasing modification times, so the
   * file source lists them in order and `maxFilesPerTrigger` cuts the same
   * micro-batches on every run. A seeded choice of `files / 4` files in
   * later micro-batches starts with a quarter-file of ids re-delivered from
   * a file of an earlier micro-batch; the re-delivered rows are identical
   * to the originals. The count is fixed so that every seed routes about as
   * many rows. Returns the number of distinct ids.
   */
  def writeStreamInput(spark: SparkSession, base: Long, files: Int, perFile: Long,
                       filesPerBatch: Int, seed: Long, dir: Path, tmp: Path): Long = {
    val rnd = new scala.util.Random(seed)
    val redelivering = rnd.shuffle((filesPerBatch until files).toList).take(files / 4).toSet
    // source(f) = the earlier file f copies its first quarter from, or -1;
    // sources are files that re-deliver nothing, so every copy is a repeat
    val source = scala.collection.mutable.ArrayBuffer[Int]()
    (0 until files).foreach { f =>
      val originals = (0 until (f / filesPerBatch) * filesPerBatch).filter(source(_) < 0)
      source += (if (redelivering(f)) originals(rnd.nextInt(originals.size)) else -1)
    }
    val redeliver = perFile / 4
    val slot = col("id")
    val f = floor(slot / perFile).cast("int")
    val j = pmod(slot, lit(perFile))
    val src = element_at(array(source.toSeq.map(lit): _*), f + 1)
    val id = when(src >= 0 && j < redeliver, lit(base) + src.cast("long") * perFile + j)
      .otherwise(lit(base) + slot)
    // range(.., files) splits into exactly `files` equal contiguous slices
    sequences(spark.range(0, files * perFile, 1, files).select(id.as("id")))
      .write.mode("overwrite").parquet(tmp.toString)
    val parts = Files.list(tmp).toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.endsWith(".parquet")).sortBy(_.getFileName.toString)
    require(parts.length == files, s"expected $files stream files, got ${parts.length}")
    Files.createDirectories(dir)
    val t0 = System.currentTimeMillis() - 10L * 60 * 1000
    parts.zipWithIndex.foreach { case (p, i) =>
      val dst = streamFile(dir, i)
      Files.move(p, dst, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dst, FileTime.fromMillis(t0 + i * 1000L))
    }
    deleteTree(tmp)
    files * perFile - source.count(_ >= 0) * redeliver
  }

  /** The `i`-th stream input file; files sort by name as they were written. */
  def streamFile(dir: Path, i: Int): Path = dir.resolve(f"f-$i%03d.parquet")

  /** Expected per-content_type (rows, bit_xor checksum) of the routed set —
    * computed with `Pipeline.routedRecords` over the rows that should come
    * out fresh. */
  def reference(rows: DataFrame): Map[String, (Long, Long)] =
    Pipeline.routedRecords(rows, DataGen.routingRules)
      .groupBy("content_type")
      .agg(count(lit(1)).as("rows"), expr("bit_xor(xxhash64(doc_id, tokens))").as("checksum"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  def copyTree(src: Path, dst: Path): Unit =
    Files.walk(src).forEach { p =>
      val q = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, StandardCopyOption.REPLACE_EXISTING)
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))

  /** (bytes, data files) under `p`; data files exclude markers and checksums. */
  def diskUsage(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      var bytes = 0L; var files = 0L
      Files.walk(p).filter(Files.isRegularFile(_)).forEach { f =>
        bytes += Files.size(f)
        val n = f.getFileName.toString
        if (!n.startsWith(".") && !n.startsWith("_")) files += 1
      }
      (bytes, files)
    }
}
