package graft.pipeline

import graft.SparkSuite
import org.apache.hadoop.fs.Path
import org.apache.parquet.format.{PageType, Util}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import scala.jdk.CollectionConverters._

/**
 * Dedup-state durability is never traded for sink-write speed: the sink
 * files skip parquet page CRCs (a measured write-speed win), the state
 * snapshots keep them — even in a session that switches them off for
 * every writer.
 */
class PageChecksumSpec extends SparkSuite {

  /** For each data page of the first parquet file under `dir`: does its
    * header carry a CRC? */
  private def dataPageCrcs(dir: String): Seq[Boolean] = {
    val file = new java.io.File(dir).listFiles().map(_.getPath)
      .filter(_.endsWith(".parquet")).min
    val conf = spark.sparkContext.hadoopConfiguration
    val input = HadoopInputFile.fromPath(new Path(file), conf)
    val reader = ParquetFileReader.open(input)
    val stream = input.newStream()
    try {
      for {
        block <- reader.getFooter.getBlocks.asScala.toSeq
        chunk <- block.getColumns.asScala.toSeq
        crc <- {
          val found = Seq.newBuilder[Boolean]
          var pos = chunk.getStartingPos
          while (pos < chunk.getStartingPos + chunk.getTotalSize) {
            stream.seek(pos)
            val header = Util.readPageHeader(stream)
            if (header.getType == PageType.DATA_PAGE || header.getType == PageType.DATA_PAGE_V2)
              found += header.isSetCrc
            pos = stream.getPos + header.getCompressed_page_size
          }
          found.result()
        }
      } yield crc
    } finally { stream.close(); reader.close() }
  }

  private def runCrcs(): (Seq[Boolean], Seq[Boolean]) = {
    val out = tmpDir("crc")
    Pipeline.run(spark, DataGen.sequences(spark, 2000L, 2), out)
    (dataPageCrcs(new StateStore(s"$out/state").snapshotPath(0)),
      dataPageCrcs(s"$out/graylog"))
  }

  test("state snapshots carry page CRCs, sink files do not") {
    val (state, sink) = runCrcs()
    assert(state.nonEmpty && state.forall(identity), s"state data pages with a CRC: $state")
    assert(sink.nonEmpty && !sink.exists(identity), s"sink data pages with a CRC: $sink")
  }

  test("state snapshots keep page CRCs in a session that switches them off") {
    val hadoop = spark.sparkContext.hadoopConfiguration
    val key = "parquet.page.write-checksum.enabled"
    val before = Option(hadoop.get(key))
    hadoop.set(key, "false")
    val (state, _) =
      try runCrcs()
      finally before match {
        case Some(v) => hadoop.set(key, v)
        case None => hadoop.unset(key)
      }
    assert(state.nonEmpty && state.forall(identity), s"state data pages with a CRC: $state")
  }
}
