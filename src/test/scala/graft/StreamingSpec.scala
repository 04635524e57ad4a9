package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.extract.{ExtractorConfig, GoldenExtractor, PageLite}
import graft.pipeline.ParquetTableIO
import graft.sources.PageSource
import graft.streaming.StreamingExtract

/** Streaming formulation equals the single-threaded GoldenExtractor
  * byte-for-byte, and the streaming checkpoint makes incremental drains
  * exactly-once.
  */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-streaming-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("streaming extract == batch extract (digest), incremental drain is exactly-once") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft-stream").toString
    val pagesDir = s"$base/pages"
    val outDir = s"$base/out"
    val ckpt = s"$base/ckpt"
    PageSource.genPages(spark, 200, 4).toDF().write.parquet(pagesDir)

    // drain 1
    StreamingExtract.start(spark, pagesDir, outDir, ckpt).awaitTermination()
    val afterFirst = spark.read.parquet(outDir).count()
    assert(afterFirst == 200)

    // batch reference: GoldenExtractor over the same input, collected
    val want = ParquetTableIO.readPages(spark, pagesDir)
      .select(col("url"), col("warc_ts"), col("html")).as[PageLite].collect()
      .map { p =>
        val e = GoldenExtractor.extractPage(p, ExtractorConfig.default)
        e.url -> (e.text, e.span_starts.toSeq, e.span_ends.toSeq, e.n_blocks, e.n_kept,
          e.bytes_in, e.bytes_out)
      }.toMap
    val got = spark.read.parquet(outDir).collect().map { r =>
      def ints(f: String): Seq[Int] = r.getSeq[Int](r.fieldIndex(f)).toSeq
      r.getAs[String]("url") -> (r.getAs[String]("text"), ints("span_starts"), ints("span_ends"),
        r.getAs[Int]("n_blocks"), r.getAs[Int]("n_kept"),
        r.getAs[Long]("bytes_in"), r.getAs[Long]("bytes_out"))
    }.toMap
    assert(got.size == 200 && got == want)

    // drain 2 with no new files: checkpoint must prevent re-processing
    StreamingExtract.start(spark, pagesDir, outDir, ckpt).awaitTermination()
    assert(spark.read.parquet(outDir).count() == 200)

    // new files land; drain 3 picks up exactly the increment
    PageSource.genPages(spark, 100, 2)
      .map(p => p.copy(url = p.url + "?v=2"))
      .toDF().write.mode("append").parquet(pagesDir)
    StreamingExtract.start(spark, pagesDir, outDir, ckpt).awaitTermination()
    assert(spark.read.parquet(outDir).count() == 300)
  }
}
