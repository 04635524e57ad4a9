package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.extract.{ExtractorConfig, GoldenExtractor, PageLite}
import graft.pipeline.{Commit, ExtractPipeline, ParquetTableIO, TableIO}
import graft.sources.PageSource

/** A [[TableIO]] that forwards every call: stands in for wrappers such
  * as a tracing layer, which must not change ExtractJob's behaviour.
  */
final class DelegatingTableIO(io: TableIO) extends TableIO {
  override def readPages(spark: SparkSession, ident: String) = io.readPages(spark, ident)
  override def append(df: org.apache.spark.sql.DataFrame, ident: String): Unit = io.append(df, ident)
  override def readOrEmpty(spark: SparkSession, ident: String,
      schema: org.apache.spark.sql.types.StructType) = io.readOrEmpty(spark, ident, schema)
  override def appendCommit(df: org.apache.spark.sql.DataFrame, ident: String) = io.appendCommit(df, ident)
  override def readCommit(spark: SparkSession, commit: Commit) = io.readCommit(spark, commit)
  override def snapshotId(spark: SparkSession, ident: String) = io.snapshotId(spark, ident)
  override def reconcileOrphanFiles(spark: SparkSession, ident: String) =
    io.reconcileOrphanFiles(spark, ident)
}

/** Spark-level pipeline tests: byte-identity vs the documents oracle,
  * parallelism invariance (the byte-identity contract operationalized,
  * SURVEY.md §5.2.2), resume idempotence, plan shape, skew balance.
  */
class SparkPipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def tmp(): String =
    Files.createTempDirectory("graft-test").toString

  test("byte-identity: extracted text equals documents.text for every url") {
    val s = spark
    import s.implicits._
    val got = Queries.extracted(spark, sfDir)
      .toDF().select(col("url"), col("text")).as[(String, String)]
      .collect().toMap
    val want = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .collect().map { case (id, t) => PageSource.urlOf(id) -> t }.toMap
    assert(got.size == want.size)
    want.foreach { case (url, t) =>
      assert(got(url) == t, s"text mismatch for $url")
    }
  }

  test("parallelism invariance: digest identical at 1 vs 13 partitions") {
    val s = spark
    import s.implicits._
    val pages = Queries.pages(spark, sfDir).select(col("url"), col("warc_ts"), col("html"))
    def digest(np: Int): (Long, Long) = {
      val d = ExtractPipeline.globalDigest(
        ExtractPipeline.extractExpr(pages.repartition(np), ExtractorConfig.spaceJoined))
      val r = d.collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    assert(digest(1) == digest(13))
  }

  test("dedup_latest keeps exactly the later snapshot per url") {
    val s = spark
    import s.implicits._
    val deduped = ExtractPipeline.dedupAndCluster(
      Queries.pages(spark, sfDir, withDups = true).toDF(), 8)
    val n = deduped.count()
    val nUrls = deduped.select("url").distinct().count()
    assert(n == nUrls)
    val epochs = deduped
      .withColumn("doc_id", regexp_extract(col("url"), "/p/(\\d+)$", 1).cast("long"))
      .filter(col("doc_id") % PageSource.DupMod === 0)
      .select(col("doc_id"), col("warc_ts").cast("long").as("e"))
      .as[(Long, Long)].collect()
    assert(epochs.nonEmpty)
    epochs.foreach { case (id, e) =>
      assert(e == PageSource.EpochBase + id + PageSource.DupLagSec, s"doc $id kept wrong snapshot")
    }
  }

  test("ExtractJob: idempotent re-run and checkpoint resume (anti-join)") {
    val s = spark
    import s.implicits._
    val pagesDir = tmp() + "/pages"
    PageSource.genPages(spark, 300, 6).toDF().write.parquet(pagesDir)

    // full run
    val outA = tmp()
    val (rowsA, _) = ExtractJob.run(spark, pagesDir, outA, numLogicalParts = 16, jobId = "a")
    assert(rowsA == 300)

    // re-run on the same outDir: everything committed -> no new rows
    val (rowsA2, resumed) = ExtractJob.run(spark, pagesDir, outA, numLogicalParts = 16, jobId = "a2")
    assert(rowsA2 == rowsA)
    assert(resumed == 16)

    // simulated partial failure: pre-seed half the checkpoint, resume
    val outB = tmp()
    val ckpt = spark.read.schema(ParquetTableIO.checkpointSchema)
      .parquet(s"$outA/checkpoint_metrics")
      .filter(col("part_id") < 8)
    ParquetTableIO.append(ckpt, s"$outB/checkpoint_metrics")
    ExtractJob.run(spark, pagesDir, outB, numLogicalParts = 16, jobId = "b")
    val outRows = spark.read.parquet(s"$outB/pages_extracted")
    // only the un-committed parts were (re)written, no duplicates
    assert(outRows.select("url").distinct().count() == outRows.count())
    val expected = spark.read.parquet(s"$outA/pages_extracted")
      .filter(col("part_id") >= 8).select("url").as[String].collect().sorted.toSeq
    val got = outRows.select("url").as[String].collect().sorted.toSeq
    assert(got == expected)
  }

  test("ExtractJob honor-robots: planted noindex pages are excluded; default run unchanged") {
    val s = spark
    import s.implicits._
    val pagesDir = tmp() + "/pages"
    PageSource.fromDocuments(spark, sfDir, withDups = false).toDF().write.parquet(pagesDir)
    val ids = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("long")).as[Long].collect()
    val noindex = ids.filter(PageSource.isNoindex).toSet
    assert(noindex.nonEmpty, "corpus must plant at least one noindex page")

    val outGated = tmp()
    val (rowsG, _) = ExtractJob.run(spark, pagesDir, outGated, numLogicalParts = 8,
      jobId = "rg", honorRobots = true)
    assert(rowsG == ids.length - noindex.size)
    val urls = spark.read.parquet(s"$outGated/pages_extracted")
      .select("url").as[String].collect().toSet
    noindex.foreach(id => assert(!urls.contains(PageSource.urlOf(id)), s"noindex $id leaked"))

    val outDefault = tmp()
    val (rowsD, _) = ExtractJob.run(spark, pagesDir, outDefault, numLogicalParts = 8, jobId = "rd")
    assert(rowsD == ids.length, "default (ungated) run keeps every page")
  }

  test("ExtractJob single-pass: the pages scan executes exactly once per run") {
    val pagesDir = tmp() + "/pages"
    PageSource.genPages(spark, 200, 4).toDF().write.parquet(pagesDir)
    val scans = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        // count executed plans whose FILE SCAN location is the pages dir
        // (a lit(pagesPath) in a Project must not count — hence the
        // Location-line match, not a whole-plan substring match)
        val hit = qe.executedPlan.toString.linesIterator
          .exists(l => l.contains("Location") && l.contains(pagesDir))
        if (hit) scans.incrementAndGet()
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val (rows, _) = ExtractJob.run(spark, pagesDir, tmp(), numLogicalParts = 8, jobId = "once")
      assert(rows == 200)
      // QueryExecutionListener delivery is async: poll until stable
      var last = -1; var stableFor = 0
      while (stableFor < 5) {
        val c = scans.get
        if (c == last) stableFor += 1 else { stableFor = 0; last = c }
        Thread.sleep(100)
      }
      assert(scans.get == 1, s"pages dir scanned ${scans.get} times, expected 1")
    } finally spark.listenerManager.unregister(listener)
  }

  test("ExtractJob reconciliation: crash between output and checkpoint appends never duplicates rows") {
    val s = spark
    import s.implicits._
    val pagesDir = tmp() + "/pages"
    PageSource.genPages(spark, 300, 6).toDF().write.parquet(pagesDir)
    val outA = tmp()
    ExtractJob.run(spark, pagesDir, outA, numLogicalParts = 16, jobId = "a")

    // simulate: predecessor appended the OUTPUT but died before the
    // checkpoint append (the non-atomic two-commit window)
    val outC = tmp()
    ParquetTableIO.append(
      spark.read.parquet(s"$outA/pages_extracted"), s"$outC/pages_extracted")
    val (rows, resumed) = ExtractJob.run(spark, pagesDir, outC, numLogicalParts = 16, jobId = "c")
    assert(resumed == 16, "all orphaned parts must count as committed")
    assert(rows == 300)
    val out = spark.read.parquet(s"$outC/pages_extracted")
    assert(out.count() == 300, "orphaned parts were re-appended (duplicates)")
    assert(out.select("url").distinct().count() == 300)
    // the missing checkpoint rows were backfilled from the output files
    val ckpt = spark.read.schema(ParquetTableIO.checkpointSchema)
      .parquet(s"$outC/checkpoint_metrics")
    assert(ckpt.select("part_id").distinct().count() == 16)
    assert(ckpt.agg(sum("n_docs")).as[Long].collect()(0) == 300)
    assert(ckpt.filter(col("input_snapshot").startsWith("reconciled:")).count() == 16)
  }

  test("ExtractJob: a crashed MID-append (uncommitted data file) is reconciled, not trusted") {
    val pagesDir = tmp() + "/pages"
    PageSource.genPages(spark, 300, 6).toDF().write.parquet(pagesDir)
    val outD = tmp()
    ExtractJob.run(spark, pagesDir, outD, numLogicalParts = 16, jobId = "d")
    // simulate a crash mid-append: a data file lands in the table dir
    // but no commit list records it (its rows duplicate existing urls)
    val tableDir = new java.io.File(s"$outD/pages_extracted")
    val committed = tableDir.listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(committed.toPath,
      new java.io.File(tableDir, "part-debris-uncommitted.parquet").toPath)
    assert(spark.read.parquet(s"$outD/pages_extracted")
      .select("url").distinct().count() < spark.read.parquet(s"$outD/pages_extracted").count(),
      "setup: debris must introduce duplicates")
    val (rows, resumed) = ExtractJob.run(spark, pagesDir, outD, numLogicalParts = 16, jobId = "d2")
    assert(resumed == 16 && rows == 300)
    val out = spark.read.parquet(s"$outD/pages_extracted")
    assert(out.count() == 300 && out.select("url").distinct().count() == 300,
      "uncommitted debris must be removed on the next run")
    assert(!new java.io.File(tableDir, "part-debris-uncommitted.parquet").exists())
  }

  test("ExtractJob: persisted numLogicalParts wins over a divergent CLI value (resume soundness)") {
    val s = spark
    import s.implicits._
    val pagesDir = tmp() + "/pages"
    PageSource.genPages(spark, 300, 6).toDF().write.parquet(pagesDir)
    val outA = tmp()
    ExtractJob.run(spark, pagesDir, outA, numLogicalParts = 16, jobId = "a")

    // predecessor ran with P=16 and committed only parts 8..15
    val outH = tmp()
    ParquetTableIO.append(
      spark.read.parquet(s"$outA/pages_extracted").filter(col("part_id") >= 8),
      s"$outH/pages_extracted")
    ParquetTableIO.append(
      spark.read.schema(ParquetTableIO.checkpointSchema)
        .parquet(s"$outA/checkpoint_metrics").filter(col("part_id") >= 8),
      s"$outH/checkpoint_metrics")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$outH/parts.meta"),
      "16\n".getBytes)
    // resume asks for P=8 — without adoption, done={8..15} matches no
    // mod-8 id, every page re-extracts, and the table holds duplicates
    val (rows, _) = ExtractJob.run(spark, pagesDir, outH, numLogicalParts = 8, jobId = "h")
    assert(rows == 300)
    val out = spark.read.parquet(s"$outH/pages_extracted")
    assert(out.count() == 300 && out.select("url").distinct().count() == 300,
      "divergent CLI P must not corrupt the resume")
  }

  test("ExtractJob: a delegating TableIO also adopts the persisted numLogicalParts") {
    val pagesDir = tmp() + "/pages"
    PageSource.genPages(spark, 300, 6).toDF().write.parquet(pagesDir)
    val io = new DelegatingTableIO(ParquetTableIO)
    val out = tmp()
    ExtractJob.run(spark, pagesDir, out, numLogicalParts = 8, jobId = "w1", io = io)
    assert(new java.io.File(s"$out/parts.meta").exists(), "parts.meta must be written")
    // without adoption, parts 8..15 of P=16 look uncommitted and re-append
    val (rows, resumed) =
      ExtractJob.run(spark, pagesDir, out, numLogicalParts = 16, jobId = "w2", io = io)
    assert(rows == 300 && resumed == 8, s"rows=$rows resumed=$resumed")
    val table = spark.read.parquet(s"$out/pages_extracted")
    assert(table.count() == 300 && table.select("url").distinct().count() == 300,
      "the rerun must append no rows")
  }

  test("production pipeline handles a mixed HTML+PDF corpus (content sniffing)") {
    val s = spark
    import s.implicits._
    val pagesDir = tmp() + "/pages"
    val htmlPages = PageSource.genPages(spark, 100, 2).toDF()
    val pdfPages = (1000L until 1050L).map { id =>
      val text = PageSource.contentText(id, 40)
      graft.extract.Page(PageSource.urlOf(id),
        new java.sql.Timestamp((PageSource.EpochBase + id) * 1000L),
        graft.sources.PdfSource.wrapPdf(id, text),
        text, "en")
    }.toDF()
    htmlPages.unionByName(pdfPages).write.parquet(pagesDir)

    val outDir = tmp()
    val (rows, _) = ExtractJob.run(spark, pagesDir, outDir, numLogicalParts = 8, jobId = "mixed")
    assert(rows == 150)
    // PDF rows extracted through the SAME pipeline: text = paragraphs
    // joined by the default blockSep
    val got = spark.read.parquet(s"$outDir/pages_extracted")
      .withColumn("doc_id", regexp_extract(col("url"), "/p/(\\d+)$", 1).cast("long"))
      .filter(col("doc_id") >= 1000L)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toMap
    assert(got.size == 50)
    (1000L until 1050L).foreach { id =>
      val want = PageSource.paragraphs(PageSource.contentText(id, 40)).mkString("\n")
      assert(got(id) == want, s"pdf doc $id text mismatch")
    }
  }

  test("plan shape: hot-path scan never reads the decoy crawl text column") {
    val s = spark
    import s.implicits._
    val pagesDir = tmp() + "/pages"
    PageSource.genPages(spark, 50, 2).toDF().write.parquet(pagesDir)
    val pages = ParquetTableIO.readPages(spark, pagesDir)
    val extracted = ExtractPipeline.extractExpr(
      ExtractPipeline.inputGate(pages).select(col("url"), col("warc_ts"), col("html")),
      ExtractorConfig.default)
    val pipeline = ExtractPipeline.dedupAndCluster(ExtractPipeline.withPartId(extracted, 16), 4)
    val plan = pipeline.queryExecution.executedPlan.toString
    val read = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("url") && read.contains("html"), s"plan: $read")
    assert(!read.contains("text"), s"decoy column read! $read")
  }

  test("plan shape: dedupAndCluster uses exactly ONE exchange") {
    val s = spark
    import s.implicits._
    val extracted = Queries.extracted(spark, sfDir).toDF()
    val keyed = ExtractPipeline.withPartId(extracted, 64)
    val plan = ExtractPipeline.dedupAndCluster(keyed, 8)
      .queryExecution.executedPlan.toString
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$plan")
    assert(!plan.contains("rangepartitioning"), "no sampling pass expected")
  }

  test("dedupAndCluster equals the newest snapshot per url picked locally (values)") {
    val s = spark
    import s.implicits._
    val pages = Queries.pages(spark, sfDir, withDups = true)
      .select(col("url"), col("warc_ts"), col("html"))
    val extracted = ExtractPipeline.extractExpr(pages, ExtractorConfig.spaceJoined)
    val got = ExtractPipeline.dedupAndCluster(
        ExtractPipeline.withPartId(extracted, 64), 8)
      .select("url", "warc_ts", "text")
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getString(2))).sortBy(_._1).toSeq
    // reference: newest warc_ts per url picked from the collected rows,
    // text from the single-threaded GoldenExtractor
    val want = pages.as[PageLite].collect().groupBy(_.url).values
      .map(_.maxBy(_.warc_ts.getTime))
      .map(p => (p.url, p.warc_ts, GoldenExtractor.extract(p.html, ExtractorConfig.spaceJoined)._1))
      .toSeq.sortBy(_._1)
    assert(want.length < pages.count(), "setup: corpus must contain re-crawled urls")
    assert(got == want)
  }

  test("extract_page == GoldenExtractor row by row over HTML, PDF and WARC pages") {
    val s = spark
    import s.implicits._
    val cfg = ExtractorConfig.spaceJoined
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .collect().sortBy(_._1).take(60)
    val ts = (id: Long) => new java.sql.Timestamp((PageSource.EpochBase + id) * 1000L)
    val html = Queries.pages(spark, sfDir)
      .select(col("url"), col("warc_ts"), col("html")).as[PageLite].collect().toSeq ++
      PageSource.genPages(spark, 60, 2).collect().map(p => PageLite("gen:" + p.url, p.warc_ts, p.html))
    val pdf = docs.map { case (id, t) =>
      PageLite("pdf:" + PageSource.urlOf(id), ts(id), graft.sources.PdfSource.wrapPdf(id, t))
    }
    val warc = docs.grouped(5).zipWithIndex.flatMap { case (g, i) =>
      val file = graft.sources.WarcSource.buildWarcFile(
        g.map { case (id, t) => (id, PageSource.urlOf(id), PageSource.EpochBase + id,
          PageSource.wrapHtml(id, t)) }.toSeq,
        gzipPerRecord = i % 2 == 1)
      graft.sources.WarcSource.responses(file).map { case (url, epoch, body) =>
        PageLite("warc:" + url, new java.sql.Timestamp(epoch * 1000L), body)
      }
    }.toSeq
    assert(warc.length == docs.length)
    val input = html ++ pdf ++ warc

    type Fields = (java.sql.Timestamp, String, Seq[Int], Seq[Int], Seq[Int], Seq[Int],
      Int, Int, Long, Long)
    // scores compared by their bits: byte-identity, not float tolerance
    def bits(a: Iterable[Float]): Seq[Int] = a.map(java.lang.Float.floatToRawIntBits).toSeq
    val want: Map[String, Fields] = input.map { p =>
      val e = GoldenExtractor.extractPage(p, cfg)
      e.url -> (e.warc_ts, e.text, e.span_starts.toSeq, e.span_ends.toSeq,
        e.span_block_ids.toSeq, bits(e.span_scores), e.n_blocks, e.n_kept, e.bytes_in, e.bytes_out)
    }.toMap
    val got: Map[String, Fields] = ExtractPipeline.extractExpr(input.toDF(), cfg)
      .collect().map { r =>
        def arr[T](f: String): Seq[T] = r.getSeq[T](r.fieldIndex(f)).toSeq
        r.getAs[String]("url") -> (r.getAs[java.sql.Timestamp]("warc_ts"), r.getAs[String]("text"),
          arr[Int]("span_starts"), arr[Int]("span_ends"),
          arr[Int]("span_block_ids"), bits(arr[Float]("span_scores")),
          r.getAs[Int]("n_blocks"), r.getAs[Int]("n_kept"),
          r.getAs[Long]("bytes_in"), r.getAs[Long]("bytes_out"))
      }.toMap
    assert(got.size == input.length && want.size == input.length)
    want.foreach { case (url, w) => assert(got(url) == w, s"row mismatch for $url") }

    // no object-mode boundary when reading from parquet (the in-memory
    // input above is a LocalRelation, not the production scan)
    val pagesDir = tmp() + "/pages"
    PageSource.genPages(spark, 50, 2).toDF().write.parquet(pagesDir)
    val fromParquet = ExtractPipeline.extractExpr(
      ParquetTableIO.readPages(spark, pagesDir)
        .select(col("url"), col("warc_ts"), col("html")),
      ExtractorConfig.default)
    val plan = fromParquet.queryExecution.executedPlan.toString
    assert(!plan.contains("DeserializeToObject") && !plan.contains("SerializeFromObject"), plan)
    assert(fromParquet.count() == 50)
  }

  test("plan shape: input gate is pushed into the parquet scan") {
    val pagesDir = tmp() + "/pages"
    PageSource.genPages(spark, 50, 2).toDF().write.parquet(pagesDir)
    val gated = ExtractPipeline.inputGate(ParquetTableIO.readPages(spark, pagesDir))
    val plan = gated.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(html)]"), s"plan: $plan")
  }

  test("plan shape: lang predicate is pushed into the parquet scan") {
    val pagesDir = tmp() + "/pages"
    PageSource.genPages(spark, 50, 2).toDF().write.parquet(pagesDir)
    val langGated = ParquetTableIO.readPages(spark, pagesDir)
      .filter(col("lang") === "en")
      .select(col("url"), col("warc_ts"), col("html"))
    val plan = langGated.queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(scanLine.contains("EqualTo(lang,en)"), s"plan: $plan")
  }

  test("skew: url_hash range clustering balances a 50%-one-host corpus") {
    // PageSource host catalog gives host0 ~50% of pages by construction
    val pages = PageSource.genPages(spark, 2000, 8).toDF()
    val clustered = ExtractPipeline.clusterForWrite(
      ExtractPipeline.withPartId(pages, 64), 16)
    val sizes = clustered.groupBy(spark_partition_id().as("pid"))
      .count().select("count").collect().map(_.getLong(0))
    assert(sizes.length == 16)
    val avg = sizes.sum.toDouble / sizes.length
    assert(sizes.max <= avg * 1.5, s"skewed partitions: ${sizes.mkString(",")}")
  }

  test("stable part_id: in range, parallelism-independent") {
    val df = ExtractPipeline.withPartId(
      Queries.pages(spark, sfDir).toDF(), 64)
    val parts = df.select("part_id").distinct().collect().map(_.getInt(0))
    assert(parts.forall(p => p >= 0 && p < 64))
    val a = df.select("url", "part_id").collect().map(r => (r.getString(0), r.getInt(1))).toMap
    val b = ExtractPipeline.withPartId(Queries.pages(spark, sfDir).toDF().repartition(7), 64)
      .select("url", "part_id").collect().map(r => (r.getString(0), r.getInt(1))).toMap
    assert(a == b)
  }

  test("all SparkEntry queries execute and entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      val n = df.count()
      assert(n >= 0, s"$name failed")
      assert(df.columns.nonEmpty, s"$name has no columns")
    }
    // oracle keys must be a subset of query keys
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }
}
