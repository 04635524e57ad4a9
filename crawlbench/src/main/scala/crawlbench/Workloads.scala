package crawlbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{CurateJob, ExtractJob, IngestJob}
import graft.extract.{ExtractorConfig, GoldenExtractor}
import graft.pipeline.ExtractPipeline

/** Outcome of a correctness check: items checked and items wrong. */
final case class Check(checked: Long, misses: Long) {
  def +(o: Check): Check = Check(checked + o.checked, misses + o.misses)
}

/** One benchmark workload. The benchmark calls, in order: [[setup]]
  * (untimed inputs and prior state), then per iteration [[prepare]]
  * (untimed reset), [[run]] (the timed jobs) and [[check]].
  */
abstract class Workload(val name: String, val seed: Long) {
  /** Rows and html bytes the timed jobs read; set by [[setup]]. */
  var inputRows = 0L
  var inputHtmlBytes = 0L
  /** Extra inputs facts for the run artifact. */
  val facts = scala.collection.mutable.LinkedHashMap[String, Any]()

  def setup(spark: SparkSession, dir: Path): Unit
  def prepare(spark: SparkSession, dir: Path, iter: Path): Unit = ()
  def run(spark: SparkSession, dir: Path, iter: Path, tr: Option[Tracer]): Unit
  /** `full` adds the expensive url-level oracle to the digest checks. */
  def check(spark: SparkSession, dir: Path, iter: Path, full: Boolean): Check
  /** Tables the timed jobs wrote, ExtractJob's output first, and the rows
    * their bytes are divided by: the extracted documents, one per url.
    */
  def outputTables(iter: Path): Seq[Path]
  def outputRows: Long
  /** The pages table `ExtractJob` read in this iteration. */
  def pagesTable(dir: Path, iter: Path): Path
  def extractCfg: ExtractorConfig = ExtractorConfig.default

  protected def extract(spark: SparkSession, pages: Path, out: Path, jobId: String,
                        tr: Option[Tracer]): (Long, Long) = tr match {
    case None =>
      ExtractJob.run(spark, pages.toString, out.toString, Workloads.Parts, jobId, cfg = extractCfg)
    case Some(t) =>
      val io = new TracingTableIO(t)
      t.span("extractjob.run") {
        try ExtractJob.run(spark, pages.toString, out.toString, Workloads.Parts, jobId,
          cfg = extractCfg, io = io)
        finally io.finish()
      }
    }

  /** `ExtractJob.run`'s second result in the last iteration. */
  var lastPartsResumed = 0L
}

object Workloads {
  val Parts: Int = ExtractJob.DefaultLogicalParts
  val names: Seq[String] = Seq("extract_fresh", "extract_resume", "crawl_to_corpus")

  def apply(name: String, seed: Long): Workload = name match {
    case "extract_fresh" => new ExtractFresh(seed)
    case "extract_resume" => new ExtractResume(seed)
    case "crawl_to_corpus" => new CrawlToCorpus(seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (one of ${names.mkString(", ")})")
  }

  def digest(df: DataFrame): (Long, Long) = {
    val r = ExtractPipeline.globalDigest(df).collect()(0)
    (if (r.isNullAt(0)) 0L else r.getLong(0), r.getLong(1))
  }

  /** Bytes of the data files under a table directory. */
  def dataBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f) && f.getFileName.toString.startsWith("part-"))
        .mapToLong(f => Files.size(f)).sum()
      finally s.close()
    }

  def dataFiles(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f) && f.getFileName.toString.startsWith("part-")).count()
      finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
    } finally s.close()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
}

/** Shared by both extraction workloads: the seeded pages table, and the
  * url-level oracle — sampled urls, re-crawled ones first, must carry
  * `GoldenExtractor.extract` of their latest snapshot byte for byte.
  */
abstract class ExtractWorkload(name: String, seed: Long, val pages: Long)
    extends Workload(name, seed) {
  private var refDigest: Option[(Long, Long)] = None

  def pagesTable(dir: Path, iter: Path): Path = dir.resolve("pages")
  def outputTables(iter: Path): Seq[Path] =
    Seq(iter.resolve("out/pages_extracted"), iter.resolve("out/checkpoint_metrics"))
  def outputRows: Long = pages

  protected def writeInputs(spark: SparkSession, dir: Path): Unit = {
    val (rows, bytes) = Corpus.writePages(spark, seed, pages, dir.resolve("pages").toString)
    require(inputRows == 0L || (rows, bytes) == (inputRows, inputHtmlBytes),
      s"generator is not deterministic: ($rows, $bytes) != ($inputRows, $inputHtmlBytes)")
    inputRows = rows
    inputHtmlBytes = bytes
    facts("pages") = pages
    facts("recrawl_snapshots") = rows - pages
  }

  /** 256 sampled ids: up to 64 re-crawled pages, the rest spread evenly. */
  private def sampleIds: Seq[Long] = {
    val base = Corpus.idBase(seed)
    val recrawled = (0L until pages).iterator.map(base + _)
      .filter(Corpus.isRecrawled(seed, _)).take(64).toSeq
    val step = math.max(1L, pages / (256 - recrawled.size))
    (recrawled ++ (0L until pages by step).map(base + _)).distinct.take(256)
  }

  /** Digest and row count must equal the first run's; with `full` the
    * sampled urls are compared with the single-threaded kernel.
    */
  protected def checkOutput(spark: SparkSession, out: Path, full: Boolean): Check = {
    val table = spark.read.parquet(out.resolve("pages_extracted").toString)
    val d = Workloads.digest(table)
    val stable = refDigest.forall(_ == d) && d._2 == pages
    if (refDigest.isEmpty) refDigest = Some(d)
    facts("output_digest") = java.lang.Long.toHexString(d._1)
    facts("output_rows") = d._2
    val digestCheck = Check(1, if (stable) 0 else 1)
    if (!full) digestCheck
    else {
      val ids = sampleIds
      val want = ids.map { id =>
        val p = Corpus.latestSnapshot(seed, id)
        p.url -> (p.warc_ts, GoldenExtractor.extract(p.html, extractCfg)._1)
      }.toMap
      val rows = table.filter(col("url").isin(want.keys.toSeq: _*))
        .select("url", "warc_ts", "text").collect()
        .map(r => r.getString(0) -> (r.getTimestamp(1), r.getString(2)))
      val got = rows.toMap
      val wrong = want.count { case (u, w) => !got.get(u).contains(w) }
      val duplicated = rows.length - got.size
      digestCheck + Check(want.size.toLong, (wrong + duplicated).toLong)
    }
  }
}

/** extract_fresh — the production first pass: `ExtractJob.run` over the
  * whole pages table into an empty output directory. The extraction
  * kernel, the dedup/cluster shuffle and the write/commit path all do
  * real work, so this is where kernel and write-path changes show.
  */
final class ExtractFresh(seed: Long) extends ExtractWorkload("extract_fresh", seed, 12000L) {
  def setup(spark: SparkSession, dir: Path): Unit = writeInputs(spark, dir)
  def run(spark: SparkSession, dir: Path, iter: Path, tr: Option[Tracer]): Unit =
    lastPartsResumed = extract(spark, dir.resolve("pages"), iter.resolve("out"), "fresh", tr)._2
  def check(spark: SparkSession, dir: Path, iter: Path, full: Boolean): Check =
    checkOutput(spark, iter.resolve("out"), full) +
      Check(1, if (lastPartsResumed == 0L) 0 else 1)
}

/** extract_resume — crash recovery: 7/8 of the 256 logical parts (chosen
  * per seed) are already committed, and the timed rerun over the full
  * table extracts only the rest. The resume probes, the anti-join and
  * the full-html scan dominate; the kernel does 1/8 of the work, so a
  * kernel gain should barely move this workload. Not in BENCHMARK.json's
  * workload list, which has to fit the full protocol (22 runs of each
  * workload) in its time budget next to crawl_to_corpus; run it by name.
  */
final class ExtractResume(seed: Long) extends ExtractWorkload("extract_resume", seed, 24000L) {
  private val committed: Seq[Int] =
    (0 until Workloads.Parts).sortBy(p => Corpus.mix(seed, p.toLong)).take(Workloads.Parts * 7 / 8).sorted
  private var freshRef: Option[(Long, Long)] = None

  def setup(spark: SparkSession, dir: Path): Unit = {
    writeInputs(spark, dir)
    // the prior run saw only the committed parts' pages
    val prior = dir.resolve("pages_prior").toString
    ExtractPipeline.withPartId(spark.read.parquet(dir.resolve("pages").toString), Workloads.Parts)
      .filter(col("part_id").isin(committed: _*))
      .drop("url_hash", "part_id")
      .write.mode("overwrite").parquet(prior)
    ExtractJob.run(spark, prior, dir.resolve("prior").toString, Workloads.Parts, "prior")
    facts("parts_committed_before") = committed.size
  }

  override def prepare(spark: SparkSession, dir: Path, iter: Path): Unit =
    Workloads.copyTree(dir.resolve("prior"), iter.resolve("out"))

  def run(spark: SparkSession, dir: Path, iter: Path, tr: Option[Tracer]): Unit =
    lastPartsResumed = extract(spark, dir.resolve("pages"), iter.resolve("out"), "resume", tr)._2

  /** Row count and digest equal a fresh run on the same seed; every part
    * is checkpointed exactly once and the checkpoint sums to the rows.
    */
  def check(spark: SparkSession, dir: Path, iter: Path, full: Boolean): Check = {
    val ref = freshRef.getOrElse {
      val out = dir.resolve("fresh_ref")
      ExtractJob.run(spark, dir.resolve("pages").toString, out.toString, Workloads.Parts, "ref")
      val d = Workloads.digest(spark.read.parquet(out.resolve("pages_extracted").toString))
      Workloads.deleteTree(out)
      freshRef = Some(d)
      d
    }
    val out = iter.resolve("out")
    val d = Workloads.digest(spark.read.parquet(out.resolve("pages_extracted").toString))
    val ck = spark.read.parquet(out.resolve("checkpoint_metrics").toString)
      .groupBy("part_id").agg(count(lit(1)).as("n"), sum("n_docs").as("docs"))
      .agg(count(lit(1)), max("n"), sum("docs")).collect()(0)
    val partsOk = ck.getLong(0) == Workloads.Parts && ck.getLong(1) == 1L &&
      ck.getLong(2) == d._2 && lastPartsResumed == committed.size
    checkOutput(spark, out, full) +
      Check(2, (if (d == ref) 0 else 1) + (if (partsOk) 0 else 1))
  }
}

/** crawl_to_corpus — crawl dump to training corpus: gzip-per-record WARC
  * files through `IngestJob.run` → `ExtractJob.run` → `CurateJob.run`.
  * The text is a Zipf vocabulary with planted exact and near duplicates,
  * repetitive spam and stubs, so every stage of the curation funnel gets
  * real volume; WARC parsing, ingest and curation dominate, extraction
  * is a minor share.
  */
final class CrawlToCorpus(seed: Long) extends Workload("crawl_to_corpus", seed) {
  val docs = 3000L
  val warcFiles = 8
  var warcBytes = 0L
  var lastIngest: Option[IngestJob.IngestReport] = None
  var lastCurate: Option[CurateJob.CurateReport] = None
  private var refCurate: Option[CurateJob.CurateReport] = None
  private var refDigest: Option[(Long, Long)] = None

  override def extractCfg: ExtractorConfig = ExtractorConfig.spaceJoined
  def pagesTable(dir: Path, iter: Path): Path = iter.resolve("pages")
  def outputTables(iter: Path): Seq[Path] =
    Seq("extract/pages_extracted", "pages", "extract/checkpoint_metrics",
      "curate/shards", "curate/curate_metrics").map(iter.resolve)
  def outputRows: Long = docs

  def setup(spark: SparkSession, dir: Path): Unit = {
    val (recs, html, gz) =
      Corpus.writeWarcs(spark, seed, docs, warcFiles, dir.resolve("warc").toString)
    require(inputRows == 0L || (recs, html) == (inputRows, inputHtmlBytes),
      "generator is not deterministic")
    inputRows = recs
    inputHtmlBytes = html
    warcBytes = gz
    facts("docs") = docs
    facts("warc_files") = warcFiles
    facts("warc_bytes") = gz
  }

  def run(spark: SparkSession, dir: Path, iter: Path, tr: Option[Tracer]): Unit = {
    def step[T](name: String)(body: => T): T = tr.fold(body)(_.span(name)(body))
    lastIngest = Some(step("ingestjob.run") {
      IngestJob.run(spark, dir.resolve("warc").toString, iter.resolve("pages").toString)
    })
    lastPartsResumed = extract(spark, iter.resolve("pages"), iter.resolve("extract"), "crawl", tr)._2
    lastCurate = Some(step("curatejob.run") {
      CurateJob.run(spark, iter.resolve("extract/pages_extracted").toString,
        iter.resolve("curate").toString)
    })
  }

  /** Ingest sees every record; the funnel report and the extract digest
    * repeat exactly; the funnel has volume after the gate and drops the
    * planted duplicates; with `full`, every extracted text equals the
    * generated text of its url's latest snapshot.
    */
  def check(spark: SparkSession, dir: Path, iter: Path, full: Boolean): Check = {
    val ing = lastIngest.get
    val rep = lastCurate.get
    val table = spark.read.parquet(iter.resolve("extract/pages_extracted").toString)
    val d = Workloads.digest(table)
    val stable = refDigest.forall(_ == d) && refCurate.forall(_ == rep) && d._2 == docs
    if (refDigest.isEmpty) { refDigest = Some(d); refCurate = Some(rep) }
    val funnelOk = rep.nGated * 2 > rep.nUrlDeduped && rep.nCanonical < rep.nGated &&
      rep.nGated < rep.nUrlDeduped && rep.nSampled > 0
    facts("output_digest") = java.lang.Long.toHexString(d._1)
    facts("output_rows") = d._2
    facts("curate_report") = rep.toString
    val base = Check(4, Seq(ing.nPages == inputRows, ing.nSkipped == 0L, stable, funnelOk)
      .count(!_).toLong)
    if (!full) base
    else {
      val want = Corpus.expectedCrawlText(spark, seed, docs)
      val r = want.join(table.select(col("url"), col("text").as("got")), Seq("url"), "full_outer")
        .agg(count(lit(1)), sum(when(col("text").eqNullSafe(col("got")), 0).otherwise(1)))
        .collect()(0)
      base + Check(r.getLong(0), r.getLong(1))
    }
  }
}
