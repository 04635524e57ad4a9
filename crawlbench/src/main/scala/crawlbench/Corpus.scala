package crawlbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.extract.Page
import graft.sources.{PageSource, WarcSource}

/** Seeded input generators. Everything is a pure function of (seed, id),
  * so the same seed gives the same files on any partitioning, and the
  * correctness oracles can regenerate any single document in the
  * benchmark process without reading the program's output.
  */
object Corpus {

  /** Ids of one seed occupy [base, base + IdSpan): seeds that differ
    * modulo IdBases never share urls. A page's first snapshot is dated
    * EpochBase + id seconds, so ids stay below 2^32 (about year 2160):
    * larger ones overflow Spark's microsecond timestamps.
    */
  private val IdSpan = 1L << 16
  private val IdBases = 1L << 16

  def idBase(seed: Long): Long = Math.floorMod(seed, IdBases) * IdSpan

  /** Keyed hash of (seed, x): the per-seed choice of re-crawls, planted
    * duplicates and the resume split.
    */
  def mix(seed: Long, x: Long): Long =
    PageSource.splitmix64(x ^ PageSource.splitmix64(seed ^ 0x6c62272e07bb0142L))

  private def pct(seed: Long, x: Long, salt: Long): Int =
    Math.floorMod(mix(seed + salt, x), 100L).toInt

  private def ts(epochSec: Long) = new Timestamp(epochSec * 1000L)

  /** A re-crawl lands one week after the first snapshot. */
  val RecrawlLagSec: Long = 7L * 86400L
  /** A re-crawl's html comes from a far-away id, so its text differs. */
  private val RecrawlShift: Long = 1L << 50

  // ---------------------------------------------------------------------
  // Extraction corpus (extract_fresh, extract_resume)
  // ---------------------------------------------------------------------

  /** About 3% of urls get a later snapshot with different html. */
  def isRecrawled(seed: Long, id: Long): Boolean = pct(seed, id, 1L) < 3

  /** All snapshots of page `id`: the first crawl (PageSource's three DOM
    * classes and 50%-one-host skew) and, for re-crawled urls, a newer
    * snapshot whose html is another generated page.
    */
  def pageSnapshots(seed: Long, id: Long): Seq[Page] = {
    val first = PageSource.genPageScaled(id, 1)
    if (!isRecrawled(seed, id)) Seq(first)
    else {
      val other = PageSource.genPageScaled(id + RecrawlShift, 1)
      Seq(first, other.copy(url = first.url,
        warc_ts = ts(first.warc_ts.getTime / 1000L + RecrawlLagSec)))
    }
  }

  /** The snapshot extraction must keep for page `id`. */
  def latestSnapshot(seed: Long, id: Long): Page = pageSnapshots(seed, id).last

  /** Writes the pages table (the production input schema) for pages
    * base..base+n; returns (rows, html bytes).
    */
  def writePages(spark: SparkSession, seed: Long, n: Long, dir: String): (Long, Long) = {
    import spark.implicits._
    require(n <= IdSpan, s"$n pages exceed the $IdSpan ids of a seed")
    val base = idBase(seed)
    val pages = spark.range(0L, n, 1L, 16).as[Long].flatMap(i => pageSnapshots(seed, base + i))
    pages.toDF().write.mode(SaveMode.Overwrite).parquet(dir)
    val r = spark.read.parquet(dir)
      .selectExpr("count(1)", "coalesce(sum(length(html)), 0L)").collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  // ---------------------------------------------------------------------
  // Crawl corpus (crawl_to_corpus): Zipf text with planted duplicates
  // ---------------------------------------------------------------------

  private val VocabSize = 20000
  private val Letters = "abcdefghijklmnopqrstuvwxyz"

  /** Fixed pseudo-word vocabulary, rank 0 most frequent. */
  private lazy val Vocab: Array[String] = Array.tabulate(VocabSize) { r =>
    // rarer words are longer, as in natural text
    var h = PageSource.splitmix64(0x70c0L + r)
    val len = 1 + r.toString.length + Math.floorMod(h, 6L).toInt
    val sb = new java.lang.StringBuilder(len)
    var i = 0
    while (i < len) {
      h = PageSource.splitmix64(h)
      sb.append(Letters.charAt(Math.floorMod(h, 26L).toInt))
      i += 1
    }
    sb.toString
  }

  /** Zipf(s = 1) cumulative weights over the vocabulary ranks. */
  private lazy val ZipfCdf: Array[Double] = {
    val w = Array.tabulate(VocabSize)(r => 1.0 / (r + 1))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  private def zipfWord(h: Long): String = {
    val u = (h >>> 11).toDouble / (1L << 53).toDouble
    val i = java.util.Arrays.binarySearch(ZipfCdf, u)
    Vocab(math.min(VocabSize - 1, if (i >= 0) i else -i - 1))
  }

  /** Natural-looking document text: 60..400 Zipf words, a period every
    * eleven words. Single spaces only, so `PageSource.wrapHtml` extracts
    * it byte for byte with `ExtractorConfig.spaceJoined`.
    */
  def naturalText(key: Long): String = {
    var h = PageSource.splitmix64(key ^ 0x7e47L)
    val n = 60 + Math.floorMod(h, 341L).toInt
    val sb = new java.lang.StringBuilder(n * 7)
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      h = PageSource.splitmix64(h)
      sb.append(zipfWord(h))
      if (i % 11 == 10) sb.append('.')
      i += 1
    }
    sb.toString
  }

  /** Document kinds: the curation funnel's dedup and gate stages each
    * get real volume, and most documents survive to the later stages.
    */
  sealed trait Kind
  case object Natural extends Kind
  final case class ExactDup(of: Long) extends Kind
  final case class NearDup(of: Long) extends Kind
  case object Repetitive extends Kind
  case object Short extends Kind

  def kind(seed: Long, d: Long): Kind = {
    val p = pct(seed, d, 2L)
    // a duplicate copies one of the previous 64 documents
    def source = d - 1 - Math.floorMod(mix(seed + 3L, d), math.min(d, 64L))
    if (d > 0 && p < 8) ExactDup(source)
    else if (d > 0 && p < 16) NearDup(source)
    else if (p < 23) Repetitive
    else if (p < 26) Short
    else Natural
  }

  /** Text of crawl document `d` (first snapshot). Duplicates copy the
    * natural text of their source, whatever the source's own kind.
    */
  def crawlText(seed: Long, d: Long): String = {
    val key = idBase(seed) + d
    kind(seed, d) match {
      case Natural => naturalText(key)
      case ExactDup(of) => naturalText(idBase(seed) + of)
      case NearDup(of) =>
        // replace every 25th word: word-set Jaccard stays above 0.8
        val w = naturalText(idBase(seed) + of).split(' ')
        var h = PageSource.splitmix64(key)
        var i = 3
        while (i < w.length) {
          h = PageSource.splitmix64(h); w(i) = zipfWord(h); i += 25
        }
        w.mkString(" ")
      case Repetitive =>
        val h = PageSource.splitmix64(key ^ 0x4e9L)
        Array.tabulate(80 + Math.floorMod(h, 120L).toInt)(i => Vocab(Math.floorMod(h + i % 7, 40L).toInt)).mkString(" ")
      case Short => Vocab(Math.floorMod(key, 900L).toInt) + " " + Vocab(7)
    }
  }

  /** (url, epochSec, text) of every snapshot of crawl document `d`;
    * about 3% get a newer snapshot with fresh text.
    */
  def crawlSnapshots(seed: Long, d: Long): Seq[(String, Long, String)] = {
    val id = idBase(seed) + d
    val url = PageSource.urlOf(id)
    val first = (url, PageSource.EpochBase + d, crawlText(seed, d))
    if (!isRecrawled(seed, id)) Seq(first)
    else Seq(first, (url, first._2 + RecrawlLagSec, naturalText(id + RecrawlShift)))
  }

  /** Writes `files` gzip-per-record WARC files holding n documents and
    * their re-crawls; returns (records, html bytes, compressed bytes).
    */
  def writeWarcs(spark: SparkSession, seed: Long, n: Long, files: Int,
                 dir: String): (Long, Long, Long) = {
    require(n <= IdSpan, s"$n documents exceed the $IdSpan ids of a seed")
    new java.io.File(dir).mkdirs()
    val stats = spark.sparkContext.parallelize(0 until files, files).map { f =>
      val recs = (f.toLong until n by files.toLong).flatMap { d =>
        crawlSnapshots(seed, d).map { case (url, sec, text) =>
          (idBase(seed) + d, url, sec, PageSource.wrapHtml(idBase(seed) + d, text))
        }
      }
      val bytes = WarcSource.buildWarcFile(recs, gzipPerRecord = true)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, f"crawl-$f%05d.warc.gz"), bytes)
      (recs.size.toLong, recs.map(_._4.length.toLong).sum, bytes.length.toLong)
    }.collect()
    (stats.map(_._1).sum, stats.map(_._2).sum, stats.map(_._3).sum)
  }

  /** Expected extraction of the crawl corpus: (url, text) of each url's
    * latest snapshot, built from the generator alone.
    */
  def expectedCrawlText(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(0L, n, 1L, 8).as[Long]
      .map(d => { val s = crawlSnapshots(seed, d).last; (s._1, s._3) })
      .toDF("url", "text")
  }
}
