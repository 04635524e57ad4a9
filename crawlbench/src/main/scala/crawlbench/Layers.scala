package crawlbench

import java.nio.file.Files

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

import org.apache.spark.sql.DataFrame

import graft.extract.{Assembler, ContentTokenizer, GoldenExtractor, PageLite, Scorer}
import graft.pipeline.{ExtractPipeline, ParquetTableIO}
import graft.sources.{PageSource, WarcSource}

/** The traced run: per-layer metrics. Each metric names the end-to-end
  * metric it should move, and where:
  *
  *  - extract.* (GoldenExtractor/HtmlTokenizer/Scorer/Assembler, one
  *    thread over a fixed page sample): html_mb_per_s and cpu_s_per_kdoc
  *    on extract_fresh; barely extract_resume.
  *  - functions.extract_page_s (the `extract_page` expression: scan plus
  *    extractExpr into a noop sink, minus the scan alone): docs_per_s on
  *    extract_fresh.
  *  - tableio.* (phases of ExtractJob.run, split at its TableIO calls):
  *    wall_s on extract_resume (scan, probes); output_bytes_per_doc and
  *    wall_s on extract_fresh (append).
  *  - pipeline.* (ExtractPipeline's dedup/cluster exchange, counters of
  *    the append job): wall_s on extract_fresh.
  *  - extractjob.*: wall_s on extract_resume.
  *  - ingest.* / warc.*: wall_s on crawl_to_corpus.
  *  - curate.*: wall_s on crawl_to_corpus and nothing elsewhere.
  *  - jvm.* / spark.*: peak_rss_mb and cpu_s_per_kdoc everywhere.
  *
  * A metric whose layer the workload does not call is reported as 0,
  * with the reason under "absent" in context.json.
  */
object Layers {
  private val TracedIters = 2
  private val ProbeReps = 3
  private val KernelSample = 1000

  type Metrics = LinkedHashMap[String, (Double, String)]

  def traced(b: Main.Bench, m: Metrics): Unit = {
    val wl = b.wl
    val absent = LinkedHashMap[String, String]()
    def na(name: String, unit: String, why: String): Unit = { m(name) = (0.0, unit); absent(name) = why }

    b.setupOnce(0)
    b.warmup()
    // untraced and traced iterations in A-B-B-A order, so the JIT's
    // remaining speed-up does not show up as tracing overhead
    val plain = ArrayBuffer[Main.Sample]()
    plain ++= b.loop(0.0, 1)

    // ---- traced iterations: spans at every layer call + Spark counters
    val sc = b.spark.sparkContext
    val tr = new Tracer
    val counters = new SparkCounters(sc)
    sc.addSparkListener(counters)
    counters.sync()
    // the last traced iteration's directory is kept for the staged probe
    val keptIter = b.o.work.resolve(s"iter-${b.iterNo + TracedIters - 1}")
    final case class Traced(wall: Double, gcS: Double, win: SparkCounters.Window,
                            append: Seq[SparkCounters.Window], curate: Option[SparkCounters.Window])
    val traced = (0 until TracedIters).map { i =>
      tr.run = s"traced-$i"
      val gc0 = Main.gcMs()
      val sample = b.iteration(Some(tr), full = false, keep = i == TracedIters - 1)
      val gcS = (Main.gcMs() - gc0) / 1000.0
      counters.sync()
      val mine = tr.spans.filter(_.run == tr.run)
      val root = mine.find(_.name == "iteration").get
      val win = counters.window(root.start, root.end)
      win.jobs.foreach(j => tr.addJob(tr.run, j.start, j.end))
      def within(name: String) = mine.filter(_.name == name).map(s => counters.window(s.start, s.end))
      Traced(sample.wallS, gcS, win, within("tableio.append_commit"),
        within("curatejob.run").headOption)
    }
    plain ++= b.loop(0.0, 1)
    val runs = traced.indices.map(i => s"traced-$i").toSet
    val spans = tr.spans.filter(s => runs.contains(s.run))
    def perIter(name: String): Double =
      Main.median(traced.indices.map { i =>
        spans.filter(s => s.run == s"traced-$i" && s.name == name).map(s => s.end - s.start).sum / 1000.0
      })

    // ---- tableio.* phases and pipeline/extractjob counters
    m("tableio.resume_probe_s") = (perIter("tableio.resume_probe"), "s")
    m("tableio.reconcile_s") = (perIter("tableio.reconcile"), "s")
    m("tableio.append_commit_s") = (perIter("tableio.append_commit"), "s")
    m("tableio.read_commit_s") = (perIter("tableio.read_commit"), "s")
    m("tableio.output_files") = (b.context.getOrElse("output_files", 0L).toString.toDouble, "count")

    def appendSum(f: SparkCounters.Task => Double): Double =
      Main.median(traced.map(t => t.append.flatMap(_.tasks).map(f).sum))
    val scanned = appendSum(_.inRecords.toDouble)
    val extracted = appendSum(_.shuffleRecords.toDouble)
    val written = appendSum(_.outRecords.toDouble)
    m("pipeline.shuffle_write_mb") = (appendSum(_.shuffleWrite / 1e6), "MB")
    m("pipeline.spill_mb") = (appendSum(_.spill / 1e6), "MB")
    m("pipeline.dedup_dropped_rows") = (extracted - written, "count")
    m("pipeline.task_skew") = (Main.median(traced.map { t =>
      val byStage = t.append.flatMap(_.tasks).groupBy(_.stage).values.filter(_.size > 1)
      if (byStage.isEmpty) 1.0
      else byStage.map { ts =>
        val d = ts.map(_.durMs.toDouble)
        d.max / math.max(1.0, Main.median(d))
      }.max
    }), "ratio")
    m("extractjob.parts_resumed") = (wl.lastPartsResumed.toDouble, "count")
    m("extractjob.rows_scanned") = (scanned, "count")
    m("extractjob.rows_extracted") = (extracted, "count")
    m("extractjob.scan_useful_ratio") = (extracted / math.max(1.0, scanned), "ratio")

    // ---- staged probes over the pages table ExtractJob read
    val pagesPath = wl.pagesTable(b.dir, keptIter).toString
    val staged = stagedProbe(b, pagesPath, wl.extractCfg)
    m("tableio.scan_s") = (staged("scan"), "s")
    m("functions.extract_page_s") = (staged("extract") - staged("scan"), "s")
    m("pipeline.dedup_cluster_s") = (staged("dedup_cluster") - staged("extract"), "s")

    // ---- single-threaded kernel over a fixed page sample
    val kernel = kernelProbe(wl)
    m("extract.kernel_mb_per_s") = (kernel("mb_per_s"), "MB/s")
    m("extract.tokenize_s") = (kernel("tokenize_s"), "s")
    m("extract.score_assemble_s") = (kernel("score_assemble_s"), "s")

    // ---- ingest and curate (crawl_to_corpus)
    wl match {
      case c: CrawlToCorpus =>
        val ingestS = perIter("ingestjob.run")
        m("ingest.wall_s") = (ingestS, "s")
        m("ingest.warc_mb_per_s") = (c.warcBytes / 1e6 / ingestS, "MB/s")
        m("ingest.skipped_files") = (c.lastIngest.get.nSkipped.toDouble, "count")
        m("warc.parse_mb_per_s") = (warcProbe(b.dir.resolve("warc")), "MB/s")
        val cw = traced.flatMap(_.curate)
        val rep = c.lastCurate.get
        m("curate.wall_s") = (perIter("curatejob.run"), "s")
        m("curate.spark_jobs") = (Main.median(cw.map(_.jobs.size.toDouble)), "count")
        m("curate.stages") = (Main.median(cw.map(_.stagesRun.toDouble)), "count")
        m("curate.shuffle_write_mb") = (Main.median(cw.map(_.tasks.map(_.shuffleWrite).sum / 1e6)), "MB")
        m("curate.gate_pass_ratio") = (rep.nGated.toDouble / rep.nUrlDeduped, "ratio")
        m("curate.canonical_ratio") = (rep.nCanonical.toDouble / rep.nGated, "ratio")
      case _ =>
        val why = "the workload does not call IngestJob/CurateJob"
        Seq("ingest.wall_s" -> "s", "ingest.warc_mb_per_s" -> "MB/s", "ingest.skipped_files" -> "count",
          "warc.parse_mb_per_s" -> "MB/s", "curate.wall_s" -> "s", "curate.spark_jobs" -> "count",
          "curate.stages" -> "count", "curate.shuffle_write_mb" -> "MB",
          "curate.gate_pass_ratio" -> "ratio", "curate.canonical_ratio" -> "ratio")
          .foreach { case (n, u) => na(n, u, why) }
    }

    // ---- JVM and scheduler, per traced iteration
    m("jvm.gc_s") = (Main.median(traced.map(_.gcS)), "s")
    m("spark.tasks") = (Main.median(traced.map(_.win.tasks.size.toDouble)), "count")
    m("spark.executor_run_s") = (Main.median(traced.map(_.win.tasks.map(_.runMs).sum / 1000.0)), "s")
    m("spark.executor_cpu_s") = (Main.median(traced.map(_.win.tasks.map(_.cpuNs).sum / 1e9)), "s")

    // ---- tracing overhead and how much of wall_s the layer spans cover
    val plainWall = Main.median(plain.toSeq.map(_.wallS))
    val tracedWall = Main.median(traced.map(_.wall))
    m("trace.overhead_frac") = (tracedWall / plainWall - 1.0, "ratio")
    val layers = tr.layerMs(spans).map { case (n, ms) => n -> ms / 1000.0 / TracedIters }
    val rootS = spans.filter(_.name == "iteration").map(s => s.end - s.start).sum / 1000.0 / TracedIters
    val unattributed = layers.getOrElse("iteration", 0.0) + layers.getOrElse("extractjob.run", 0.0)
    m("trace.layer_coverage") = (1.0 - unattributed / rootS, "ratio")

    // ---- single-threaded baseline: local[1] against local[k]
    if (wl.isInstanceOf[ExtractFresh]) {
      b.spark.stop()
      b.spark = Main.session(1, b.o.work)
      val one = b.loop(0.0, 2)
      m("pipeline.scaling_eff") =
        (Main.median(one.map(_.wallS)) / (b.o.cores * plainWall), "ratio")
      b.context("scaling") = Map("cores" -> b.o.cores, "wall_s_local_k" -> plainWall,
        "wall_s_local_1" -> one.map(_.wallS))
    } else na("pipeline.scaling_eff", "ratio", "measured on extract_fresh only")

    tr.writeJsonl(b.o.artifacts.resolve("spans.jsonl"))
    b.context("layer_s_per_traced_iteration") = layers
    b.context("traced_iteration_s") = rootS
    b.context("absent") = absent.toMap
    b.context("staged_probe_s") = staged
    b.context("kernel_probe") = kernel
    b.context("wall_s_untraced") = plain.map(_.wallS)
    b.context("wall_s_traced") = traced.map(_.wall)
    Main.log(f"time per traced iteration by layer, summing to its wall $rootS%.3f s:\n" +
      layers.toSeq.sortBy(-_._2).map { case (n, v) => f"  $v%8.3f  $n" }.mkString("\n"))
  }

  /** Prefixes of ExtractJob's pipeline into a noop sink, median of
    * [[ProbeReps]] runs each: scan; + input gate and extract_page;
    * + part id and the dedup/cluster exchange.
    */
  private def stagedProbe(b: Main.Bench, pagesPath: String,
                          cfg: graft.extract.ExtractorConfig): Map[String, Double] = {
    val spark = b.spark
    val pages = ParquetTableIO.readPages(spark, pagesPath)
    val scan = pages.select("url", "warc_ts", "html")
    val extracted = ExtractPipeline.extractExpr(
      ExtractPipeline.inputGate(pages).select("url", "warc_ts", "html"), cfg)
    val clustered = ExtractPipeline.dedupAndCluster(
      ExtractPipeline.withPartId(extracted, Workloads.Parts), spark.sparkContext.defaultParallelism * 2)
    def noop(df: DataFrame): Double = Main.median((0 until ProbeReps).map { _ =>
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    })
    Map("scan" -> noop(scan), "extract" -> noop(extracted), "dedup_cluster" -> noop(clustered))
  }

  /** The extraction kernel on one thread over a fixed, seeded page
    * sample: whole-kernel MB/s, and seconds for the sample in the
    * tokenizer and in scoring plus assembly.
    */
  private def kernelProbe(wl: Workload): Map[String, Double] = {
    val cfg = wl.extractCfg
    val base = Corpus.idBase(wl.seed)
    val sample: IndexedSeq[PageLite] = (0 until KernelSample).map { i =>
      wl match {
        case _: CrawlToCorpus =>
          val (url, sec, text) = Corpus.crawlSnapshots(wl.seed, i.toLong).last
          PageLite(url, new java.sql.Timestamp(sec * 1000L), PageSource.wrapHtml(base + i, text))
        case _ =>
          val p = Corpus.latestSnapshot(wl.seed, base + i)
          PageLite(p.url, p.warc_ts, p.html)
      }
    }
    val bytes = sample.map(_.html.length.toLong).sum
    var sink = 0L
    def timed(f: PageLite => Int): Double = Main.median((0 until ProbeReps + 2).map { _ =>
      val t0 = System.nanoTime()
      sample.foreach(p => sink += f(p))
      (System.nanoTime() - t0) / 1e9
    }.drop(2))
    val kernel = timed(p => GoldenExtractor.extractPage(p, cfg).text.length)
    val tok = timed(p => ContentTokenizer.tokenize(p.html, cfg).length)
    val blocks = sample.map(p => p -> ContentTokenizer.tokenize(p.html, cfg)).toMap
    val sa = timed(p => Assembler.assembleColumnar(Scorer.score(p.url, blocks(p)), cfg).nSpans)
    Map("mb_per_s" -> bytes / 1e6 / kernel, "tokenize_s" -> tok, "score_assemble_s" -> sa,
      "sample_pages" -> KernelSample.toDouble, "sample_bytes" -> bytes.toDouble, "sink" -> sink.toDouble)
  }

  /** Single-threaded WARC parse of the crawl files, compressed MB/s. */
  private def warcProbe(dir: java.nio.file.Path): Double = {
    val files = {
      val s = Files.list(dir)
      try s.toArray.map(_.asInstanceOf[java.nio.file.Path]).sorted.map(Files.readAllBytes).toSeq
      finally s.close()
    }
    val bytes = files.map(_.length.toLong).sum
    var n = 0L
    val t = Main.median((0 until ProbeReps + 1).map { _ =>
      val t0 = System.nanoTime()
      files.foreach(f => WarcSource.responsesIterator(f).foreach(_ => n += 1))
      (System.nanoTime() - t0) / 1e9
    }.drop(1))
    bytes / 1e6 / t
  }
}
