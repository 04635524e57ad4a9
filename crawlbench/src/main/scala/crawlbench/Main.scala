package crawlbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

import org.apache.spark.sql.SparkSession

/** The benchmark process: one workload, one seed, one closed-loop client
  * on a single-process `local[k]` Spark session.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --cores K --work DIR --artifacts DIR
  *
  * Untraced (`--trace 0`): set up three times from scratch (inputs and
  * prior state; setup_s is their median), run untimed warm-up
  * iterations, then timed iterations back to back for at least S seconds
  * and three iterations, and report the end-to-end medians. Iterations
  * during which the hypervisor stole CPU from this machine are left out
  * of the medians when most are clean, and short ones are repeated for
  * up to S more seconds.
  * Traced (`--trace 1`): untraced and traced iterations, the staged and
  * single-threaded layer probes, and the per-layer metrics; spans go to
  * `spans.jsonl` in the artifact directory.
  *
  * Prints `CRAWLBENCH_RESULT <json>` as its last stdout line; exits 1
  * when any job threw or any output failed its correctness check.
  */
object Main {
  private val MinIters = 3
  /** Share of the machine's CPU time the hypervisor may steal during an
    * iteration before its sample is set aside (see [[Bench.loop]]).
    */
  private val MaxSteal = 0.02
  private val SetupReps = 3

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        cores: Int, work: Path, artifacts: Path)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("cores").toInt, Paths.get(need("work")).toAbsolutePath,
      Paths.get(need("artifacts")).toAbsolutePath)
  }

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .appName("crawlbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def log(msg: String): Unit = System.err.println(s"[crawlbench] ${java.time.LocalTime.now()} $msg")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum
  }

  /** Resets the kernel's peak-RSS mark so VmHWM covers only what follows. */
  private def resetPeakRss(): Boolean =
    scala.util.Try(Files.write(Paths.get("/proc/self/clear_refs"), "5".getBytes)).isSuccess

  /** Machine-wide (steal, total) CPU ticks from /proc/stat. */
  private def cpuTicks(): (Long, Long) = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val t = src.getLines().next().trim.split("\\s+").slice(1, 9).map(_.toLong)
      (t(7), t.sum)
    } finally src.close()
  }.getOrElse((0L, 0L))

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  /** One timed iteration's measurements; `steal` is the share of the
    * machine's CPU time the hypervisor gave to other guests meanwhile.
    */
  final case class Sample(wallS: Double, cpuS: Double, outBytes: Long, steal: Double) {
    def clean: Boolean = steal <= MaxSteal
  }

  /** State shared by the phases of one benchmark process. */
  final class Bench(val o: Opts, var spark: SparkSession, val wl: Workload) {
    val checks = ArrayBuffer[Check]()
    var jobFailures = 0L
    var iterNo = 0
    val context = LinkedHashMap[String, Any]()

    def dir: Path = o.work.resolve("inputs")

    /** prepare → timed run → check; the iteration directory is removed
      * unless `keep`.
      */
    def iteration(tr: Option[Tracer], full: Boolean, keep: Boolean = false): Sample = {
      val iter = o.work.resolve(s"iter-$iterNo")
      iterNo += 1
      wl.prepare(spark, dir, iter)
      val (s0, all0) = cpuTicks()
      val c0 = cpuNs()
      val t0 = System.nanoTime()
      tr.fold(wl.run(spark, dir, iter, None))(t => t.span("iteration")(wl.run(spark, dir, iter, tr)))
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (cpuNs() - c0) / 1e9
      val (s1, all1) = cpuTicks()
      val steal = (s1 - s0).toDouble / math.max(1L, all1 - all0)
      val check = wl.check(spark, dir, iter, full)
      checks += check
      val bytes = wl.outputTables(iter).map(Workloads.dataBytes).sum
      context("output_files") = Workloads.dataFiles(wl.outputTables(iter).head)
      if (!keep) Workloads.deleteTree(iter)
      log(f"iteration ${iterNo - 1} wall $wall%.3f s, cpu $cpu%.2f s, steal $steal%.3f, " +
        s"check ${check.misses}/${check.checked} wrong")
      Sample(wall, cpu, bytes, steal)
    }

    /** One setup repetition: inputs and prior state, from scratch. */
    def setupOnce(r: Int): Double = {
      Workloads.deleteTree(dir)
      val t0 = System.nanoTime()
      wl.setup(spark, dir)
      val secs = (System.nanoTime() - t0) / 1e9
      log(f"setup $r $secs%.3f s")
      secs
    }

    /** Untimed iterations for twice as long as the timed loop lasts, at
      * least one: JIT compilation and Spark's lazy initialisation keep
      * speeding up iterations of a fresh JVM for several seconds, whatever
      * their size, and the compiler threads' CPU time would otherwise land
      * in the timed iterations' cpu_s. The first gets the full check.
      */
    def warmup(): Unit = loop(2 * o.seconds, 1)

    /** Untraced iterations, the first with the full check: at least
      * `minIters` and `seconds`, and while fewer than `minIters` ran
      * without steal above MaxSteal, up to `seconds` more — on a shared
      * host another guest's burst would otherwise decide the median.
      */
    def loop(seconds: Double, minIters: Int): Seq[Sample] = {
      val out = ArrayBuffer[Sample]()
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      while (out.size < minIters || elapsed < seconds ||
          (out.count(_.clean) < minIters && elapsed < 2 * seconds))
        out += iteration(None, full = out.isEmpty)
      out.toSeq
    }

    def attempted: Long = checks.map(_.checked).sum + jobFailures
    def failed: Long = checks.map(_.misses).sum + jobFailures
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Files.createDirectories(o.work)
    Files.createDirectories(o.artifacts)
    val wl = Workloads(o.workload, o.seed)
    val spark = session(o.cores, o.work)
    val b = new Bench(o, spark, wl)
    val metrics = LinkedHashMap[String, (Double, String)]()
    val ok = try {
      if (o.trace) Layers.traced(b, metrics) else endToEnd(b, metrics)
      true
    } catch {
      case e: Throwable =>
        b.jobFailures += 1
        System.err.println(s"[crawlbench] job failed: $e")
        e.printStackTrace()
        false
    }
    b.context("workload") = o.workload
    b.context("seed") = o.seed
    b.context("cores") = o.cores
    b.context("inputs") = wl.facts.toMap ++ Map("input_rows" -> wl.inputRows,
      "input_html_bytes" -> wl.inputHtmlBytes)
    b.context("spark_conf") = b.spark.conf.getAll.filter(_._1.startsWith("spark.")).toMap
    b.context("jvm_args") = {
      import scala.jdk.CollectionConverters._
      ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
    }
    val correct = ok && b.failed == 0L
    val result = Json.obj(
      "correct" -> correct,
      "attempted" -> math.max(1L, b.attempted),
      "failed" -> b.failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })
    Files.write(o.artifacts.resolve("context.json"), Json.value(b.context).getBytes("UTF-8"))
    b.spark.stop()
    println("CRAWLBENCH_RESULT " + result)
    if (!correct) sys.exit(1)
  }

  /** The end-to-end metrics, tracing off. */
  private def endToEnd(b: Bench, m: LinkedHashMap[String, (Double, String)]): Unit = {
    val setups = (0 until SetupReps).map(b.setupOnce)
    b.warmup()
    val rssReset = resetPeakRss()
    val all = b.loop(b.o.seconds, MinIters)
    val clean = all.filter(_.clean)
    val samples = if (clean.size * 2 > all.size) clean else all
    val wl = b.wl
    val walls = samples.map(_.wallS)
    val wall = median(walls)
    m("wall_s") = (wall, "s")
    m("docs_per_s") = (wl.inputRows / wall, "1/s")
    m("html_mb_per_s") = (wl.inputHtmlBytes / 1e6 / wall, "MB/s")
    m("cpu_s_per_kdoc") = (median(samples.map(_.cpuS * 1000.0 / wl.inputRows)), "s")
    m("peak_rss_mb") = (peakRssMb(), "MB")
    m("output_bytes_per_doc") = (median(samples.map(_.outBytes.toDouble / wl.outputRows)), "B")
    m("ok_frac") = (1.0 - b.failed.toDouble / math.max(1L, b.attempted), "ratio")
    m("setup_s") = (median(setups), "s")
    b.context("samples") = Map(
      "iterations" -> all.size,
      "used" -> samples.size,
      "wall_s" -> all.map(_.wallS),
      "cpu_s" -> all.map(_.cpuS),
      "steal" -> all.map(_.steal),
      "setup_s" -> setups,
      "peak_rss_reset" -> rssReset)
  }
}
