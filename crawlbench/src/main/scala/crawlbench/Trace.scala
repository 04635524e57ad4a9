package crawlbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.pipeline.{Commit, ParquetTableIO, TableIO}

/** One timed interval. Times are epoch milliseconds, the clock Spark's
  * listener events use, so the benchmark's spans and Spark's job spans
  * share one axis.
  */
final case class Span(id: Int, name: String, run: String, start: Double,
                      end: Double, parent: Int)

/** In-memory span recorder for the traced run. Spans opened by the
  * benchmark nest by call order; Spark job spans from [[SparkCounters]]
  * are added afterwards and take as parent the innermost span that
  * contains their start.
  */
final class Tracer {
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  private val done = ArrayBuffer[Span]()
  private var open = List.empty[(Int, String, Double)]
  private var nextId = 1
  var run: String = ""

  def now(): Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  def begin(name: String): Unit = {
    open = (nextId, name, now()) :: open
    nextId += 1
  }

  def end(): Unit = open match {
    case (id, name, start) :: rest =>
      open = rest
      done += Span(id, name, run, start, now(), rest.headOption.map(_._1).getOrElse(0))
    case Nil => throw new IllegalStateException("no open span")
  }

  def span[T](name: String)(body: => T): T = {
    begin(name)
    try body finally end()
  }

  /** Adds a Spark job of run `run` as a span named after the innermost
    * span of that run containing its start: `<parent>.spark_job`.
    */
  def addJob(run: String, start: Double, end: Double): Unit = {
    val parent = done.filter(s => s.run == run && !s.name.endsWith("spark_job") &&
        s.start <= start && start <= s.end)
      .sortBy(s => s.end - s.start).headOption
    done += Span(nextId, parent.fold("spark_job")(_.name + ".spark_job"), run, start, end,
      parent.fold(0)(_.id))
    nextId += 1
  }

  def spans: Seq[Span] = done.toSeq

  /** Self time per span: its duration minus the union of its
    * children's intervals.
    */
  def selfMs: Map[Int, Double] = {
    val kids = done.toSeq.groupBy(_.parent)
    done.map(s => s.id -> (s.end - s.start - Tracer.coveredMs(s, kids.getOrElse(s.id, Nil)))).toMap
  }

  /** Time per layer, summing to the root spans' durations: a span's self
    * time, except that Spark jobs, which can overlap one another, count
    * the union of their intervals under each parent.
    */
  def layerMs(spans: Seq[Span]): Map[String, Double] = {
    val self = selfMs
    val byId = spans.map(s => s.id -> s).toMap
    val (jobs, calls) = spans.partition(_.name.endsWith("spark_job"))
    val jobMs = jobs.groupBy(_.parent).toSeq.map { case (p, js) =>
      js.head.name -> byId.get(p).fold(js.map(j => j.end - j.start).sum)(Tracer.coveredMs(_, js))
    }
    (calls.map(s => s.name -> self(s.id)) ++ jobMs)
      .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).sum }
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val self = selfMs
    val lines = done.sortBy(_.start).map { s =>
      Json.obj("id" -> s.id, "parent" -> s.parent, "run" -> s.run, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end, "self_ms" -> self(s.id))
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  /** Length of the union of `kids`' intervals within `s`. */
  def coveredMs(s: Span, kids: Seq[Span]): Double = {
    val iv = kids.map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      .filter(p => p._2 > p._1).sortBy(_._1)
    var covered = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.foreach { case (a, b) =>
      if (curS.isNaN || a > curE) {
        if (!curS.isNaN) covered += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (!curS.isNaN) covered += curE - curS
    covered
  }
}

/** Task and job counters from a listener registered by the benchmark.
  * Events arrive on Spark's listener thread; [[sync]] waits until every
  * event posted before it has been seen.
  */
final class SparkCounters(sc: SparkContext) extends SparkListener {
  import SparkCounters._

  private val MarkerKey = "crawlbench.marker"
  private val jobs = ArrayBuffer[Job]()
  private val jobStages = scala.collection.mutable.Map[Int, Seq[Int]]()
  private val tasks = ArrayBuffer[Task]()
  private val markerJobs = scala.collection.mutable.Map[Int, String]()
  @volatile private var lastMarker = ""

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(MarkerKey))) match {
      case Some(m) => markerJobs(e.jobId) = m
      case None =>
        jobs += Job(e.jobId, e.time.toDouble, Double.NaN)
        jobStages(e.jobId) = e.stageIds
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    markerJobs.remove(e.jobId) match {
      case Some(m) => lastMarker = m
      case None => jobs.find(_.id == e.jobId).foreach(_.end = e.time.toDouble)
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(e.stageId, m.executorRunTime, m.executorCpuTime,
      e.taskInfo.duration,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled,
      m.inputMetrics.recordsRead, m.outputMetrics.recordsWritten, m.jvmGCTime)
  }

  /** Blocks until the listener has seen every event posted so far: runs
    * a tagged one-task job and waits for its end event, which the
    * listener queue delivers after everything posted before it.
    */
  def sync(): Unit = {
    val marker = System.nanoTime().toString
    sc.setLocalProperty(MarkerKey, marker)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(MarkerKey, null)
    val deadline = System.currentTimeMillis() + 60000L
    while (lastMarker != marker) {
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException("Spark listener did not catch up in 60 s")
      Thread.sleep(2)
    }
  }

  def window(from: Double, to: Double): Window = synchronized {
    val js = jobs.filter(j => j.start >= from && j.start <= to).toSeq
    val ids = js.flatMap(j => jobStages.getOrElse(j.id, Nil)).toSet
    Window(js, tasks.filter(t => ids.contains(t.stage)).toSeq)
  }
}

object SparkCounters {
  final case class Job(id: Int, start: Double, var end: Double)
  final case class Task(stage: Int, runMs: Long, cpuNs: Long, durMs: Long,
                        shuffleWrite: Long, shuffleRecords: Long, spill: Long,
                        inRecords: Long, outRecords: Long, gcMs: Long)

  /** Jobs that started in a time window and the tasks of their stages. */
  final case class Window(jobs: Seq[Job], tasks: Seq[Task]) {
    def stagesRun: Int = tasks.map(_.stage).distinct.size
  }
}

/** [[TableIO]] that delegates to [[ParquetTableIO]] and marks the phase
  * each call starts inside `ExtractJob.run`: reads the job makes lazily
  * run as Spark jobs after the call returns, so a phase lasts from one
  * call to the next. Phase names are the `tableio.*` layer metrics.
  */
final class TracingTableIO(tr: Tracer) extends TableIO {
  private val io = ParquetTableIO
  private var current = ""
  private var appended = false

  private def phase(name: String): Unit = {
    if (current.nonEmpty) tr.end()
    tr.begin(name)
    current = name
  }

  /** Closes the last phase; call when `ExtractJob.run` returns. */
  def finish(): Unit = {
    if (current.nonEmpty) tr.end()
    current = ""
    appended = false
  }

  override def reconcileOrphanFiles(spark: SparkSession, ident: String): Seq[String] = {
    phase("tableio.reconcile"); io.reconcileOrphanFiles(spark, ident)
  }
  override def readOrEmpty(spark: SparkSession, ident: String, schema: StructType): DataFrame = {
    if (!appended && current != "tableio.resume_probe") phase("tableio.resume_probe")
    io.readOrEmpty(spark, ident, schema)
  }
  override def snapshotId(spark: SparkSession, ident: String): String = {
    phase("tableio.snapshot"); io.snapshotId(spark, ident)
  }
  override def readPages(spark: SparkSession, ident: String): DataFrame = {
    phase("extractjob.plan"); io.readPages(spark, ident)
  }
  override def appendCommit(df: DataFrame, ident: String): Commit = {
    phase("tableio.append_commit"); appended = true; io.appendCommit(df, ident)
  }
  override def readCommit(spark: SparkSession, commit: Commit): DataFrame = {
    phase("tableio.read_commit"); io.readCommit(spark, commit)
  }
  override def append(df: DataFrame, ident: String): Unit = {
    io.append(df, ident)
    phase("extractjob.totals")
  }
}
