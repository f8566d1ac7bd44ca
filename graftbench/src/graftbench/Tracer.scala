package graftbench

import java.nio.file.{Files, Path}
import java.time.Instant

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's instruments: spans recorded by the bench around
  * each public call, plus three listeners — jobs/stages/tasks, the
  * planning phases of every query execution, and streaming progress.
  *
  * Every job is attributed to a module of the program by the source
  * file in its call site (`csv at FileSink.scala:52` belongs to
  * `sinks`): the call site of its SQL execution when it has one, else
  * its stages' names. The file-to-module map comes from the program's
  * source tree. Jobs whose call site names no program file are
  * unattributed, and so are jobs the bench issues itself, such as the
  * `noop` write of a query's result: the program built that plan, but
  * no call site says which module. All times are epoch milliseconds,
  * as Spark reports them. Spans stay in memory until `writeSpans`.
  */
final class Tracer(spark: SparkSession, runId: String, modules: Map[String, String]) {
  import Tracer._

  final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long)

  private final class JobRec(val start: Long, val stageIds: Seq[Int], val file: String) {
    @volatile var end: Long = -1L
    /** The module whose file is in the call site, `bench` included. */
    def owner: Option[String] = modules.get(file)
    /** The program module that issued the job, if any. */
    def module: Option[String] = owner.filterNot(_ == "bench")
  }

  private final class StageRec {
    var tasks = 0L; var cpuNs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L
    var inBytes = 0L; var inRows = 0L
  }

  private final case class Progress(at: Long, triggerMs: Long, walMs: Long,
                                    stateCommitMs: Long, stateBytes: Long, query: String)

  private val spans = ArrayBuffer[Span]()
  private var nextSpan = 1
  private val jobs = mutable.Map[Int, JobRec]()
  private val stages = mutable.Map[Int, StageRec]()
  /** SQL execution id -> its call site, taken on the calling thread;
    * adaptive execution submits jobs from pool threads whose own call
    * site names no program file.
    */
  private val executions = mutable.Map[Long, String]()
  /** (start of the first planning phase, seconds in all phases). */
  private val planning = ArrayBuffer[(Long, Double)]()
  private val progress = ArrayBuffer[Progress]()
  private var unattributedMs = 0L
  private val ownerMs = mutable.Map[String, Long]().withDefaultValue(0L)
  private var wallMs = 0L

  private val CallSiteFile = """ at ([^\s:]+\.(?:scala|java)):\d+""".r.unanchored

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val exec = Option(e.properties).flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
        .flatMap(id => executions.synchronized(executions.get(id.toLong)))
      val file = (exec.toSeq ++ e.stageInfos.map(_.name))
        .collectFirst { case CallSiteFile(f) => f }.getOrElse("")
      jobs.synchronized(jobs(e.jobId) = new JobRec(e.time, e.stageIds, file))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        executions.synchronized(executions(x.executionId) = x.description)
      case _ => ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.synchronized(jobs.get(e.jobId).foreach(_.end = e.time))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      stages.synchronized {
        val s = stages.getOrElseUpdate(e.stageId, new StageRec)
        s.tasks += 1
        s.cpuNs += m.executorCpuTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.inBytes += m.inputMetrics.bytesRead
        s.inRows += m.inputMetrics.recordsRead
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) planning.synchronized {
        planning += ((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum / 1e3))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def dur(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      progress.synchronized {
        progress += Progress(Instant.parse(p.timestamp).toEpochMilli, dur("triggerExecution"),
          dur("walCommit"), p.stateOperators.map(_.commitTimeMs).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum, p.id.toString)
      }
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    org.apache.spark.graftbench.ListenerBusAccess.drain(spark.sparkContext)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(planListener)
    spark.sparkContext.removeSparkListener(jobListener)
  }

  /** Record a span around `body`, which receives the span's id so it
    * can open children.
    */
  def span[T](name: String, parent: Int = 0)(body: Int => T): T = {
    val id = synchronized { nextSpan += 1; nextSpan - 1 }
    val t0 = System.currentTimeMillis()
    try body(id) finally {
      val t1 = System.currentTimeMillis()
      synchronized(spans += Span(id, parent, name, t0, t1))
    }
  }

  private def spanBounds(id: Int): (Long, Long) = synchronized {
    spans.find(_.id == id).map(s => (s.start, s.end)).get
  }

  /** Counters over the jobs, planning and streaming batches that
    * started inside a span. Waits for the listener bus first.
    */
  def window(spanId: Int): Window = {
    org.apache.spark.graftbench.ListenerBusAccess.drain(spark.sparkContext)
    val (s, e) = spanBounds(spanId)
    val js = jobs.synchronized(jobs.values.filter(j => j.start >= s && j.start <= e).toSeq)
    val ivs = (j: JobRec) => (j.start, if (j.end < 0) e else math.min(j.end, e))
    val st = stages.synchronized(js.flatMap(_.stageIds).distinct.flatMap(stages.get))
    val scan = st.filter(x => x.inBytes > 0 || x.inRows > 0)
    val wall = math.max(1L, e - s)
    val unattributed = unionMs(js.filter(_.module.isEmpty).map(ivs))
    synchronized {
      unattributedMs += unattributed
      wallMs += wall
      js.groupBy(_.owner.getOrElse("none")).foreach { case (m, g) => ownerMs(m) += unionMs(g.map(ivs)) }
    }
    val prog = progress.synchronized(progress.filter(p => p.at >= s && p.at <= e).toSeq)
    Window(
      wallS = wall / 1e3,
      jobs = js.size,
      tasks = st.map(_.tasks).sum,
      cpuS = st.map(_.cpuNs).sum / 1e9,
      driverGapS = (wall - unionMs(js.map(ivs))) / 1e3,
      shuffleWrite = st.map(_.shuffleWrite).sum,
      shuffleRead = st.map(_.shuffleRead).sum,
      scanTasks = scan.map(_.tasks).sum,
      scanCpuS = scan.map(_.cpuNs).sum / 1e9,
      inBytes = st.map(_.inBytes).sum,
      inRows = st.map(_.inRows).sum,
      planningS = planning.synchronized(
        planning.collect { case (at, secs) if at >= s && at <= e => secs }.sum),
      moduleS = js.groupBy(_.module.getOrElse("")).map { case (m, g) => m -> unionMs(g.map(ivs)) / 1e3 },
      fileS = js.groupBy(_.file).map { case (f, g) => f -> unionMs(g.map(ivs)) / 1e3 },
      batches = prog.size,
      batchS = prog.map(_.triggerMs).sum / 1e3,
      walCommitS = prog.map(_.walMs).sum / 1e3,
      stateCommitS = prog.map(_.stateCommitMs).sum / 1e3,
      stateBytes = prog.groupBy(_.query).values.map(_.map(_.stateBytes).max).sum)
  }

  /** Share of traced sample wall time spent in jobs no module claims. */
  def unattributedShare: Double = synchronized(unattributedMs.toDouble / math.max(1L, wallMs))

  /** Share of traced sample wall time in each call-site owner's jobs
    * (`bench` for the bench's own calls, `none` for no known file).
    */
  def ownerShares: Seq[(String, Double)] = synchronized(
    ownerMs.toSeq.map { case (m, ms) => m -> ms.toDouble / math.max(1L, wallMs) }.sortBy(-_._2))

  /** Spans, then jobs with the call-site file and module each was
    * attributed to, one JSON object per line.
    */
  def writeSpans(path: Path): Unit = {
    val mapper = new ObjectMapper()
    val spanLines = synchronized(spans.sortBy(_.id).map { s =>
      val n = mapper.createObjectNode()
      n.put("id", s.id).put("parent", s.parent).put("name", s.name).put("run", runId)
        .put("start_ms", s.start).put("end_ms", s.end)
      mapper.writeValueAsString(n)
    })
    val jobLines = jobs.synchronized(jobs.toSeq.sortBy(_._1).map { case (id, j) =>
      val n = mapper.createObjectNode()
      n.put("job", id).put("run", runId).put("file", j.file).put("module", j.owner.getOrElse(""))
        .put("start_ms", j.start).put("end_ms", j.end)
      mapper.writeValueAsString(n)
    })
    Files.write(path, (spanLines ++ jobLines).asJava)
  }
}

object Tracer {

  final case class Window(wallS: Double, jobs: Int, tasks: Long, cpuS: Double,
                          driverGapS: Double, shuffleWrite: Long, shuffleRead: Long,
                          scanTasks: Long, scanCpuS: Double, inBytes: Long, inRows: Long,
                          planningS: Double, moduleS: Map[String, Double],
                          fileS: Map[String, Double], batches: Int, batchS: Double,
                          walCommitS: Double, stateCommitS: Double, stateBytes: Long) {

    def streaming: Map[String, Double] = Map(
      "streaming.batches" -> batches.toDouble, "streaming.batch_s" -> batchS,
      "streaming.wal_commit_s" -> walCommitS, "streaming.state_commit_s" -> stateCommitS,
      "streaming.state_bytes" -> stateBytes.toDouble)

    /** Layers of one client run (a catch-up run or a sync tick). */
    def client: Map[String, Double] = streaming ++ Map(
      "client.run_s" -> wallS, "client.jobs" -> jobs.toDouble, "client.tasks" -> tasks.toDouble,
      "client.driver_gap_s" -> driverGapS,
      "cdc.shuffle_write_bytes" -> shuffleWrite.toDouble,
      "cdc.shuffle_read_bytes" -> shuffleRead.toDouble,
      "sources.scan_tasks" -> scanTasks.toDouble, "sources.scan_cpu_s" -> scanCpuS,
      "sources.input_bytes" -> inBytes.toDouble, "sources.input_rows" -> inRows.toDouble,
      "sinks.write_s" -> moduleS.getOrElse("sinks", 0.0),
      "sinks.jdbc_raw_s" -> fileS.getOrElse("JdbcSink.scala", 0.0),
      "sinks.jdbc_merged_s" -> fileS.getOrElse("JdbcMergedApply.scala", 0.0),
      "plans.planning_s" -> planningS)

    /** Layers of one query sample of family `f`. */
    def family(f: String): Map[String, Double] = streaming ++ Map(
      s"operators.$f.wall_s" -> wallS, s"operators.$f.jobs" -> jobs.toDouble,
      s"operators.$f.tasks" -> tasks.toDouble, s"operators.$f.task_cpu_s" -> cpuS,
      s"operators.$f.driver_gap_s" -> driverGapS,
      s"operators.$f.shuffle_bytes" -> shuffleWrite.toDouble,
      s"operators.$f.scan_tasks" -> scanTasks.toDouble,
      s"plans.$f.planning_s" -> planningS)
  }

  val families: Seq[String] = Seq("graph", "text", "stats", "relational", "stream")

  /** Every per-layer metric with its unit, in print order. */
  val layerNames: Seq[(String, String)] = Seq(
    "client.run_s" -> "s", "client.jobs" -> "count", "client.tasks" -> "count",
    "client.driver_gap_s" -> "s",
    "cdc.manifest_s" -> "s", "cdc.shuffle_write_bytes" -> "bytes",
    "cdc.shuffle_read_bytes" -> "bytes",
    "sources.list_s" -> "s", "sources.folders" -> "count", "sources.files" -> "count",
    "sources.scan_tasks" -> "count", "sources.scan_cpu_s" -> "s",
    "sources.input_bytes" -> "bytes", "sources.input_rows" -> "rows",
    "sinks.write_s" -> "s", "sinks.rows_written" -> "rows",
    "sinks.jdbc_raw_s" -> "s", "sinks.jdbc_merged_s" -> "s") ++
    families.flatMap(f => Seq(
      s"operators.$f.wall_s" -> "s", s"operators.$f.jobs" -> "count",
      s"operators.$f.tasks" -> "count", s"operators.$f.task_cpu_s" -> "s",
      s"operators.$f.driver_gap_s" -> "s", s"operators.$f.shuffle_bytes" -> "bytes",
      s"operators.$f.scan_tasks" -> "count")) ++
    Seq("plans.planning_s" -> "s") ++ families.map(f => s"plans.$f.planning_s" -> "s") ++
    Seq("streaming.batches" -> "count", "streaming.batch_s" -> "s",
      "streaming.wal_commit_s" -> "s", "streaming.state_commit_s" -> "s",
      "streaming.state_bytes" -> "bytes",
      "trace.overhead_s" -> "s", "trace.unattributed_share" -> "ratio")

  /** Per unit of work: each key's median, summed over keys (one
    * catch-up run, one tick, or one pass over the query list).
    */
  def aggregate(samples: Seq[GraftBench.Sample]): Map[String, Double] = {
    val names = samples.flatMap(_.layers.keys).distinct
    names.map(n => n -> GraftBench.sumOfMedians(samples)(_.layers.getOrElse(n, 0.0))).toMap
  }

  /** A span around `body` when tracing; returns the span's id (0 when
    * not tracing) with the result.
    */
  def spanned[T](tracer: Option[Tracer], name: String, parent: Int = 0)(body: Int => T): (T, Int) =
    tracer match {
      case Some(t) =>
        var id = 0
        val r = t.span(name, parent) { i => id = i; body(i) }
        (r, id)
      case None => (body(0), 0)
    }

  /** Union length of [start, end] intervals, in milliseconds. */
  def unionMs(ivs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    ivs.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** `file<TAB>module` lines, written by the build from the program's
    * source tree.
    */
  def loadModules(path: Path): Map[String, String] =
    Files.readAllLines(path).asScala.map(_.split("\t")).collect {
      case Array(f, m) => f -> m
    }.toMap
}
