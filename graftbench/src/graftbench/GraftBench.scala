package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.management.GarbageCollectionNotificationInfo

import org.apache.spark.sql.SparkSession

import graft.plans.GraftExtensions

/** Benchmark entry point: one workload, one seed, one JSON line.
  *
  * {{{
  * graftbench.GraftBench --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> --out <dir> --testdata <dir>
  *                  --digests <file> --modules <file> [--pin <dir>]
  * }}}
  *
  * A run builds the session the way `graft.cli.Main` does, prepares the
  * workload's inputs from the seed (untimed), runs the warm pass
  * (timed as set-up), then repeats the workload's unit of work until
  * `--seconds` have passed and every key has enough samples. Between
  * samples, and outside the timing window, it drops cached data,
  * persisted RDDs and streaming state, and runs a GC.
  */
object GraftBench {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: Path, out: Path, testdata: String, digests: Path,
                        modules: Path, pin: Option[Path], selfCheck: Boolean)

  final case class Metric(name: String, value: Double, unit: String)

  /** One timed unit of work. `key` groups samples for medians (a
    * query name, or "run"/"tick"); `layers` holds the sample's
    * per-layer values: those the bench measures itself always, those
    * from the listeners only when tracing.
    */
  final case class Sample(key: String, seconds: Double, attempted: Int, failed: Int,
                          heapPeakMb: Double, cpuS: Double, layers: Map[String, Double] = Map.empty)

  final case class Check(name: String, ok: Boolean, detail: String)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(req("workload"), req("seed").toLong, req("seconds").toInt, req("trace") == "1",
      Paths.get(req("work")), Paths.get(req("out")), req("testdata"),
      Paths.get(req("digests")), Paths.get(req("modules")), m.get("pin").map(Paths.get(_)),
      m.get("selfcheck").contains("1"))
  }

  /** Cores for `local[n]`: at most 4, never more than the machine has. */
  val cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  /** The session `graft.cli.Main` builds, with scratch locations kept
    * inside the run's work directory and the UI off.
    */
  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .appName("graft-bench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.maxResultSize", "0")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Drop what one sample leaves behind so the next starts clean. */
  def resetState(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    System.gc()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Sum over keys of each key's median — a pass over a query list
    * counts every query once, however many samples each got.
    */
  def sumOfMedians(samples: Seq[Sample])(f: Sample => Double): Double =
    samples.groupBy(_.key).values.map(g => median(g.map(f))).sum

  /** Wall time, process CPU time and peak heap of a measured call.
    *
    * The peak heap is the most heap in use right after a collection:
    * the last collection before the call (the reset's full GC) and
    * every one during it. Heap in use between collections is mostly
    * young-generation garbage and would only show the eden's size.
    */
  final class Meter {
    private val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    private val uptime = ManagementFactory.getRuntimeMXBean
    private val collectors = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    /** (start in JVM uptime ms, heap in use after), one per collection. */
    private val afterGc = ArrayBuffer[(Long, Long)]()
    @volatile private var seen = 0L
    /** Collections before the listeners were added are never notified. */
    private val unseen = collectors.map(_.getCollectionCount).sum

    collectors.foreach {
      case e: NotificationEmitter => e.addNotificationListener((n: Notification, _: AnyRef) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val gc = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
          val used = gc.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
          afterGc.synchronized(afterGc += ((gc.getStartTime, used)))
          seen += 1
        }, null, null)
      case _ => ()
    }

    /** Notifications arrive on their own thread: wait (up to a second)
      * until every collection so far has been seen.
      */
    private def settled(): Seq[(Long, Long)] = {
      val want = collectors.map(_.getCollectionCount).sum - unseen
      val until = System.nanoTime() + 1000000000L
      while (seen < want && System.nanoTime() < until) Thread.sleep(1)
      afterGc.synchronized(afterGc.toSeq)
    }

    /** Young-generation capacity in MB, for the run's log. */
    def youngMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Eden") || p.getName.contains("Survivor"))
      .map(_.getUsage.getCommitted).sum / 1048576.0

    final case class Measured[T](result: T, seconds: Double, cpuS: Double, heapPeakMb: Double)

    def measure[T](body: => T): Measured[T] = {
      val before = settled().lastOption.fold(0L)(_._2)
      val u0 = uptime.getUptime
      val c0 = os.getProcessCpuTime
      val t0 = System.nanoTime()
      val r = body
      val secs = (System.nanoTime() - t0) / 1e9
      val cpu = (os.getProcessCpuTime - c0) / 1e9
      val during = settled().collect { case (at, used) if at >= u0 => used }
      Measured(r, secs, cpu, (before +: during).max / 1048576.0)
    }
  }

  /** What a workload gives the timing loop. */
  trait Workload {
    /** Untimed: build the inputs from the seed. Not part of set-up. */
    def prepare(): Unit
    /** The warm pass, timed as part of `setup_s`. */
    def warm(): Unit
    /** Warm-up done inside the loop, before a key's first sample and
      * outside its timing; counted in `setup_s`.
      */
    def warmS: Double = 0.0
    /** One timed unit of work; `index` counts units across the run. */
    def unit(index: Int, tracer: Option[Tracer]): Sample
    /** True once `samples` suffice for the workload's statistics. */
    def enough(samples: Seq[Sample]): Boolean
    /** Output checks, run after the timed loop. */
    def checks(): Seq[Check]
    /** Human-readable lines for the workload's own figures. */
    def report(samples: Seq[Sample]): Seq[String]
  }

  /** Units until `seconds` have passed and the workload has enough.
    * Untraced, one unit per index. Traced, each index runs twice, once
    * with the listeners on and once without, the order alternating, so
    * that both sides see the same warm-up; returns (plain, traced).
    */
  def timedLoop(spark: SparkSession, wl: Workload, seconds: Double,
                tracer: Option[Tracer]): (Seq[Sample], Seq[Sample]) = {
    val plain = ArrayBuffer[Sample]()
    val traced = ArrayBuffer[Sample]()
    def once(index: Int, on: Boolean): Unit = {
      resetState(spark)
      if (on) tracer.foreach { t =>
        t.install()
        try traced += wl.unit(index, tracer) finally t.uninstall()
      } else plain += wl.unit(index, None)
    }
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var index = 0
    while (System.nanoTime() < deadline || !wl.enough(plain.toSeq) ||
        (tracer.nonEmpty && !wl.enough(traced.toSeq))) {
      val order = if (index % 2 == 0) Seq(false, true) else Seq(true, false)
      order.filter(on => !on || tracer.nonEmpty).foreach(once(index, _))
      index += 1
    }
    (plain.toSeq, traced.toSeq)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Files.createDirectories(o.work)
    Files.createDirectories(o.out)
    val t0 = System.nanoTime()
    val spark = session(o.work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val meter = new Meter
    val code = try if (o.selfCheck) {
      if (Landing.selfCheck(spark, o.work, o.seed, Catchup.Scale)) 0 else 1
    } else {
      val wl: Workload = o.workload match {
        case "cdc_catchup" => new Catchup(spark, o, meter)
        case "cdc_sync_jdbc" => new SyncJdbc(spark, o, meter)
        case "analytics_mix" => new AnalyticsMix(spark, o, meter)
        case other => throw new IllegalArgumentException(s"unknown workload: $other")
      }
      o.pin match {
        case Some(dir) =>
          wl match {
            case a: AnalyticsMix => a.pin(dir); 0
            case _ => throw new IllegalArgumentException("--pin applies to analytics_mix only")
          }
        case None => run(spark, o, wl, sessionS, meter)
      }
    } finally spark.stop()
    sys.exit(code)
  }

  private def run(spark: SparkSession, o: Opts, wl: Workload, sessionS: Double, meter: Meter): Int = {
    val p0 = System.nanoTime()
    wl.prepare()
    System.err.println(f"[graftbench] inputs prepared in ${(System.nanoTime() - p0) / 1e9}%.1f s")
    resetState(spark)
    val w0 = System.nanoTime()
    wl.warm()
    val setupS = sessionS + (System.nanoTime() - w0) / 1e9
    System.err.println(f"[graftbench] session $sessionS%.1f s, warm pass ${setupS - sessionS}%.1f s")

    val (samples, metrics) =
      if (!o.trace) {
        val (s, _) = timedLoop(spark, wl, o.seconds, None)
        val ok = s.filter(_.failed == 0)
        (s, Seq(
          Metric("setup_s", setupS + wl.warmS, "s"),
          Metric("work_s", sumOfMedians(ok)(_.seconds), "s"),
          Metric("cpu_s", sumOfMedians(ok)(_.cpuS), "s"),
          Metric("heap_peak_mb", median(ok.map(_.heapPeakMb)), "MB")))
      } else {
        // The same calls with and without the listeners: the difference
        // in work time is the tracing overhead; the per-layer values
        // come from the traced samples.
        val tracer = new Tracer(spark, s"${o.workload}-${o.seed}", Tracer.loadModules(o.modules))
        val (plain, traced) = timedLoop(spark, wl, o.seconds, Some(tracer))
        tracer.writeSpans(o.out.resolve(s"spans-${o.workload}-${o.seed}.jsonl"))
        println(tracer.ownerShares.map { case (m, x) => f"$m $x%.3f" }
          .mkString("job wall time by call-site owner, share of sample wall time: ", ", ", ""))
        def workS(xs: Seq[Sample]) = sumOfMedians(xs.filter(_.failed == 0))(_.seconds)
        val layers = Tracer.layerNames.map { case (n, _) => n -> 0.0 }.toMap ++
          Tracer.aggregate(traced.filter(_.failed == 0)) ++ Map(
            "trace.overhead_s" -> (workS(traced) - workS(plain)),
            "trace.unattributed_share" -> tracer.unattributedShare)
        (plain ++ traced,
          Tracer.layerNames.map { case (n, unit) => Metric(n, layers(n), unit) })
      }

    val c0 = System.nanoTime()
    val checks = wl.checks()
    System.err.println(f"[graftbench] checks ran in ${(System.nanoTime() - c0) / 1e9}%.1f s")
    val attempted = samples.map(_.attempted).sum
    val failed = samples.map(_.failed).sum
    val correct = checks.forall(_.ok)
    checks.foreach(c => println(s"check ${c.name}: ${if (c.ok) "ok" else "FAILED"} ${c.detail}"))
    wl.report(samples).foreach(println)
    println(samples.map(x => f"${x.seconds}%.2f").mkString(s"unit seconds (${samples.size}): ", " ", ""))
    println(f"young generation (eden and survivors, committed) = ${meter.youngMb}%.0f MB")
    println(f"failed_frac = ${failed.toDouble / math.max(1, attempted)}%.4f ratio ($failed of $attempted)")
    metrics.foreach(m => println(s"${m.name} = ${m.value} ${m.unit}"))
    println(resultLine(correct, attempted, failed, metrics))
    0
  }

  /** The run's last line: `{"correct", "attempted", "failed", "metrics"}`. */
  def resultLine(correct: Boolean, attempted: Long, failed: Long, metrics: Seq[Metric]): String = {
    val mapper = new ObjectMapper()
    val node = mapper.createObjectNode()
    node.put("correct", correct)
    node.put("attempted", attempted)
    node.put("failed", failed)
    val ms = node.putObject("metrics")
    metrics.foreach { m =>
      val v = ms.putObject(m.name)
      v.put("value", if (m.value.isNaN || m.value.isInfinite) 0.0 else m.value)
      v.put("unit", m.unit)
    }
    mapper.writeValueAsString(node)
  }
}
