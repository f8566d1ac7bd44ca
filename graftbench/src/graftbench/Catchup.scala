package graftbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import graft.client.GraftClient
import graft.config.GraftConfig

/** `cdc_catchup`: backlog export. One `GraftClient.run(merged = true)`
  * over the whole seeded landing zone writes every table's merged
  * state as CSV with a header and a schema sidecar. The unit of work
  * is that run; each starts from empty savepoints and an empty output.
  */
final class Catchup(spark: SparkSession, o: GraftBench.Opts, meter: GraftBench.Meter)
    extends GraftBench.Workload {

  private val root = o.work.resolve("catchup")
  private val landing = new Landing(spark, o.seed, root.resolve("landing"), Catchup.Scale)
  private val outDir = root.resolve("out")
  private var changeRows = 0L
  private var changeBytes = 0L
  private var expected = Map.empty[String, (Long, java.math.BigDecimal)]

  private def config(sp: Path): GraftConfig = GraftConfig.fromYaml(
    s"""sourceLocation: {baseDir: "${landing.base}", manifestPath: "${landing.manifestPath}"}
       |outputLocation: {path: "$outDir"}
       |savepointsLocation: {path: "$sp"}
       |outputSettings:
       |  exportTarget: file
       |  fileFormat: csv
       |  includeColumnNames: true
       |performanceTuning: {numberOfJobsInParallelMaxCount: ${GraftBench.cores}}
       |""".stripMargin)

  def prepare(): Unit = {
    val written = landing.write()
    changeRows = written.values.map(_._1).sum
    changeBytes = landing.parquetBytes
    expected = written.map { case (t, (_, d)) => t -> d }
  }

  /** Full runs outside any timing, the set-up's warm pass: a run's
    * time keeps falling over its first few repetitions as code paths
    * warm, and the timed runs should start where that curve flattens.
    */
  def warm(): Unit = (1 to Catchup.WarmRuns).foreach { i => runOnce(-i, None); GraftBench.resetState(spark) }

  def unit(index: Int, tracer: Option[Tracer]): GraftBench.Sample = runOnce(index, tracer)

  private def runOnce(index: Int, tracer: Option[Tracer]): GraftBench.Sample = {
    CdcCommon.deleteTree(outDir)
    val sp = root.resolve(s"savepoints-$index")
    CdcCommon.deleteTree(sp)
    Files.createDirectories(sp)
    Files.createDirectories(outDir)
    val ((pend, m), _) =
      Tracer.spanned(tracer, s"catchup.run#$index") { unitSpan =>
        val pend = CdcCommon.pending(landing.manifestPath, sp, tracer, unitSpan)
        val client = new GraftClient(spark, config(sp))
        val m = meter.measure {
          Tracer.spanned(tracer, "client.run", unitSpan)(_ => CdcCommon.attempt(client.run(merged = true)))
        }
        (pend, m)
      }
    val (results, runSpan) = m.result
    val failed = landing.tables.count { t =>
      val r = results.find(_.tableName == t.name)
      pend.folders.getOrElse(t.name, 0) > 0 && r.forall(_.skipped)
    }
    val (files, bytes) = CdcCommon.dataFiles(outDir)
    val rowsOut = results.map(_.rowsWritten).sum
    val traced = tracer.fold(Map.empty[String, Double])(_.window(runSpan).client)
    GraftBench.Sample("run", m.seconds, landing.tables.size, failed, m.heapPeakMb, m.cpuS, traced ++ pend.layers ++ Map(
      "sinks.files_written" -> files.toDouble, "sinks.rows_written" -> rowsOut.toDouble,
      "sinks.write_amp" -> bytes.toDouble / changeBytes,
      "cdc.state_ratio" -> rowsOut.toDouble / changeRows))
  }

  def enough(samples: Seq[GraftBench.Sample]): Boolean = samples.size >= 5

  /** The last run's CSV equals the state the generator built. */
  def checks(): Seq[GraftBench.Check] = landing.tables.map { t =>
    val parts = CdcCommon.walk(outDir.resolve(t.name))
      .filter(_.getFileName.toString.startsWith("part-")).map(_.toString)
    val raw = spark.read.option("header", "true").csv(parts: _*)
    val typed = raw.select(landing.expectedSchema(t).map { case (n, tpe) =>
      (if (tpe.startsWith("struct")) from_json(col(n), DataType.fromDDL(tpe).asInstanceOf[StructType])
       else col(n).cast(tpe)).as(n)
    }: _*)
    val got = CdcCommon.digest(typed)
    val want = expected(t.name)
    GraftBench.Check(s"catchup.${t.name}", got == want,
      s"rows ${got._1} (expected ${want._1}), hash ${if (got._2 == want._2) "equal" else "differs"}")
  }

  def report(samples: Seq[GraftBench.Sample]): Seq[String] = {
    val runS = GraftBench.median(samples.map(_.seconds))
    def med(k: String) = GraftBench.median(samples.map(_.layers(k)))
    Seq(
      s"input: ${landing.tables.size} tables, $changeRows change rows, $changeBytes parquet bytes",
      s"catchup_rows_per_s = ${changeRows / runS} rows/s (median of ${samples.size} runs)",
      s"write_amp = ${med("sinks.write_amp")} ratio",
      s"files written = ${med("sinks.files_written")}, merged rows / change rows = ${med("cdc.state_ratio")}")
  }
}

object Catchup {
  /** About 190k change rows over four tables. */
  val Scale: Double = 0.25
  val WarmRuns = 3
}
