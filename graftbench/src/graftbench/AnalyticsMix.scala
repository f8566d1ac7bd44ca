package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, MapType, StructType}

import graft.SparkEntry

/** `analytics_mix`: contract queries from `SparkEntry.queries` in five
  * families. A sample times `fn(spark, dir)` together with a full
  * `noop` write of its result. The unit of work is one pass over the
  * list, reported as the sum of per-query medians. Each query's
  * samples run back to back after its warm pass, which doubles as the
  * output check: the query's digest must equal the one pinned in
  * `digests.json`.
  */
final class AnalyticsMix(spark: SparkSession, o: GraftBench.Opts, meter: GraftBench.Meter)
    extends GraftBench.Workload {
  import AnalyticsMix._

  /** The inputs are the repository's fixed test data, so the seed
    * changes nothing; the order is fixed too, since a query measured
    * later runs on a warmer JIT.
    */
  private val order: Seq[Query] = Mix
  private var results = Seq.empty[GraftBench.Check]
  private lazy val pinned = readDigests(o.digests)

  private def dir(q: Query): String = s"${o.testdata}/${q.sf}"

  def prepare(): Unit = ()

  /** Nothing: each query's warm pass runs just before its samples. */
  def warm(): Unit = ()

  private var warmSecs = 0.0
  override def warmS: Double = warmSecs

  /** The query's warm pass, which is also its output check: the
    * digest of its result must equal the pinned one.
    */
  private def warmAndCheck(q: Query): Unit = {
    val t0 = System.nanoTime()
    val got = scala.util.Try(digestOf(SparkEntry.queries(q.name)(spark, dir(q))))
    GraftBench.resetState(spark)
    // A query's first write runs well above its later ones, while the
    // JIT still compiles its code paths (with the compiler threads'
    // CPU time counted in `cpu_s`); it runs here, untimed, so that the
    // samples measure warm code and, traced, neither side gets it.
    scala.util.Try(writeNoop(SparkEntry.queries(q.name)(spark, dir(q))))
    GraftBench.resetState(spark)
    warmSecs += (System.nanoTime() - t0) / 1e9
    val want = pinned.get(q.key)
    results :+= GraftBench.Check(s"analytics.${q.key}", got.toOption.exists(g => want.contains(g)),
      s"digest ${got.fold(e => s"error: $e", identity)} (pinned ${want.getOrElse("none")})")
  }

  /** Samples of one query run back to back, queries in `Mix` order. */
  def unit(index: Int, tracer: Option[Tracer]): GraftBench.Sample = {
    val q = order((index / MinSamples) % order.size)
    if (!results.exists(_.name == s"analytics.${q.key}")) warmAndCheck(q)
    val fn = SparkEntry.queries(q.name)
    val m = meter.measure {
      Tracer.spanned(tracer, s"query:${q.key}#$index") { parent =>
        try {
          val df = Tracer.spanned(tracer, "query.construct", parent)(_ => fn(spark, dir(q)))._1
          Tracer.spanned(tracer, "query.write", parent)(_ => writeNoop(df))
          true
        } catch {
          case e: Exception =>
            System.err.println(s"[graftbench] ${q.key} failed: $e")
            false
        }
      }
    }
    val (ok, sampleSpan) = m.result
    val traced = tracer.fold(Map.empty[String, Double])(_.window(sampleSpan).family(q.family))
    GraftBench.Sample(q.key, m.seconds, 1, if (ok) 0 else 1, m.heapPeakMb, m.cpuS, traced)
  }

  def enough(samples: Seq[GraftBench.Sample]): Boolean = samples.size >= MinSamples * order.size

  def checks(): Seq[GraftBench.Check] = results

  private def writeNoop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def report(samples: Seq[GraftBench.Sample]): Seq[String] = {
    val ok = samples.filter(_.failed == 0)
    val perQuery = ok.groupBy(_.key).map { case (k, g) => k -> GraftBench.median(g.map(_.seconds)) }
    Tracer.families.map { f =>
      val qs = Mix.filter(_.family == f)
      s"${f}_s = ${qs.flatMap(q => perQuery.get(q.key)).sum} s (${qs.map(_.key).mkString(", ")})"
    } :+ s"samples per query: ${ok.groupBy(_.key).values.map(_.size).min}"
  }

  /** Run every query once, write its result as parquet under `out`
    * with its digest and oracle SQL, for the pinning tool.
    */
  def pin(out: Path): Unit = {
    Files.createDirectories(out)
    val mapper = new ObjectMapper()
    val node = mapper.createObjectNode()
    Mix.foreach { q =>
      val df = SparkEntry.queries(q.name)(spark, dir(q))
      df.write.mode("overwrite").parquet(out.resolve(q.key).toString)
      GraftBench.resetState(spark)
      val entry = node.putObject(q.key)
      entry.put("query", q.name)
      entry.put("sf", q.sf)
      entry.put("digest", digestOf(SparkEntry.queries(q.name)(spark, dir(q))))
      SparkEntry.oracleSql.get(q.name).foreach(entry.put("oracle_sql", _))
      GraftBench.resetState(spark)
    }
    mapper.writerWithDefaultPrettyPrinter().writeValue(out.resolve("pin.json").toFile, node)
  }
}

object AnalyticsMix {

  final case class Query(name: String, family: String, sf: String) {
    def key: String = s"$name@$sf"
  }

  /** Samples per query and run. Runs differ from each other mostly as
    * a whole (machine load, JIT), which more samples per run do not
    * remove; two keep a run within the benchmark's time budget.
    */
  val MinSamples = 2

  /** One query per family, on sf0.01, chosen from a traced pass over
    * every family's candidates for showing where the family's time goes.
    */
  val Mix: Seq[Query] = Seq(
    Query("graph_pagerank", "graph", "sf0.01"),
    Query("text_fingerprint", "text", "sf0.01"),
    Query("q83_ks_test", "stats", "sf0.01"),
    Query("q97_basket_pairs", "relational", "sf0.01"),
    Query("q_stream_sessionize", "stream", "sf0.01"))

  /** Row-order-independent digest of a result: columns by name,
    * floating point to nine significant digits, nested values as JSON.
    */
  def digestOf(df: DataFrame): String = {
    val canon = df.select(df.schema.fields.sortBy(_.name).toIndexedSeq.map { f =>
      val c = col(s"`${f.name}`")
      (f.dataType match {
        case DoubleType | FloatType => format_string("%.9g", c)
        case _: ArrayType | _: MapType | _: StructType => to_json(c)
        case _ => c.cast("string")
      }).as(f.name)
    }: _*)
    val (rows, sum) = CdcCommon.digest(canon)
    s"$rows:$sum"
  }

  def readDigests(path: Path): Map[String, String] =
    if (!Files.exists(path)) Map.empty
    else new ObjectMapper().readTree(path.toFile).properties().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap
}
