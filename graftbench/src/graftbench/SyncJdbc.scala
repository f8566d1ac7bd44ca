package graftbench

import java.nio.file.{Files, Path}
import java.sql.{DriverManager, SQLException, Timestamp}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.client.GraftClient
import graft.config.GraftConfig

/** `cdc_sync_jdbc`: steady incremental sync, one client in a closed
  * loop. Each tick lands one new timestamp folder per table, advances
  * the manifest, then times a fresh `GraftClient` (savepoints load at
  * construction, as in each CLI run) exporting raw and merged tables
  * into an embedded Derby database. The sixth unit of work moves the
  * first table to a second fingerprint with an extra column, which
  * takes the client through `ALTER TABLE ADD`.
  */
final class SyncJdbc(spark: SparkSession, o: GraftBench.Opts, meter: GraftBench.Meter)
    extends GraftBench.Workload {
  import SyncJdbc._

  private val root = o.work.resolve("sync")
  private val base = root.resolve("landing")
  private val sp = root.resolve("savepoints")
  private val url = s"jdbc:derby:${root.resolve("db")};create=true"
  private val tables = Seq(
    Table("account", Seq(Col("name", Word), Col("balance", Money), Col("updated", Time))),
    Table("policy_period", Seq(Col("policy_no", Word), Col("premium", Money), Col("status", Word))),
    Table("activity", Seq(Col("kind", Word), Col("note", Text))))
  private val evolving = tables.head
  private val added = Col("credit_limit", Money)

  /** Live state per table, by construction: key -> (values, seqval). */
  private val state = tables.map(t => t.name -> mutable.LongMap[(Seq[Any], String)]()).toMap
  private val rawRows = mutable.Map[String, Long]().withDefaultValue(0L)
  private val nextKey = mutable.Map[String, Long]().withDefaultValue(1L)
  private var tick = 0
  private var evolvedAt = Int.MaxValue

  private def fp(t: Table, evolved: Boolean): String =
    Landing.fingerprint(t.name, o.seed, if (evolved) 2 else 1)

  private def ts(n: Int): Long = Landing.T0 + n * Landing.FolderStepMs

  private def config: GraftConfig = GraftConfig.fromYaml(
    s"""sourceLocation: {baseDir: "$base", manifestPath: "$base/manifest.json"}
       |outputLocation: {path: "${root.resolve("out")}"}
       |savepointsLocation: {path: "$sp"}
       |outputSettings:
       |  exportTarget: jdbc
       |  saveIntoJdbcRaw: true
       |  saveIntoJdbcMerged: true
       |jdbcConnectionRaw: {jdbcUrl: "$url", jdbcUsername: app, jdbcPassword: graft, jdbcSchema: RAWS}
       |jdbcConnectionMerged: {jdbcUrl: "$url", jdbcUsername: app, jdbcPassword: graft, jdbcSchema: MERGEDS}
       |performanceTuning: {numberOfJobsInParallelMaxCount: ${GraftBench.cores}}
       |""".stripMargin)

  def prepare(): Unit = {
    System.setProperty("derby.system.home", root.toString)
    Files.createDirectories(sp)
    Files.createDirectories(root.resolve("out"))
    val c = DriverManager.getConnection(url, "app", "graft")
    try {
      val st = c.createStatement()
      Seq("CREATE SCHEMA RAWS", "CREATE SCHEMA MERGEDS").foreach(st.execute)
      st.close()
    } finally c.close()
  }

  /** The initial load (tables created) and a few more ticks: a tick's
    * time keeps falling over its first runs as code paths warm.
    */
  def warm(): Unit = (0 to WarmTicks).foreach(_ => runTick(None))

  def unit(index: Int, tracer: Option[Tracer]): GraftBench.Sample = {
    if (index == 5 && evolvedAt == Int.MaxValue) evolvedAt = tick
    runTick(tracer)
  }

  /** Land one folder per table (untimed), then time one client run. */
  private def runTick(tracer: Option[Tracer]): GraftBench.Sample = {
    val rows = if (tick == 0) InitialRows else RowsPerTick
    tables.foreach(t => land(t, rows))
    writeManifest()
    val n = tick
    tick += 1
    val ((pend, m), _) = Tracer.spanned(tracer, s"tick#$n") { unitSpan =>
      val pend = CdcCommon.pending(base.resolve("manifest.json"), sp, tracer, unitSpan)
      val m = meter.measure {
        Tracer.spanned(tracer, "client.run", unitSpan)(_ =>
          CdcCommon.attempt(new GraftClient(spark, config).run()))
      }
      (pend, m)
    }
    val (results, runSpan) = m.result
    val failedTables = tables.count { t =>
      pend.folders.getOrElse(t.name, 0) > 0 && results.find(_.tableName == t.name).forall(_.skipped)
    }
    val traced = tracer.fold(Map.empty[String, Double])(_.window(runSpan).client)
    GraftBench.Sample("tick", m.seconds, 1, if (failedTables > 0) 1 else 0, m.heapPeakMb, m.cpuS,
      traced ++ pend.layers ++ Map("sinks.rows_written" -> results.map(_.rowsWritten).sum.toDouble))
  }

  private def schemaOf(t: Table, evolved: Boolean): StructType = StructType(
    StructField("id", LongType, nullable = false) +:
      (t.cols ++ (if (evolved) Seq(added) else Nil)).map(c => StructField(c.name, c.kind.tpe)) :+
      StructField("gwcbi___operation", IntegerType) :+ StructField("gwcbi___seqval_hex", StringType))

  /** One folder of `n` changes: 55 % inserts of new keys, 35 % updates
    * and 10 % deletes of live keys, updates Zipf-skewed over the live
    * keys. Applied to the expected state as generated.
    */
  private def land(t: Table, n: Int): Unit = {
    val rnd = new SplittableRandom(o.seed * 1000003L + tick * 131L + t.name.hashCode)
    val live = state(t.name)
    val evolved = t == evolving && tick >= evolvedAt
    val ops = Seq.fill((n * 0.55).toInt)(2) ++ Seq.fill((n * 0.35).toInt)(4) ++
      Seq.fill(n - (n * 0.55).toInt - (n * 0.35).toInt)(1)
    val shuffled = ops.map(op => (rnd.nextLong(), op)).sortBy(_._1).map(_._2)
    var keys = live.keys.toArray.sorted
    val rows = shuffled.zipWithIndex.flatMap { case (op, i) =>
      val seq = f"$tick%08x$i%08x"
      val width = t.cols.size + (if (evolved) 1 else 0)
      // a key last written before the fingerprint change has no value
      // for the added column
      def row(k: Long, opCode: Int, vals: Seq[Any]) =
        Row.fromSeq((k +: vals.padTo(width, null)) ++ Seq(opCode, seq))
      def values = t.cols.map(_.kind.gen(rnd)) ++ (if (evolved) Seq(added.kind.gen(rnd)) else Nil)
      if (op == 2 || keys.isEmpty) {
        val k = nextKey(t.name)
        nextKey(t.name) = k + 1
        val v = values
        live(k) = (v, seq)
        Some(row(k, if (rnd.nextBoolean()) 2 else 0, v))
      } else {
        val rank = math.min(keys.length - 1,
          (math.exp(rnd.nextDouble() * math.log(keys.length + 1.0)) - 1).toInt)
        val k = keys((rank.toLong * Landing.Multiplier % keys.length).toInt)
        if (op == 4) {
          val v = values
          live(k) = (v, seq)
          Some(row(k, 4, v))
        } else {
          val v = live(k)._1
          live.remove(k)
          keys = keys.filterNot(_ == k)
          Some(row(k, 1, v))
        }
      }
    }
    rawRows(t.name) += rows.size
    val stage = root.resolve("_staging")
    spark.createDataFrame(rows.asJava, schemaOf(t, evolved)).coalesce(1)
      .write.parquet(stage.toString)
    val dir = base.resolve(t.name).resolve(fp(t, evolved)).resolve(ts(tick).toString)
    Files.createDirectories(dir.getParent)
    Files.move(stage, dir)
  }

  private def writeManifest(): Unit = {
    val entries = tables.map { t =>
      val history = if (t == evolving && tick >= evolvedAt)
        s""""${fp(t, evolved = false)}": "${ts(0)}", "${fp(t, evolved = true)}": "${ts(evolvedAt)}""""
      else s""""${fp(t, evolved = false)}": "${ts(0)}""""
      s""""${t.name}": {"lastSuccessfulWriteTimestamp": "${ts(tick)}", """ +
        s""""dataFilesPath": "${base.resolve(t.name)}", "schemaHistory": {$history}}"""
    }
    Files.write(base.resolve("manifest.json"), entries.mkString("{", ",\n", "}").getBytes("UTF-8"))
  }

  def enough(samples: Seq[GraftBench.Sample]): Boolean = samples.size >= 20

  /** A replay run without a manifest advance must write nothing; then
    * Derby's merged tables must equal the generator's state and the raw
    * tables must hold every change row.
    */
  def checks(): Seq[GraftBench.Check] = {
    val replayRows = new GraftClient(spark, config).run().map(_.rowsWritten).sum
    val replay = GraftBench.Check("sync.replay", replayRows == 0L, s"replay tick wrote $replayRows rows")
    val evolvedOk = GraftBench.Check("sync.evolved", evolvedAt < tick,
      s"fingerprint change at tick $evolvedAt of $tick")
    val perTable = tables.flatMap { t =>
      val evolved = t == evolving && evolvedAt < tick
      val cols = (t.cols ++ (if (evolved) Seq(added) else Nil)).map(_.name)
      val schema = StructType(schemaOf(t, evolved).fields.filterNot(_.name == "gwcbi___operation"))
      val want = state(t.name).toSeq.map { case (k, (v, seq)) =>
        val padded = if (evolved) v.padTo(cols.size, null) else v
        Row.fromSeq((k +: padded) :+ seq)
      }
      val wantD = CdcCommon.digest(spark.createDataFrame(want.asJava, schema))
      val merged = spark.read.format("jdbc").option("url", url).option("user", "app")
        .option("password", "graft").option("dbtable", s"MERGEDS.${t.name}").load()
        .select(schema.fieldNames.map(n => org.apache.spark.sql.functions.col(n)).toIndexedSeq: _*)
      val gotD = CdcCommon.digest(merged)
      val raw = jdbcCount(s"RAWS.${t.name}")
      Seq(
        GraftBench.Check(s"sync.${t.name}.merged", gotD == wantD,
          s"rows ${gotD._1} (expected ${wantD._1}), hash ${if (gotD._2 == wantD._2) "equal" else "differs"}"),
        GraftBench.Check(s"sync.${t.name}.raw", raw == rawRows(t.name),
          s"raw rows $raw (expected ${rawRows(t.name)})"))
    }
    try DriverManager.getConnection("jdbc:derby:;shutdown=true")
    catch { case _: SQLException => () } // Derby signals a clean shutdown by throwing
    replay +: evolvedOk +: perTable
  }

  private def jdbcCount(table: String): Long = {
    val c = DriverManager.getConnection(url, "app", "graft")
    try {
      val rs = c.createStatement().executeQuery(s"SELECT COUNT(*) FROM $table")
      rs.next()
      rs.getLong(1)
    } finally c.close()
  }

  def report(samples: Seq[GraftBench.Sample]): Seq[String] = {
    val ok = samples.filter(_.failed == 0).map(_.seconds).sorted
    val (tail, pct) = tailOf(ok)
    Seq(
      s"input: ${tables.size} tables, $RowsPerTick change rows per table per tick, $tick ticks",
      s"sync_p50_s = ${GraftBench.median(ok)} s (${ok.size} ticks)",
      f"sync_tail_s = $tail s (p$pct%.0f of ${ok.size} ticks, 10 or more beyond it)")
  }
}

object SyncJdbc {
  val InitialRows = 5000
  val WarmTicks = 3
  val RowsPerTick = 1000

  /** The highest percentile with at least ten samples above it, and
    * that percentile; the maximum when there are fewer than eleven.
    */
  def tailOf(sorted: Seq[Double]): (Double, Double) =
    if (sorted.isEmpty) (0.0, 0.0)
    else if (sorted.size <= 10) (sorted.last, 100.0)
    else (sorted(sorted.size - 11), 100.0 * (sorted.size - 10) / sorted.size)

  sealed abstract class Kind(val tpe: DataType) { def gen(r: SplittableRandom): Any }
  case object Word extends Kind(StringType) {
    def gen(r: SplittableRandom): Any = Words(r.nextInt(Words.size)) + "-" + r.nextInt(1000)
  }
  case object Text extends Kind(StringType) {
    def gen(r: SplittableRandom): Any = Seq.fill(8 + r.nextInt(16))(Words(r.nextInt(Words.size))).mkString(" ")
  }
  case object Money extends Kind(DoubleType) {
    def gen(r: SplittableRandom): Any = r.nextInt(10000000) / 100.0
  }
  case object Time extends Kind(TimestampType) {
    def gen(r: SplittableRandom): Any = new Timestamp((1500000000L + r.nextInt(300000000)) * 1000L)
  }

  final case class Col(name: String, kind: Kind)
  final case class Table(name: String, cols: Seq[Col])

  private val Words = Vector("open", "closed", "pending", "renewal", "quote", "bound", "issued",
    "cancelled", "audit", "payment", "invoice", "claim", "reserve", "recovery", "note")
}
