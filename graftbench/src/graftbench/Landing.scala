package graftbench

import java.nio.file.{Files, Path}

import scala.collection.parallel.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded CDC landing zone in the reference layout
  * `<base>/<table>/<fingerprint>/<timestampFolder>/<file>.parquet`, plus
  * its manifest and the final table state it implies.
  *
  * Each table has `keys` entities. Every key is inserted once
  * (operation 2 or 0), takes a Zipf-skewed share of the table's
  * updates (operation 4), and a fixed share of keys ends with a
  * delete (operation 1), giving roughly 55 % inserts, 35 % updates and
  * 10 % deletes. A change at version time `t` carries column values
  * that are a pure function of (seed, table, key, t), so the final
  * state of every table is known by construction: the values at each
  * surviving key's last version. Evolving tables switch to a second
  * fingerprint with extra columns at 60 % of their folders.
  */
final class Landing(spark: SparkSession, seed: Long, val base: Path, scale: Double) {
  import Landing._

  val tables: Seq[TableSpec] = Landing.specs(scale)

  private def h(table: String, parts: Column*): Column =
    xxhash64((lit(seed) +: lit(table) +: parts): _*)

  /** Uniform double in [0, 1) from a hash. */
  private def u(table: String, parts: Column*): Column =
    pmod(h(table, parts: _*), lit(Prime)).cast("double") / Prime.toDouble

  def folderOf(t: Column, spec: TableSpec): Column =
    floor(t.cast("double") * spec.folders / Horizon.toDouble).cast("int")

  def folderTs(f: Column): Column = lit(T0) + f.cast("long") * lit(FolderStepMs)

  def fingerprints(spec: TableSpec): Seq[String] = {
    val n = if (spec.evolved.nonEmpty) 2 else 1
    (1 to n).map(i => fingerprint(spec.name, seed, i))
  }

  /** Key-level facts: insert time, end of life, deleted flag. */
  private def keys(spec: TableSpec): DataFrame = {
    val t = spec.name
    spark.range(spec.keys).select(col("id").as("k"))
      .withColumn("t_ins", (u(t, col("k"), lit("ins")) * (Horizon * 0.6)).cast("long"))
      .withColumn("deleted", u(t, col("k"), lit("del")) < DeleteShare)
      .withColumn("t_end", when(col("deleted"),
        col("t_ins") + ((lit(Horizon) - col("t_ins")).cast("double") *
          (lit(0.5) + u(t, col("k"), lit("tdel")) * 0.5)).cast("long"))
        .otherwise(lit(Horizon)))
  }

  /** Every change row: key, version time, tie-break tag, operation. */
  def changes(spec: TableSpec): DataFrame = {
    val t = spec.name
    val ks = keys(spec)
    val inserts = ks.select(col("k"), col("t_ins").as("t"), lit(0L).as("tag"),
      when(u(t, col("k"), lit("op")) < 0.5, lit(2)).otherwise(lit(0)).as("op"))
    // Zipf-like skew: log-uniform rank, then a fixed permutation of
    // the key space (a multiplier coprime to the key count) so hot
    // keys are spread over the id range.
    val rank = floor(exp(u(t, col("id"), lit("z")) * math.log(spec.keys + 1.0))) - 1
    val updates = spark.range(spec.updates)
      .select(col("id").as("j"),
        pmod(rank.cast("long") * lit(Multiplier) + lit(seed & 0xffffL), lit(spec.keys)).as("k"),
        u(t, col("id"), lit("t")).as("ut"))
      .join(ks, "k")
      .select(col("k"),
        (col("t_ins") + lit(1L) + (col("ut") *
          (col("t_end") - col("t_ins") - lit(2L)).cast("double")).cast("long")).as("t"),
        (col("j") + 1).as("tag"), lit(4).as("op"))
    val deletes = ks.filter(col("deleted"))
      .select(col("k"), col("t_end").as("t"), lit(spec.updates + 1L).as("tag"), lit(1).as("op"))
    inserts.unionByName(updates).unionByName(deletes)
  }

  def seqval(t: Column, tag: Column): Column =
    concat(lpad(hex(t), 12, "0"), lpad(hex(tag), 8, "0"))

  /** Business columns of key `k` at version time `t`, by name. */
  def values(spec: TableSpec, k: Column, t: Column, evolvedCols: Boolean): Seq[(String, Column)] = {
    val cols = if (evolvedCols) spec.columns ++ spec.evolved else spec.columns
    ("id" -> k) +: cols.zipWithIndex.map { case (c, i) =>
      c.name -> c.kind.gen(h(spec.name, k, t, lit(i)))
    }
  }

  /** Write the zone and manifest, tables in parallel; returns each
    * table's change-row count and the digest of its final state.
    */
  def write(): Map[String, (Long, (Long, java.math.BigDecimal))] = {
    val tmp = base.resolve("_staging")
    val written = tables.par.map { spec =>
      val fps = fingerprints(spec)
      val ch = changes(spec)
        .withColumn("f", folderOf(col("t"), spec))
        .localCheckpoint()
      val rows = ch.count()
      fps.zipWithIndex.foreach { case (fp, i) =>
        val part = if (fps.size == 1) ch
          else if (i == 0) ch.filter(col("f") < spec.evolveAt) else ch.filter(col("f") >= spec.evolveAt)
        val business = values(spec, col("k"), col("t"), evolvedCols = i == 1)
          .map { case (n, c) => c.as(n) }
        val out = part.select(business ++ Seq(
          col("op").as("gwcbi___operation"),
          seqval(col("t"), col("tag")).as("gwcbi___seqval_hex"),
          (col("t") / 1000).cast("long").as("gwcbi___connector_ts_ms"),
          pmod(h(spec.name, col("k"), col("t"), lit("tx")), lit(1000000L)).as("gwcbi___tx_id"),
          folderTs(col("f")).as("__ts")): _*)
        val stage = tmp.resolve(s"${spec.name}-$fp")
        // one file per timestamp folder, as the producer writes them
        out.repartition(col("__ts")).write.partitionBy("__ts").parquet(stage.toString)
        val fpDir = base.resolve(spec.name).resolve(fp)
        Files.createDirectories(fpDir)
        CdcCommon.list(stage)
          .filter(_.getFileName.toString.startsWith("__ts="))
          .foreach(d => Files.move(d, fpDir.resolve(d.getFileName.toString.stripPrefix("__ts="))))
      }
      spec.name -> (rows, CdcCommon.digest(expected(spec, ch)))
    }.seq.toMap
    val manifest = tables.map { spec =>
      val history = fingerprints(spec).zipWithIndex.map { case (fp, i) =>
        s""""$fp": "${if (i == 0) T0 else T0 + spec.evolveAt * FolderStepMs}""""
      }
      val lastTs = T0 + (spec.folders - 1) * FolderStepMs
      s""""${spec.name}": {"lastSuccessfulWriteTimestamp": "$lastTs", """ +
        s""""totalProcessedRecordsCount": 0, "dataFilesPath": "${base.resolve(spec.name)}", """ +
        s""""schemaHistory": {${history.mkString(", ")}}}"""
    }
    Files.write(manifestPath, manifest.mkString("{", ",\n", "}").getBytes("UTF-8"))
    CdcCommon.deleteTree(tmp)
    written
  }

  def manifestPath: Path = base.resolve("manifest.json")

  def parquetBytes: Long = CdcCommon.walk(base)
    .filter(p => p.getFileName.toString.endsWith(".parquet")).map(Files.size).sum

  /** Final state by construction: surviving keys at their last version. */
  def expected(spec: TableSpec, changes: DataFrame): DataFrame = {
    val last = changes.groupBy("k")
      .agg(max(struct(col("t"), col("tag"), col("op"))).as("m"))
      .filter(col("m.op") =!= 1)
      .select(col("k"), col("m.t").as("t"), col("m.tag").as("tag"))
    val evolvedRow = if (spec.evolved.isEmpty) lit(false) else folderOf(col("t"), spec) >= spec.evolveAt
    val added = spec.evolved.map(_.name).toSet
    val cols = values(spec, col("k"), col("t"), evolvedCols = true).map { case (n, c) =>
      (if (added(n)) when(evolvedRow, c) else c).as(n)
    }
    last.select(cols :+ seqval(col("t"), col("tag")).as("gwcbi___seqval_hex"): _*)
  }

  /** Column names and Spark types of the final state, in order. */
  def expectedSchema(spec: TableSpec): Seq[(String, String)] =
    ("id" -> "bigint") +: (spec.columns ++ spec.evolved).map(c => c.name -> c.kind.sqlType) :+
      ("gwcbi___seqval_hex" -> "string")
}

object Landing {

  /** The name of a table's `n`th schema fingerprint. */
  def fingerprint(table: String, seed: Long, n: Int): String =
    f"${(table + seed + n).hashCode.toLong & 0xffffffffL}%08x$n%02d"

  /** Digest of a zone's content: its manifest (base path masked) and,
    * per table and fingerprint, the rows of every folder with the
    * folder's name. File names and parquet metadata do not count.
    */
  def zoneDigest(spark: SparkSession, zone: Landing): String = {
    val manifest = new String(Files.readAllBytes(zone.manifestPath), "UTF-8")
      .replace(zone.base.toString, "<base>")
    val parts = zone.tables.flatMap { t =>
      zone.fingerprints(t).map { fp =>
        val rows = spark.read.parquet(zone.base.resolve(t.name).resolve(fp).resolve("*").toString)
          .withColumn("folder", regexp_extract(input_file_name(), "/(\\d+)/[^/]+$", 1))
        s"${t.name}/$fp:${CdcCommon.digest(rows)}"
      }
    }
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest((manifest +: parts).mkString("\n").getBytes("UTF-8")).map(b => f"$b%02x").mkString
  }

  /** Generator self-check: the same seed gives the same zone digest, a
    * different seed a different one.
    */
  def selfCheck(spark: SparkSession, work: Path, seed: Long, scale: Double): Boolean = {
    def zone(s: Long, dir: String) = {
      val z = new Landing(spark, s, work.resolve(dir), scale)
      z.write()
      zoneDigest(spark, z)
    }
    val (a, b, c) = (zone(seed, "a"), zone(seed, "b"), zone(seed + 1, "c"))
    println(s"seed $seed: $a")
    println(s"seed $seed again: $b")
    println(s"seed ${seed + 1}: $c")
    val ok = a == b && a != c
    println(s"generator self-check: ${if (ok) "ok" else "FAILED"}")
    ok
  }

  /** Version-time horizon, in arbitrary fine units. */
  val Horizon: Long = 1000000000000L
  val Prime: Long = 1000000007L
  val Multiplier: Long = 1000003L
  val DeleteShare: Double = 0.10 / 0.55
  val T0: Long = 1700000000000L
  val FolderStepMs: Long = 60000L

  sealed abstract class Kind(val sqlType: String) { def gen(h: Column): Column }

  case object LongKind extends Kind("bigint") {
    def gen(h: Column): Column = pmod(h, lit(100000000L))
  }
  case object DoubleKind extends Kind("double") {
    def gen(h: Column): Column = pmod(h, lit(10000000L)).cast("double") / 100.0
  }
  case object TsKind extends Kind("timestamp") {
    def gen(h: Column): Column = timestamp_seconds(lit(1500000000L) + pmod(h, lit(300000000L)))
  }
  /** A vocabulary word and a number. */
  case object WordKind extends Kind("string") {
    def gen(h: Column): Column = word(h)
  }
  /** Free text of 300 to 1500 characters, cut from a fixed passage. */
  case object TextKind extends Kind("string") {
    def gen(h: Column): Column = trim(substring(Passage,
      (pmod(h, lit(1000L)) + 1).cast("int"), (lit(300) + pmod(xxhash64(h), lit(1200L))).cast("int")))
  }
  case object AddressKind extends Kind("struct<street:string,city:string,zip:int>") {
    def gen(h: Column): Column = struct(
      concat(pmod(h, lit(9000L)).cast("string"), lit(" "), word(xxhash64(h))).as("street"),
      word(xxhash64(h, lit("city"))).as("city"),
      pmod(xxhash64(h, lit("zip")), lit(90000L)).cast("int").as("zip"))
  }

  private val Vocab = Seq("claim", "policy", "premium", "adjuster", "coverage", "deductible",
    "insured", "loss", "reserve", "payment", "vehicle", "property", "liability", "storm",
    "water", "fire", "theft", "review", "approved", "pending", "closed", "north", "south",
    "harbor", "ridge", "valley", "agent", "broker", "renewal", "endorsement")

  private val vocab: Column = array(Vocab.map(lit): _*)

  private def word(h: Column): Column =
    concat(element_at(vocab, (pmod(h, lit(Vocab.size.toLong)) + 1).cast("int")), lit("-"),
      pmod(h, lit(997L)).cast("string"))

  /** 2.6k characters of comma-bearing prose to cut notes from. */
  private val Passage: Column = lit(Iterator.iterate(1L)(x => x * 6364136223846793005L + 1442695040888963407L)
    .map(x => Vocab(((x >>> 33) % Vocab.size).toInt) + (if ((x >>> 20) % 7 == 0) "," else ""))
    .take(300).mkString(" "))

  final case class ColSpec(name: String, kind: Kind)

  final case class TableSpec(name: String, keys: Long, updates: Long, folders: Int,
                             columns: Seq[ColSpec], evolved: Seq[ColSpec]) {
    /** First folder of the second fingerprint, when `evolved` adds columns. */
    val evolveAt: Int = (folders * 0.6).toInt
  }

  /** Four tables of mixed width, two of them evolving; `scale`
    * multiplies the row counts (1.0 is about 770k change rows in all).
    */
  def specs(scale: Double): Seq[TableSpec] = {
    def t(name: String, rows: Double, cols: Seq[ColSpec], evolved: Seq[ColSpec] = Nil) = {
      val n = rows * scale
      TableSpec(name, (n * 0.55).toLong, (n * 0.35).toLong, 24, cols, evolved)
    }
    val kinds = Seq(LongKind, DoubleKind, WordKind)
    Seq(
      t("kv_setting", 420000, Seq(ColSpec("name", WordKind), ColSpec("val", LongKind)),
        Seq(ColSpec("val2", LongKind))),
      t("wide_policy_line", 120000,
        (1 to 59).map(i => ColSpec(f"c$i%02d", kinds(i % kinds.size)))),
      t("contact_address", 180000, Seq(ColSpec("name", WordKind), ColSpec("addr", AddressKind),
        ColSpec("amount", DoubleKind), ColSpec("since", TsKind)), Seq(ColSpec("tag", WordKind))),
      t("claim_note", 50000, Seq(ColSpec("title", WordKind), ColSpec("body", TextKind))))
  }
}
