package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.cdc.{Manifest, Savepoints}
import graft.sources.CdcBatchReader

/** Helpers shared by the two CDC workloads. */
object CdcCommon {

  /** Entries of a directory, the stream closed. */
  def list(dir: Path): List[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toList finally s.close()
  }

  /** A directory and everything under it, parents first, the stream closed. */
  def walk(dir: Path): List[Path] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.toList finally s.close()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) walk(p).reverse.foreach(Files.delete)

  /** Data files under `dir` (Spark's hidden `.crc` and `_SUCCESS`
    * markers excluded): (count, bytes).
    */
  def dataFiles(dir: Path): (Int, Long) = {
    if (!Files.exists(dir)) (0, 0L)
    else {
      val fs = walk(dir).filter(Files.isRegularFile(_))
        .filterNot { p => val n = p.getFileName.toString; n.startsWith(".") || n.startsWith("_") }
      (fs.size, fs.map(Files.size).sum)
    }
  }

  /** A client run that throws as a whole counts every table with
    * pending folders as failed; the exception is reported, not raised.
    */
  def attempt[T](run: => Seq[T]): Seq[T] =
    try run catch {
      case e: Exception =>
        System.err.println(s"[graftbench] client run failed: $e")
        Seq.empty
    }

  /** Order-independent digest of a frame: row count and the sum of
    * each row's 64-bit hash.
    */
  def digest(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.select(count(lit(1)),
      coalesce(sum(xxhash64(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*)
        .cast("decimal(38,0)")), lit(0).cast("decimal(38,0)"))).head()
    (r.getLong(0), r.getDecimal(1))
  }

  /** What the client has pending, listed the way it lists it: the
    * manifest, then each table's unprocessed folders from its savepoint.
    */
  final case class Pending(manifestS: Double, listS: Double, folders: Map[String, Int],
                           files: Int) {
    def layers: Map[String, Double] = Map(
      "cdc.manifest_s" -> manifestS, "sources.list_s" -> listS,
      "sources.folders" -> folders.values.sum.toDouble, "sources.files" -> files.toDouble)
  }

  def pending(manifestPath: Path, savepointsDir: Path, tracer: Option[Tracer],
              parent: Int): Pending = {
    def spanned[T](name: String)(f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val (r, _) = Tracer.spanned(tracer, name, parent)(_ => f)
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val (manifest, manifestS) = spanned("cdc.manifest")(Manifest.fromFile(manifestPath.toString))
    val (batches, listS) = spanned("sources.list") {
      val sp = new Savepoints(savepointsDir.toString)
      manifest.toSeq.map { case (t, e) => t -> CdcBatchReader.listBatches(t, e, sp.getAsLong(t)) }
    }
    val files = batches.flatMap(_._2.flatMap(_.paths))
      .map(p => list(java.nio.file.Paths.get(p)).count(_.getFileName.toString.endsWith(".parquet")))
    Pending(manifestS, listS, batches.map { case (t, bs) => t -> bs.map(_.paths.size).sum }.toMap,
      files.sum)
  }
}
