package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.runner.{ParquetTarget, TargetTable}

/** A [[TargetTable]] that counts reads and times the overwrite, and
  * records the bytes each overwrite leaves on disk. */
final class TimedTarget(spark: SparkSession, val path: String, spans: Spans)
    extends TargetTable {
  private val inner = new ParquetTarget(spark, path)
  var reads = 0
  var overwriteStartNs = 0L
  var overwriteEndNs = 0L
  var bytesWritten = 0L

  override def exists: Boolean = inner.exists
  override def read(s: SparkSession): DataFrame = {
    reads += 1
    spans("runner.target.read")(inner.read(s))
  }
  override def overwrite(df: DataFrame): Unit = spans("runner.target.overwrite") {
    overwriteStartNs = System.nanoTime()
    inner.overwrite(df)
    overwriteEndNs = System.nanoTime()
    bytesWritten += Files.bytesUnder(path)
  }
  def resetCounters(): Unit = {
    reads = 0; overwriteStartNs = 0; overwriteEndNs = 0; bytesWritten = 0
  }
}

object Files {
  def bytesUnder(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
      else if (f.isFile) f.length() else 0L
    walk(new java.io.File(path))
  }

  def copyTree(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    val dst = java.nio.file.Paths.get(to)
    val walk = java.nio.file.Files.walk(src)
    try walk.forEach { p =>
      val q = dst.resolve(src.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(q)
      else java.nio.file.Files.copy(p, q)
    } finally walk.close()
  }

  def rmTree(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
      f.delete()
    }
    rm(new java.io.File(path))
  }
}

/** Order-independent digest of a table of (href, modified_ms, jsondata)
  * rows: SHA-256 over the rows sorted by href, one
  * `href \u0001 modified_ms \u0001 jsondata \n` line each. `run.py`
  * computes the same digest over a parquet target. */
object Digest {
  private val Sep = "\u0001"

  def ofRows(rows: Seq[(String, Long, String)]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.sortBy(_._1).foreach { case (h, m, j) =>
      md.update((h + Sep + m + Sep + j + "\n").getBytes("UTF-8"))
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def ofEntries(es: Seq[Entry]): String =
    ofRows(es.map(e => (e.href, e.modifiedMs, e.json)))

  def ofJdbc(conn: java.sql.Connection, table: String): String = {
    val rs = conn.createStatement()
      .executeQuery(s"SELECT href, modified_ms, jsondata FROM $table")
    val rows = Seq.newBuilder[(String, Long, String)]
    while (rs.next()) rows += ((rs.getString(1), rs.getLong(2), rs.getString(3)))
    rs.close()
    ofRows(rows.result())
  }
}
