package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

/** What one `UpsertSink` publish wrote, read from outside the sink:
  * the `_CURRENT` pointer, the version manifest and the parquet footers
  * of the version directory. */
final case class SinkWrite(version: String, touchedBuckets: Int, files: Int, rows: Long, bytes: Long)

object SinkProbe {
  private val conf = new Configuration()

  def current(viewDir: String): String =
    new String(Files.readAllBytes(Paths.get(viewDir, "_CURRENT")), "UTF-8").trim

  /** `bucket -> version/__bucket=b` lines of a manifest. */
  def manifest(viewDir: String, version: String): Seq[(Int, String)] =
    Files.readAllLines(Paths.get(viewDir, s"$version.manifest")).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("batch "))
      .map { l => val Array(b, d) = l.split(" ", 2); (b.toInt, d) }

  def parquetFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).getOrElse(Array.empty[File]).toSeq.flatMap { f =>
      if (f.isDirectory) parquetFiles(f)
      else if (f.getName.endsWith(".parquet") && !f.getName.startsWith(".")) Seq(f)
      else Nil
    }

  def rowsOf(f: File): Long = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.getPath), conf))
    try r.getRecordCount finally r.close()
  }

  /** Bucket files the current manifest references. */
  def currentFiles(viewDir: String): Seq[File] =
    manifest(viewDir, current(viewDir)).flatMap { case (_, d) => parquetFiles(new File(s"$viewDir/$d")) }

  /** The latest publish: buckets it rewrote and the files it wrote there. */
  def latest(viewDir: String): SinkWrite = {
    val v = current(viewDir)
    val mine = manifest(viewDir, v).filter(_._2.startsWith(s"$v/"))
    val files = mine.flatMap { case (_, d) => parquetFiles(new File(s"$viewDir/$d")) }
    SinkWrite(v, mine.size, files.size, files.map(rowsOf).sum, files.map(_.length()).sum)
  }
}
