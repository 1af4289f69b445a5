package perfbench

import java.io.{BufferedReader, File, FileInputStream, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.zip.GZIPInputStream

import scala.jdk.CollectionConverters._

/** Local-filesystem reads the benchmark makes outside the engine. */
object Fs {

  /** Every regular file under `dir`: path → (size, modified-time). */
  def listing(dir: String): Map[String, (Long, Long)] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)).toMap
      finally s.close()
    }
  }

  /** Files and bytes that are new or changed in `after` relative to `before`. */
  def written(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): (Long, Long) = {
    val changed = after.filter { case (p, v) => !before.get(p).contains(v) }
    (changed.size.toLong, changed.values.map(_._1).sum)
  }

  def bytesUnder(paths: Seq[String]): (Long, Long) = {
    val all = paths.flatMap(p => listing(p).values)
    (all.size.toLong, all.map(_._1).sum)
  }

  /** Lines of every `part-*` file of a Spark text output, gzip or plain. */
  def partLines(dir: String): Seq[String] =
    new File(dir).listFiles().filter(_.getName.startsWith("part-")).sortBy(_.getName).toSeq.flatMap { f =>
      val in = if (f.getName.endsWith(".gz")) new GZIPInputStream(new FileInputStream(f)) else new FileInputStream(f)
      val r = new BufferedReader(new InputStreamReader(in, UTF_8))
      try Iterator.continually(r.readLine()).takeWhile(_ != null).toVector
      finally r.close()
    }

  def rm(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toSeq.reverse.foreach((p: Path) => Files.delete(p))
      finally s.close()
    }
  }
}
