package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

/** Reads the file stream source's log in a query checkpoint
  * (`<checkpoint>/sources/<n>/`) to learn which micro-batch took each file.
  *
  * Every batch file and every `<k>.compact` file is a version line followed
  * by one JSON entry per file: `{"path":…,"timestamp":…,"batchId":…}`.
  * Compaction copies earlier entries forward, so a path may appear more than
  * once; its batch id is the same each time.
  */
object SourceLog {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** file name (last path segment) → batch id, from the lines of one log file. */
  def parse(lines: Seq[String]): Map[String, Long] =
    lines.iterator
      .map(_.trim)
      .filter(l => l.startsWith("{"))
      .map { l =>
        val node = mapper.readTree(l)
        val path = node.get("path").asText()
        path.substring(path.lastIndexOf('/') + 1) -> node.get("batchId").asLong()
      }
      .toMap

  /** All entries of a checkpoint's first source. */
  def read(checkpoint: String, source: Int = 0): Map[String, Long] = {
    val dir = new File(s"$checkpoint/sources/$source")
    val files = Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil)
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.endsWith(".crc"))
    files.foldLeft(Map.empty[String, Long]) { (acc, f) =>
      acc ++ parse(Files.readAllLines(f.toPath, StandardCharsets.UTF_8).asScala.toSeq)
    }
  }
}
