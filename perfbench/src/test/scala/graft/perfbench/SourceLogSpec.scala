package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class SourceLogSpec extends AnyFunSuite {
  private def entry(name: String, batch: Long) =
    s"""{"path":"file:///data/landing/$name","timestamp":1700000000000,"batchId":$batch}"""

  test("one log file maps each file name to its batch") {
    val m = SourceLog.parse(Seq("v1", entry("lo-000000.parquet", 3), entry("lo-000001.parquet", 3)))
    assert(m == Map("lo-000000.parquet" -> 3L, "lo-000001.parquet" -> 3L))
  }

  test("a checkpoint's batch and compact files are read together; hidden and checksum files are not") {
    val ckpt = Files.createTempDirectory("sourcelog")
    val dir = Files.createDirectories(ckpt.resolve("sources/0"))
    def put(name: String, lines: String*): Unit =
      Files.write(dir.resolve(name), lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    put("9.compact", "v1", entry("a.parquet", 0), entry("b.parquet", 9))
    put("10", "v1", entry("c.parquet", 10))
    put("11", "v1", entry("d.parquet", 11), entry("e.parquet", 11))
    put(".12.tmp", "v1", entry("f.parquet", 12))
    put(".11.crc", "garbage")
    val m = SourceLog.read(ckpt.toString)
    assert(m == Map("a.parquet" -> 0L, "b.parquet" -> 9L, "c.parquet" -> 10L, "d.parquet" -> 11L, "e.parquet" -> 11L))
    assert(SourceLog.read(ckpt.resolve("missing").toString).isEmpty)
  }
}
