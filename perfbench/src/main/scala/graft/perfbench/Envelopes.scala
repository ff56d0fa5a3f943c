package graft.perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{Executors, TimeUnit}

import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser

/** Seeded Debezium-envelope files. Envelope `v` (its version number) is a
  * pure function of (seed, v), so a file can be rebuilt, and the expected
  * sink contents derived, without reading anything back. Files are written
  * straight through the parquet writer (no Spark job), one file per call,
  * on a small thread pool.
  */
object Envelopes {
  final case class Env(version: Long, kind: Int, key: Long)

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def u(seed: Long, salt: Long, v: Long): Double =
    (mix(mix(seed * 31 + salt) ^ v) >>> 11) * (1.0 / (1L << 53))

  /** Hit keys are dimension keys 1 until `dimRows`; a miss carries a key in
    * `dimRows until 2 * dimRows - 1`, which only the repair dimension has.
    */
  def env(seed: Long, v: Long, dimRows: Long, missShare: Double): Env = {
    val r = u(seed, 1, v)
    val kind =
      if (r < 0.01) Gen.Tombstone else if (r < 0.02) Gen.Delete else if (r < 0.03) Gen.ZeroId
      else if (u(seed, 2, v) < missShare) Gen.Miss else Gen.Hit
    val hit = (u(seed, 3, v) * (dimRows - 1)).toLong + 1
    Env(v, kind, if (kind == Gen.Miss) hit + dimRows - 1 else if (kind == Gen.ZeroId) 0L else hit)
  }

  private val image = "{ optional int64 id; optional int64 version; optional binary name (STRING); }"
  val schema = MessageTypeParser.parseMessageType(
    s"""message spark_schema {
       |  optional group key { optional int64 id; }
       |  optional group value {
       |    optional group before $image
       |    optional group after $image
       |    optional binary op (STRING);
       |    optional int64 ts_ms;
       |  }
       |}""".stripMargin)

  private def record(f: SimpleGroupFactory, e: Env): Group = {
    val g = f.newGroup()
    g.addGroup("key").append("id", e.key)
    if (e.kind != Gen.Tombstone) {
      val value = g.addGroup("value")
      value.addGroup(if (e.kind == Gen.Delete) "before" else "after")
        .append("id", e.key).append("version", e.version).append("name", s"n${e.version}")
      value.append("op", if (e.kind == Gen.Delete) "d" else if (e.version % 2 == 0) "u" else "c")
      value.append("ts_ms", 1700000000000L + e.version)
    }
    g
  }

  def writeFile(path: Path, envs: Seq[Env]): Unit = {
    val w = ExampleParquetWriter.builder(new LocalOutputFile(path))
      .withType(schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
    val f = new SimpleGroupFactory(schema)
    try envs.foreach(e => w.write(record(f, e))) finally w.close()
  }

  /** Writes `files` files of `perFile` envelopes from version `first` into
    * `dir` as `<prefix><n>.parquet`; returns the names in file order.
    */
  def writeFiles(dir: String, prefix: String, first: Long, files: Int, perFile: Int,
      seed: Long, dimRows: Long, missShare: Double, threads: Int): IndexedSeq[String] = {
    val d = java.nio.file.Paths.get(dir)
    Files.createDirectories(d)
    val names = (0 until files).map(i => f"$prefix$i%06d.parquet")
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val futures = names.zipWithIndex.map { case (name, i) =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val v0 = first + i.toLong * perFile
            val tmp = d.resolve(s".tmp-$name")
            writeFile(tmp, (v0 until v0 + perFile).map(env(seed, _, dimRows, missShare)))
            Files.move(tmp, d.resolve(name), StandardCopyOption.ATOMIC_MOVE)
          }
        })
      }
      futures.foreach(_.get())
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
    names
  }
}
