package graft.streaming

import graft.GraftSpecBase

/** Pins the injectable-scratch-base contract cdc_pipeline_e2e and the
  * bench stream rely on: session-conf override wins, every allocation is
  * unique (bench trials must never share a checkpoint), and the returned
  * path is qualified + created on the resolved filesystem. Also pins that
  * staging a fixture table copies all of it or fails.
  */
class WorkDirsSpec extends GraftSpecBase {

  test("default base is java.io.tmpdir; allocations are unique and created") {
    val a = WorkDirs.fresh(spark, "wd-test")
    val b = WorkDirs.fresh(spark, "wd-test")
    assert(a !== b)
    val tmp = System.getProperty("java.io.tmpdir").stripSuffix("/")
    assert(a.contains(tmp))
    assert(new java.io.File(new java.net.URI(a)).isDirectory)
  }

  test("spark.graft.stream.workdir conf overrides the base") {
    val base = java.nio.file.Files.createTempDirectory("wd-base").toString
    spark.conf.set("spark.graft.stream.workdir", base)
    try {
      val d = WorkDirs.fresh(spark, "conf-scoped")
      assert(d.contains(base))
      assert(new java.io.File(new java.net.URI(d)).isDirectory)
    } finally spark.conf.unset("spark.graft.stream.workdir")
  }

  test("stageRawTable copies a flat table directory and rejects a nested or empty one") {
    import java.nio.file.{Files, Path}
    def fixture(table: String)(layout: Path => Unit): String = {
      val dir = Files.createTempDirectory("wd-stage")
      layout(Files.createDirectory(dir.resolve(s"$table.parquet")))
      dir.toString
    }
    def staged(fixtureDir: String, table: String): Seq[String] = {
      val dst = WorkDirs.stageRawTable(spark, fixtureDir, table, "wd-stage-dst")
      // the local Hadoop filesystem adds hidden .crc siblings on copy
      new java.io.File(new java.net.URI(dst)).list().toSeq.filterNot(_.startsWith(".")).sorted
    }

    val flat = fixture("t") { d =>
      Files.writeString(d.resolve("part-0.parquet"), "a")
      Files.writeString(d.resolve("part-1.parquet"), "b")
      Files.writeString(d.resolve("_SUCCESS"), "")
    }
    assert(staged(flat, "t") === Seq("part-0.parquet", "part-1.parquet"))

    val nested = fixture("t") { d =>
      Files.writeString(d.resolve("part-0.parquet"), "a")
      Files.writeString(Files.createDirectory(d.resolve("k=1")).resolve("part-1.parquet"), "b")
    }
    val e1 = intercept[IllegalStateException](staged(nested, "t"))
    assert(e1.getMessage.contains("subdirectories (k=1)"))

    val empty = fixture("t")(d => Files.writeString(d.resolve("_SUCCESS"), ""))
    val e2 = intercept[IllegalStateException](staged(empty, "t"))
    assert(e2.getMessage.contains("no .parquet file"))
  }
}
