package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport

/** Output checks of the CDC pipeline runs, made by reading the sinks'
  * parquet files directly (no Spark job, so the checks neither cost a cold
  * query plan nor show up in the traced run's scheduler events).
  *
  *  - every valid envelope lands exactly once across the two sinks, a hit
  *    in the success sink and a miss in the DLQ, and nothing else lands;
  *  - no tombstone, delete or zero-id row reaches either sink;
  *  - the enriched columns equal the dimension's;
  *  - with a repair dimension: every DLQ envelope is replayed into the
  *    success sink exactly once, enriched from the repair dimension.
  *
  * Returns the number of violations (one per envelope per run per failed
  * check) and a line per kind of violation found.
  */
object SinkCheck {

  /** The envelopes a run was fed: versions `first until first + n`. */
  final case class Input(first: Long, n: Long, seed: Long, dimRows: Long, missShare: Double) {
    def kind(v: Long): Int = Envelopes.env(seed, v, dimRows, missShare).kind
  }

  private def parquetFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil).filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
      .flatMap(f => if (f.isDirectory) parquetFiles(f) else if (f.getName.endsWith(".parquet")) Seq(f) else Nil)

  /** (name of the file's parent directory, record) for every record under `dir`. */
  def records(dir: String): Iterator[(String, Group)] =
    parquetFiles(new File(dir)).iterator.flatMap { f =>
      val r = ParquetReader.builder(new GroupReadSupport(), new Path(f.getAbsolutePath)).build()
      Iterator.continually(r.read()).takeWhile { g => if (g == null) r.close(); g != null }
        .map(g => f.getParentFile.getName -> g)
    }

  private def has(g: Group, f: String): Boolean = g.getFieldRepetitionCount(f) > 0

  /** Dimension columns in `Cdc.DimCols` order, as strings, keyed by key. */
  def dimension(dir: String): Map[Long, Seq[String]] =
    records(dir).map { case (_, g) => g.getLong(Cdc.DimKey, 0) -> dimCols(g) }.toMap

  private def dimCols(g: Group): Seq[String] =
    Cdc.DimCols.map(c => if (has(g, c)) g.getValueToString(g.getType.getFieldIndex(c), 0) else "∅")

  def check(runs: Seq[String], input: Input, dimDir: String, repairDir: Option[String]): (Long, Seq[String]) = {
    val dim = dimension(dimDir)
    val repair = repairDir.map(dimension)
    val found = mutable.LinkedHashMap.empty[String, Long].withDefaultValue(0L)
    def bad(what: String, k: Long = 1): Unit = if (k > 0) found(what) += k
    runs.foreach { run =>
      val ok = mutable.HashMap.empty[Long, Int].withDefaultValue(0)
      val dlq = mutable.HashMap.empty[Long, Int].withDefaultValue(0)
      val replayed = mutable.HashMap.empty[Long, Int].withDefaultValue(0)
      records(s"$run/ok").foreach { case (batchDir, g) =>
        val v = g.getLong("version", 0)
        val id = g.getLong("id", 0)
        val isReplay = batchDir.startsWith("batch=replay-")
        if (id == 0) bad("invalid row in success sink")
        val want = (if (isReplay) repair.getOrElse(Map.empty[Long, Seq[String]]) else dim).get(id)
        if (!want.contains(dimCols(g))) bad(if (isReplay) "replayed columns differ" else "enriched columns differ")
        if (isReplay) replayed(v) += 1 else ok(v) += 1
      }
      records(s"$run/dlq").foreach { case (_, g) =>
        val after = if (has(g, "value") && has(g.getGroup("value", 0), "after"))
          Some(g.getGroup("value", 0).getGroup("after", 0)) else None
        after match {
          case Some(a) if a.getLong("id", 0) != 0 => dlq(a.getLong("version", 0)) += 1
          case _ => bad("invalid envelope in DLQ")
        }
      }
      val last = input.first + input.n
      bad("landed outside the input", (ok.keys ++ dlq.keys ++ replayed.keys).toSet
        .count(v => v < input.first || v >= last))
      var v = input.first
      while (v < last) {
        val k = input.kind(v)
        val (o, d) = (ok(v), dlq(v))
        val landedRight = k match {
          case Gen.Hit  => o == 1 && d == 0
          case Gen.Miss => o == 0 && d == 1
          case _        => o == 0 && d == 0
        }
        if (!landedRight) bad("landed other than exactly once in its sink")
        if (repair.isDefined && replayed(v) != (if (k == Gen.Miss) 1 else 0))
          bad("replayed other than exactly once")
        v += 1
      }
    }
    (found.values.sum, found.map { case (c, k) => s"$k × $c" }.toSeq)
  }
}
