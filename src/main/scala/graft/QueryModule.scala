package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One file's share of the driver registry: its queries by name, and the
  * DuckDB oracle SQL for each. SparkEntry lists every module once and
  * merges them with [[QueryModule.merged]].
  */
trait QueryModule {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracleSql: Map[String, String]
}

object QueryModule {

  /** One map over all modules. A name that two modules register would
    * silently shadow one of them, so it throws instead.
    */
  def merged[V](modules: Seq[QueryModule])(part: QueryModule => Map[String, V]): Map[String, V] =
    modules.foldLeft(Map.empty[String, V]) { (acc, m) =>
      val entries = part(m)
      val dup     = entries.keySet.intersect(acc.keySet)
      require(dup.isEmpty, s"query names registered twice: ${dup.toSeq.sorted.mkString(", ")}")
      acc ++ entries
    }
}
