package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Reaches the scheduler's listener bus, which Spark keeps package-private:
  * the benchmark waits on it so that every event of a finished action has
  * reached its listeners before the action's figures are read.
  */
object BusBridge {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
