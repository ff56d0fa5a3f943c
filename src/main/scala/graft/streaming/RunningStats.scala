package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** Running per-key aggregates on Spark 4's `transformWithState` — the
  * newer arbitrary-state API next to flatMapGroupsWithState: typed state
  * handles (`ValueState`/`MapState`/`ListState`) with per-state TTL,
  * timers, and a RocksDB-backed store: one `ValueState[(n, Σx, Σx²)]`
  * per key, updated per batch, emitting the refreshed running stats row
  * in Update mode.
  *
  * State budget: three numbers per live key, expired by the store after
  * `ttl` of no updates (TTLConfig is enforced by the state store itself —
  * no hand-rolled timeout bookkeeping, unlike the flatMapGroupsWithState
  * operators such as StatefulDedup).
  *
  * Requires the RocksDB state store provider
  * (`spark.sql.streaming.stateStore.providerClass` =
  * `...state.RocksDBStateStoreProvider`) — transformWithState's state
  * layout is not supported by the default HDFS-backed store.
  */
object RunningStats {

  /** Emitted after every batch that touches the key. */
  case class KeyStats(key: String, n: Long, total: Double, mean: Double)

  private class Processor(ttl: TTLConfig)
      extends StatefulProcessor[String, (String, Double), KeyStats] {
    @transient private var state: ValueState[(Long, Double, Double)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[(Long, Double, Double)](
        "moments",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble, Encoders.scalaDouble),
        ttl
      )

    override def handleInputRows(
        key: String,
        rows: Iterator[(String, Double)],
        timerValues: TimerValues
    ): Iterator[KeyStats] = {
      var (n, s1, s2) = Option(state.get()).getOrElse((0L, 0.0, 0.0))
      rows.foreach { case (_, x) => n += 1; s1 += x; s2 += x * x }
      state.update((n, s1, s2))
      Iterator.single(KeyStats(key, n, s1, if (n == 0) 0.0 else s1 / n))
    }
  }

  def perKey(
      ds: Dataset[(String, Double)],
      ttl: TTLConfig = TTLConfig.NONE
  ): Dataset[KeyStats] = {
    implicit val outEnc: Encoder[KeyStats] = Encoders.product[KeyStats]
    implicit val keyEnc: Encoder[String]   = Encoders.STRING
    ds.groupByKey(_._1)
      .transformWithState(new Processor(ttl), TwsSupport.timeModeFor(ttl), OutputMode.Update())
  }
}
