package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming latest-wins compaction (SURVEY.md §2 B2, streaming form) —
  * the reference's `@Version` optimistic-lock counter as unbounded keyed
  * state: per key, emit a record only when its version advances past the
  * stored high-water mark. Out-of-order and duplicate CDC records are
  * suppressed.
  *
  * State is one Long per key. At 100 TB keyspace that still fits the
  * state store budget (8 bytes × keys, RocksDB-backed on a real cluster),
  * but unbounded keys need a TTL policy: pass `ttl` to drop idle keys via
  * processing-time timeout — the watermark-bounded alternative to keeping
  * every key forever (documented trade-off: a key silent longer than the
  * TTL re-emits its next record even if the version regressed). The
  * timeout fires in a micro-batch that starts after the deadline and
  * carries no record for the key; a batch that does carry one resets the
  * deadline instead. Under a ProcessingTime trigger such batches run every
  * interval.
  *
  * This operator, Debounce, RateLimit, FunnelDetector and Anomaly are
  * built on `flatMapGroupsWithState`, which runs on both the default
  * HDFS-backed state store and RocksDB; `transformWithState` runs on
  * RocksDB only (StateBackend).
  */
object StatefulDedup {

  /** B1 streaming form — exact dedup with bounded state:
    * `dropDuplicatesWithinWatermark` keeps a key's fingerprint only until
    * the watermark passes it, so state is O(keys per watermark window),
    * not O(all keys ever) — the difference between a bounded and an
    * unbounded state store at 100 TB/day. Exactly-one-survivor semantics
    * hold for duplicates arriving within the watermark delay of each
    * other (the at-least-once CDC redelivery case); a duplicate arriving
    * later than the delay is by contract a new record.
    */
  def exactWithinWatermark(
      df: org.apache.spark.sql.DataFrame,
      keyCols: Seq[String],
      eventTimeCol: String,
      delay: String
  ): org.apache.spark.sql.DataFrame =
    df.withWatermark(eventTimeCol, delay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Records that advance (key, version) survive; others are dropped. */
  def latestWins[K, V](
      ds: Dataset[V],
      key: V => K,
      version: V => Long,
      ttl: Option[java.time.Duration] = None
  )(implicit ke: Encoder[K], ve: Encoder[V], tupleEnc: Encoder[(K, V)]): Dataset[V] = {
    implicit val stateEnc: Encoder[Long] = Encoders.scalaLong
    val timeout =
      if (ttl.isDefined) GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout

    ds.groupByKey(key)
      .flatMapGroupsWithState[Long, V](OutputMode.Append, timeout) {
        (_: K, records: Iterator[V], state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val hwm = state.getOption.getOrElse(Long.MinValue)
            // Reduce the whole micro-batch to the single max-version record
            // first, so output is independent of same-key arrival order
            // within the batch (versions [1,2] and [2,1] both emit exactly
            // the version-2 record) — matching the batch twin
            // Dedup.latestWins, which emits only the max per key.
            var best: Option[V] = None
            records.foreach { r =>
              if (best.forall(b => version(r) > version(b))) best = Some(r)
            }
            val emitted = best.filter(r => version(r) > hwm)
            emitted.foreach(r => state.update(version(r)))
            if (emitted.nonEmpty || state.exists)
              ttl.foreach(d => state.setTimeoutDuration(d.toMillis))
            emitted.iterator
          }
      }
  }
}
