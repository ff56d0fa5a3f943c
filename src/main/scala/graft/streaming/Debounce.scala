package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming leading-edge debounce — the streaming twin of the batch
  * `events_debounce` query (SURVEY.md §2 B72): per key, a record is
  * emitted only if it arrives more than `gapMs` after the PREVIOUS record
  * of that key (burst head); every record advances the stored timestamp
  * whether or not it was emitted, matching the batch query's
  * previous-EVENT (not previous-kept) gap rule.
  *
  * Within a micro-batch, records are processed in (timestamp, order) order
  * so emission is independent of arrival order inside the batch — the same
  * batch-boundary-independence contract StatefulDedup.latestWins keeps.
  * Records arriving ACROSS batches out of order are evaluated against the
  * newest seen timestamp (at-least-once transport trade-off: a stale
  * record can only be suppressed, never wrongly emitted).
  *
  * State is one Long per key (last seen ms) — the same O(keys) budget as
  * B2's high-water mark; pass `ttl` to expire idle keys on a real
  * 100 TB/day keyspace.
  */
object Debounce {

  def leadingEdge[K, V](
      ds: Dataset[V],
      key: V => K,
      ts: V => Long,
      order: V => Long,
      gapMs: Long,
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
            var last    = state.getOption.getOrElse(Long.MinValue)
            val emitted = Vector.newBuilder[V]
            // deterministic in-batch order: one key's batch slice is
            // bounded by that key's arrival rate, so the sort is local
            // and small
            records.toVector.sortBy(r => (ts(r), order(r))).foreach { r =>
              if (last == Long.MinValue || ts(r) - last > gapMs) emitted += r
              if (ts(r) > last) last = ts(r)
            }
            if (last != Long.MinValue) state.update(last)
            ttl.foreach(d => state.setTimeoutDuration(d.toMillis))
            emitted.result().iterator
          }
      }
  }
}
