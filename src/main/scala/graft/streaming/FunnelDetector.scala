package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming funnel detection — the stateful-pattern-match (CEP) shape
  * over a keyed event stream: per key, advance through an ordered stage
  * list as matching events arrive (non-contiguous — other events in
  * between are fine) and emit exactly one completion record when the last
  * stage is reached. The batch twin is the `events_funnel` query (ordered
  * sequence aggregation + regexp); this form answers while the stream
  * runs instead of per corpus pass.
  *
  * State per key is one Int (the next-stage index, with a completed
  * sentinel) — constant-size state at any keyspace, same budget argument
  * as [[StatefulDedup.latestWins]]; `ttl` drops idle keys for unbounded
  * keyspaces.
  *
  * Within a micro-batch, records are ordered by (eventMs, stage) before
  * matching, so batch boundaries don't change the outcome for distinctly
  * timestamped events (the at-least-once CDC case: a replayed batch
  * re-matches identically because completed keys never re-emit).
  */
object FunnelDetector {

  /** One completion per key: the key and the timestamp of the event that
    * completed the funnel.
    */
  def detect[K, V](
      ds: Dataset[V],
      key: V => K,
      stage: V => String,
      eventMs: V => Long,
      stages: Seq[String],
      ttl: Option[java.time.Duration] = None
  )(implicit
      ke: Encoder[K],
      ve: Encoder[V],
      outEnc: Encoder[(K, Long)]
  ): Dataset[(K, Long)] = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    implicit val stateEnc: Encoder[Int] = Encoders.scalaInt
    val completed = stages.length
    val timeout =
      if (ttl.isDefined) GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout

    ds.groupByKey(key)
      .flatMapGroupsWithState[Int, (K, Long)](OutputMode.Append, timeout) {
        (k: K, records: Iterator[V], state: GroupState[Int]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var idx = state.getOption.getOrElse(0)
            var hit: Option[Long] = None
            if (idx < completed) {
              // deterministic in-batch order for distinct timestamps
              val ordered = records.toSeq.sortBy(r => (eventMs(r), stage(r)))
              ordered.foreach { r =>
                if (idx < completed && stage(r) == stages(idx)) {
                  idx += 1
                  if (idx == completed) hit = Some(eventMs(r))
                }
              }
              state.update(idx)
            }
            if (state.exists || idx > 0) ttl.foreach(d => state.setTimeoutDuration(d.toMillis))
            hit.map(ms => (k, ms)).iterator
          }
      }
  }
}
