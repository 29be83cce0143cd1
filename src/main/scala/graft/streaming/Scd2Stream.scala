package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.streaming._

/** Streaming twin of the SCD type-2 history build
  * ([[graft.operators.SliQueries.scd2Versions]]): the SAME
  * change-detection — collapse consecutive same-band runs per user
  * into versions with [eff_from, eff_to) ranges — run ONLINE as
  * per-key streaming state. This is how a warehouse dimension is
  * actually maintained in production: the batch window build is the
  * backfill, the stream is the nightly/continuous upsert, and
  * Scd2StreamSpec pins that the stream's CLOSED versions equal the
  * batch frame's closed versions exactly (the open version per user
  * is the live state the next event will extend or close).
  *
  * State per user: (band, eff_from, n_events, last-applied (ts,
  * event_id)) — a constant handful of longs, O(users) state,
  * corpus-independent; exactly the "current row" a warehouse MERGE
  * touches. Ordering contract: within a micro-batch each key's rows
  * fold in ascending (ts, event_id) order (sorted here); a row at or
  * before the key's last applied position is LATE and dropped — an
  * SCD2 current-row cannot be rewound without replay (that replay IS
  * the batch twin).
  */
class Scd2Processor
  extends StatefulProcessor[Long, Scd2Stream.Evt, Scd2Stream.ClosedVersion] {

  import Scd2Stream.{ClosedVersion, Evt, OpenVersion}

  @transient private var st: ValueState[OpenVersion] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState("scd2", Encoders.product[OpenVersion],
      TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[Evt],
      timers: TimerValues): Iterator[ClosedVersion] = {
    val out = Seq.newBuilder[ClosedVersion]
    var cur = if (st.exists()) Option(st.get()) else None
    rows.toSeq.sortBy(r => (r.ts_ms, r.event_id)).foreach { r =>
      cur match {
        case Some(c) if r.ts_ms < c.lastTsMs ||
            (r.ts_ms == c.lastTsMs && r.event_id <= c.lastEventId) =>
          // late/duplicate row: dropped (cannot rewind the current row)
        case Some(c) if r.band == c.band =>
          cur = Some(c.copy(nEvents = c.nEvents + 1,
            lastTsMs = r.ts_ms, lastEventId = r.event_id))
        case Some(c) => // band change: close out, open the new version
          out += ClosedVersion(key, c.band, c.effFromMs, r.ts_ms, c.nEvents)
          cur = Some(OpenVersion(r.band, r.ts_ms, 1L, r.ts_ms, r.event_id))
        case None => // first event ever seen for this user
          cur = Some(OpenVersion(r.band, r.ts_ms, 1L, r.ts_ms, r.event_id))
      }
    }
    cur.foreach(st.update)
    out.result().iterator
  }

  override def handleExpiredTimer(key: Long, timers: TimerValues,
      info: ExpiredTimerInfo): Iterator[Scd2Stream.ClosedVersion] =
    Iterator.empty // pure state carry, no event-time timers
}

object Scd2Stream {

  case class Evt(user_id: Long, ts_ms: Long, event_id: Long, band: Long)
  case class OpenVersion(band: Long, effFromMs: Long, nEvents: Long,
    lastTsMs: Long, lastEventId: Long)
  case class ClosedVersion(user_id: Long, band: Long, eff_from_ms: Long,
    eff_to_ms: Long, n_events: Long)

  /** Closed SCD2 versions over a streaming (user_id, ts_ms, event_id,
    * band) feed. Requires the RocksDB state store (the repo's test/
    * production default), like every transformWithState plane here.
    */
  def closedVersions(events: DataFrame): Dataset[ClosedVersion] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.as[Evt]
      .groupByKey(_.user_id)
      .transformWithState(new Scd2Processor,
        TimeMode.None(), OutputMode.Append())
  }
}
