package graft.streaming

import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
import org.apache.spark.sql.{Dataset, Encoders}

import graft.streaming.SessionTracker._

/** [[SessionTracker]]'s F5/T5 semantics on Spark 4's `transformWithState`
  * API (the successor to `flatMapGroupsWithState`): typed per-key
  * `ValueState` handles, explicit `TimeMode`, optional state TTL. Requires
  * the RocksDB state store provider (multiple column families) —
  * `spark.sql.streaming.stateStore.providerClass =
  * ...state.RocksDBStateStoreProvider`.
  *
  * Kept alongside the fMGWS implementation deliberately: both run the one
  * in-order-delivery gate [[SessionTracker.gate]] (`lsp_server.c:241-249`),
  * and the pair pins that the engine's semantics don't depend on which
  * state API carries them. */
object SessionTrackerTws {

  class ConnProcessor extends StatefulProcessor[Long, LspPacket, ConnEvent] {

    @transient private var conn: ValueState[ConnState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      conn = getHandle.getValueState[ConnState](
        "conn", Encoders.product[ConnState], TTLConfig.NONE)

    override def handleInputRows(
        connid: Long,
        rows: Iterator[LspPacket],
        timers: TimerValues): Iterator[ConnEvent] = {
      val (st, out) = gate(if (conn.exists()) conn.get() else ConnState(1L), rows)
      conn.update(st)
      out.iterator
    }
  }

  /** Packet stream → delivery/drop event stream via transformWithState. */
  def eventStream(packets: Dataset[LspPacket]): Dataset[ConnEvent] = {
    implicit val keyEnc = Encoders.scalaLong
    implicit val outEnc = Encoders.product[ConnEvent]
    packets
      .groupByKey(_.connid)
      .transformWithState(new ConnProcessor,
        TimeMode.None(), OutputMode.Append())
  }
}
