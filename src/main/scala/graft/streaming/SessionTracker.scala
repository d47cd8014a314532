package graft.streaming

import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.{Dataset, Encoders}

/** Streaming re-expression of the LSP connection layer's stateful semantics
  * (SURVEY.md §2.10):
  *   - F5/T5 in-order delivery + retransmit dedup: accept a DATA_SEND iff
  *     `seqnum == expected` (`lsp_server.c:241-249`); duplicates and
  *     out-of-window packets are dropped silently — here they surface as
  *     observable DROP events instead of silence.
  *   - T1/T4 epoch tick + keep-alive: every quiet epoch re-ACKs the last
  *     delivered seqnum (the reference's epoch handler resends the ACK so
  *     a peer whose ACK was lost retransmits, `lsp_server.c:31-35` epoch
  *     path), surfaced as a KEEPALIVE_ACK event.
  *   - T2 liveness: a connection silent for `epochCnt` CONSECUTIVE epochs
  *     (reference defaults 2 s × 5, `lsp_server.c:9-10`) is evicted; any
  *     traffic resets the silent-epoch count.
  */
object SessionTracker {

  final case class LspPacket(connid: Long, seqnum: Long, payloadLen: Int)

  /** `struct lsp_conn_desc` reduced to what delivery + liveness need
    * (`api.h:73-84`): next expected seqnum and how many epochs this
    * connection has been silent. */
  final case class ConnState(expectedNext: Long, silentEpochs: Int = 0)

  /** Observable connection event (the reference logs-and-drops; we emit). */
  final case class ConnEvent(connid: Long, event: String, seqnum: Long)

  val Delivered = "DELIVERED"
  val DupDropped = "DUP_DROPPED"          // T5: retransmit of an acked seqnum
  val OutOfOrderDropped = "OOO_DROPPED"   // F5: future seqnum (stop-and-wait ⇒ protocol violation)
  val KeepAliveAck = "KEEPALIVE_ACK"      // T4: quiet-epoch re-ACK of last delivered
  val TimedOut = "TIMEOUT_CLOSED"         // T2: eviction after epochCnt silent epochs

  def trackConn(epochLenMs: Long, epochCnt: Int)(
      connid: Long,
      packets: Iterator[LspPacket],
      state: GroupState[ConnState]): Iterator[ConnEvent] = {
    if (state.hasTimedOut) {
      // one quiet EPOCH elapsed (the timer is armed per epoch, not per
      // liveness horizon): re-ACK like the reference's epoch handler
      // until epochCnt consecutive quiet epochs evict the connection
      val st = state.get
      if (st.silentEpochs + 1 >= epochCnt) {
        state.remove()
        return Iterator.single(ConnEvent(connid, TimedOut, -1L))
      }
      state.update(st.copy(silentEpochs = st.silentEpochs + 1))
      state.setTimeoutDuration(epochLenMs)
      // seqnum 0 = nothing delivered yet (connection-request-only peer)
      return Iterator.single(
        ConnEvent(connid, KeepAliveAck, st.expectedNext - 1))
    }
    val (st, out) = gate(state.getOption.getOrElse(ConnState(1L)), packets)
    state.update(st.copy(silentEpochs = 0)) // traffic resets liveness
    if (epochLenMs > 0 && epochCnt > 0) state.setTimeoutDuration(epochLenMs)
    out.iterator
  }

  /** The F5/T5 in-order gate over one batch of a connection's packets:
    * deliver `expectedNext`, drop a retransmit of a delivered seqnum, drop
    * a future seqnum. Within a batch packets go in seqnum order (the
    * network may reorder; the reference's single-threaded read loop
    * serializes arrival). Pure, and the one definition of the gate;
    * [[trackConn]] adds liveness and the state store around it. */
  def gate(state: ConnState, packets: Iterator[LspPacket]): (ConnState, Seq[ConnEvent]) = {
    var st = state
    val out = Seq.newBuilder[ConnEvent]
    packets.toSeq.sortBy(_.seqnum).foreach { p =>
      if (p.seqnum == st.expectedNext) {
        out += ConnEvent(p.connid, Delivered, p.seqnum)
        st = st.copy(expectedNext = st.expectedNext + 1)
      } else if (p.seqnum < st.expectedNext) {
        out += ConnEvent(p.connid, DupDropped, p.seqnum)
      } else {
        out += ConnEvent(p.connid, OutOfOrderDropped, p.seqnum)
      }
    }
    (st, out.result())
  }

  /** Packet stream → delivery/drop/keep-alive/timeout event stream.
    * `epochLenMs × epochCnt` mirrors the reference's ~10 s liveness
    * horizon, with a KEEPALIVE_ACK surfaced each quiet epoch.
    * `epochCnt = 0` disables timers (NoTimeout) — ProcessingTimeTimeout
    * makes the micro-batch loop spin on timer-only batches, which tests
    * must avoid; the timer branches are unit-tested via `TestGroupState`. */
  def eventStream(
      packets: Dataset[LspPacket],
      epochLenMs: Long = 2000L,
      epochCnt: Int = 5): Dataset[ConnEvent] = {
    implicit val stateEnc = Encoders.product[ConnState]
    implicit val outEnc = Encoders.product[ConnEvent]
    implicit val keyEnc = Encoders.scalaLong
    val timeout =
      if (epochCnt > 0) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    packets
      .groupByKey(_.connid)
      .flatMapGroupsWithState(OutputMode.Append(), timeout)(
        trackConn(if (epochCnt > 0) epochLenMs else 0L, epochCnt))
  }

  /** T5 as a declarative op: event-time watermarked dedup of retransmits
    * on (connid, seqnum) — the `dropDuplicatesWithinWatermark` form for
    * pipelines that only need dedup, not full session state. */
  def dedupRetransmits[T](
      packets: Dataset[T], tsCol: String, watermark: String): Dataset[T] =
    packets
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("connid", "seqnum")
}
