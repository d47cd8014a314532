package graft.lsp

import java.net.{DatagramPacket, DatagramSocket, InetAddress, InetSocketAddress, SocketTimeoutException}

/** Wire-interactive LSP client — the stop-and-wait peer the reference's
  * `request` and `sample_client` binaries link (`lsp_client.c`): the one
  * surface of the reference that ingest-only bridging
  * ([[graft.sources.LspSocketBridge]]) does not cover. Speaks the same
  * protobuf frames ([[LspWire]]) over UDP with the reference's message
  * typing (`lsp_common.c:149-158`):
  *
  *   - CONN_REQ  (0, 0, empty)       — `lsp_client_create` handshake
  *   - CONN_ACK  (connid, 0, empty)  — server assigns the connid
  *   - DATA_SEND (connid, s>0, pld)  — sequenced payload
  *   - DATA_ACK  (connid, s>0, empty)
  *
  * [[LspClient.connect]], [[write]] and [[read]] are short calls into one
  * receive loop (`await`), which handles every packet the same way
  * whichever call is waiting: the awaited ACK (or CONN_ACK) completes a
  * wait; in-order data (`seqnum == serverSeq + 1`, `lsp_client.c:234-242`)
  * is acked and queued for [[read]]; duplicate data is re-acked; anything
  * else is dropped. At each epoch the waiting call's retransmit runs:
  *   - the handshake resends CONN_REQ;
  *   - [[write]] is STOP-AND-WAIT: it resends its one outstanding message
  *     (`client_sig_timer` → `lsp_client_resend_lastmsgbuf`), then
  *     re-ACKs the last received server seqnum (0 before any data), the
  *     keep-alive that feeds the server's liveness scan
  *     (`lsp_client.c:41-43`);
  *   - [[read]] sends that keep-alive.
  *
  * Liveness: after `epochCnt` consecutive epochs WITHOUT PROGRESS the
  * connection is lost and every call throws [[LspClient.ConnectionLost]].
  * Progress is the awaited ACK / CONN_ACK or in-order data. This departs
  * from `client_sig_timer` (`lsp_client.c:27-31`), which resets its count
  * on ANY packet: there, a peer that keeps sending duplicates or
  * out-of-order data holds a blocked call open forever, because the
  * traffic keeps the connection "alive" while nothing it carries can
  * ever complete the call.
  *
  * Epochs are consecutive wall-clock slices of `epochMs`, the first
  * starting with the call (receive timeouts bounded by the slice's end),
  * not SIGALRM and not "epochMs of silence" — same cadence, no global
  * mutable client, and traffic cannot postpone an epoch. The reference's
  * 2 s epoch × 5 is the default; tests dial it down. */
final class LspClient private (
    socket: DatagramSocket,
    server: InetSocketAddress,
    epochMs: Int,
    epochCnt: Int) {

  private var conn = 0L       // 0 until CONN_ACK assigns it
  private var clientSeq = 0L  // seqnum of our last DATA_SEND
  private var inFlight: Array[Byte] = null // its payload until acked
  private var serverSeq = 0L  // highest in-order server seqnum delivered
  private var pending = Vector.empty[Array[Byte]] // delivered, not yet read
  private var lost = false
  private val buf = new Array[Byte](4096)

  private def send(connid: Long, seqnum: Long, payload: Array[Byte]): Unit = {
    val bytes = LspWire.encode(connid, seqnum, payload)
    socket.send(new DatagramPacket(bytes, bytes.length, server))
  }

  /** Keep-alive: ack the most recent server data (seqnum 0 before any). */
  private def ackLastReceived(): Unit = send(conn, serverSeq, null)

  /** Apply one packet to the connection state; true if it made progress. */
  private def handle(c: Long, s: Long, p: Array[Byte]): Boolean =
    if (conn == 0L) { // handshake: CONN_ACK assigns the connid
      if (c != 0L && s == 0L && p.isEmpty) { conn = c; true } else false
    } else if (c != conn) false
    else if (p.isEmpty) { // DATA_ACK: completes the outstanding write
      if (inFlight != null && s == clientSeq) { inFlight = null; true }
      else false
    } else if (s == serverSeq + 1) { // in-order data: deliver + ack
      serverSeq = s
      pending = pending :+ p
      send(conn, s, null)
      true
    } else { // duplicate (server retransmit): re-ack so it stops
      if (s > 0 && s <= serverSeq) send(conn, s, null)
      false
    }

  /** THE receive loop: handle packets until `done`, running `retransmit`
    * at the end of every epoch; throws ConnectionLost after `epochCnt`
    * consecutive epochs without progress. */
  private def await(done: => Boolean)(retransmit: => Unit): Unit = {
    if (lost) throw new LspClient.ConnectionLost(conn)
    val epochNs = epochMs * 1000000L
    var epochEnd = System.nanoTime() + epochNs
    var progress = false
    var idle = 0
    while (!done) {
      val left = epochEnd - System.nanoTime()
      if (left <= 0) {
        idle = if (progress) 0 else idle + 1
        if (idle > epochCnt) {
          lost = true
          throw new LspClient.ConnectionLost(conn)
        }
        progress = false
        // from now, not from the old end: after a pause (GC, a slow
        // retransmit) each epoch still gets its full receive window
        epochEnd = System.nanoTime() + epochNs
        retransmit
      } else {
        socket.setSoTimeout(math.max(1L, left / 1000000L).toInt)
        val pkt = new DatagramPacket(buf, buf.length)
        try {
          socket.receive(pkt)
          val row = LspWire.decode(java.util.Arrays.copyOf(buf, pkt.getLength))
          // a malformed frame is ignored, like an unpack failure
          if (row != null && handle(row.getLong(0), row.getLong(1), row.getBinary(2)))
            progress = true
        } catch { case _: SocketTimeoutException => }
      }
    }
  }

  send(0L, 0L, null)
  await(conn != 0L)(send(0L, 0L, null))

  /** Server-assigned connection id (from CONN_ACK). */
  val connid: Long = conn

  /** Send `payload` with the next seqnum; block until the server acks it
    * (retransmitting every epoch). Mirrors `lsp_client_write`. */
  def write(payload: Array[Byte]): Unit = {
    if (lost) throw new LspClient.ConnectionLost(conn)
    require(payload != null && payload.nonEmpty,
      "LSP data messages carry a non-empty payload (empty = ACK)")
    clientSeq += 1
    inFlight = payload
    send(conn, clientSeq, payload)
    await(inFlight == null) {
      send(conn, clientSeq, payload) // stop-and-wait retransmit
      ackLastReceived()
    }
  }

  /** Block until the next IN-ORDER server data message; return its
    * payload (already acked). Mirrors `lsp_client_read`. */
  def read(): Array[Byte] = {
    await(pending.nonEmpty)(ackLastReceived())
    val h = pending.head
    pending = pending.tail
    h
  }

  def close(): Unit = socket.close()
}

object LspClient {

  final class ConnectionLost(connid: Long)
    extends RuntimeException(s"lsp connection $connid lost (epoch timeout)")

  /** `lsp_client_create`: bind, send CONN_REQ, await CONN_ACK (with the
    * same epoch retransmit + give-up discipline as writes). */
  def connect(
      host: String, port: Int,
      epochMs: Int = 2000, epochCnt: Int = 5): LspClient = {
    val socket = new DatagramSocket()
    val server = new InetSocketAddress(InetAddress.getByName(host), port)
    try new LspClient(socket, server, epochMs, epochCnt)
    catch { case e: Throwable => socket.close(); throw e }
  }
}
