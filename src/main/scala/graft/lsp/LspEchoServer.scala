package graft.lsp

import java.net.{DatagramPacket, DatagramSocket, SocketAddress, SocketTimeoutException}

/** Echo peer for [[LspClient]] — the reference's `sample_server.c` (an
  * `lsp_server_create` + read/write-back loop): assigns connids to
  * CONN_REQs, acks in-order data, re-acks duplicates (retransmit
  * tolerance, `lsp_server.c`'s seqnum gate), and echoes every delivered
  * payload back as its own sequenced DATA_SEND.
  *
  * Echoes are STOP-AND-WAIT per connection, the reference's window of 1
  * (`lsp_server.c:71-89`): only the oldest unacked echo is on the wire;
  * the next one is sent when it is acked, and each epoch (a wall-clock
  * slice of `epochMs`, so client traffic cannot postpone it) resends only
  * that head.
  *
  * `dropEvery = n` deterministically drops every n-th OUTGOING packet
  * (0 = none) — the `lsp_set_drop_rate` chaos dial made replayable, so
  * the suite can force client retransmission without flaky randomness.
  * Runs on its own thread; `close()` stops it. */
final class LspEchoServer(epochMs: Int = 2000, dropEvery: Int = 0) {

  private val socket = new DatagramSocket()
  socket.setSoTimeout(epochMs)

  /** Bound UDP port. */
  def port: Int = socket.getLocalPort

  private final case class Conn(
      addr: SocketAddress,
      var clientSeq: Long, // highest in-order seqnum received
      var serverSeq: Long, // highest seqnum sent
      // echoes awaiting ack, in seqnum order — a FIFO, not a single slot:
      // two client write()s without an interleaved read() would otherwise
      // overwrite the first echo before it is acked, and the dropped echo
      // would never be retransmitted (the client's next read() would
      // eventually ConnectionLost on a live connection). Only its head is
      // ever on the wire.
      var unacked: Vector[(Long, Array[Byte])])

  private val conns = collection.mutable.Map.empty[Long, Conn]
  private var nextConnid = 1L
  private var sendCount = 0L
  @volatile private var running = true

  private def send(addr: SocketAddress, connid: Long, seqnum: Long,
      payload: Array[Byte]): Unit = {
    sendCount += 1
    if (dropEvery > 0 && sendCount % dropEvery == 0) return // chaos dial
    val bytes = LspWire.encode(connid, seqnum, payload)
    socket.send(new DatagramPacket(bytes, bytes.length, addr))
  }

  private def sendHead(id: Long, c: Conn): Unit =
    c.unacked.headOption.foreach { case (s, p) => send(c.addr, id, s, p) }

  private def loop(): Unit = {
    val buf = new Array[Byte](4096)
    val epochNs = epochMs * 1000000L
    var epochEnd = System.nanoTime() + epochNs
    while (running) {
      val left = epochEnd - System.nanoTime()
      if (left <= 0) { // epoch: retransmit each connection's unacked head
        conns.foreach { case (id, c) => sendHead(id, c) }
        epochEnd = System.nanoTime() + epochNs
      } else try {
        socket.setSoTimeout(math.max(1L, left / 1000000L).toInt)
        val pkt = new DatagramPacket(buf, buf.length)
        socket.receive(pkt)
        val row = LspWire.decode(
          java.util.Arrays.copyOf(pkt.getData, pkt.getLength))
        if (row != null) {
          val (connid, seq, payload) =
            (row.getLong(0), row.getLong(1), row.getBinary(2))
          if (connid == 0L && seq == 0L && payload.isEmpty) {
            // CONN_REQ → assign a connid (idempotent per source addr:
            // a retransmitted handshake must not leak a second conn)
            val existing = conns.collectFirst {
              case (id, c) if c.addr == pkt.getSocketAddress => id
            }
            val id = existing.getOrElse {
              val id = nextConnid
              nextConnid += 1
              conns(id) = Conn(pkt.getSocketAddress, 0L, 0L, Vector.empty)
              id
            }
            send(conns(id).addr, id, 0L, null)
          } else conns.get(connid).foreach { c =>
            if (payload.nonEmpty) {
              if (seq == c.clientSeq + 1) { // in-order data: ack + echo
                c.clientSeq = seq
                send(c.addr, connid, seq, null)
                c.serverSeq += 1
                c.unacked = c.unacked :+ (c.serverSeq, payload.clone())
                if (c.unacked.size == 1) sendHead(connid, c)
              } else if (seq > 0 && seq <= c.clientSeq) {
                send(c.addr, connid, seq, null) // duplicate: re-ack only
              }
            } else if (c.unacked.headOption.exists(_._1 <= seq)) {
              // DATA_ACK of the head: everything <= seq delivered
              c.unacked = c.unacked.filter(_._1 > seq)
              sendHead(connid, c)
            }
          }
        }
      } catch {
        case _: SocketTimeoutException => // epoch boundary: top of loop
        case _: java.net.SocketException if !running => ()
      }
    }
  }

  private val thread = new Thread(() => loop(), s"lsp-echo-server-$port")
  thread.setDaemon(true)
  thread.start()

  def close(): Unit = {
    running = false
    socket.close()
    thread.join(5000)
  }
}
