package graft.lsp

import java.net.{DatagramPacket, DatagramSocket}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentLinkedDeque

import org.scalatest.Outcome
import org.scalatest.concurrent.{Signaler, TimeLimitedTests}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

/** The wire-interactive client ([[LspClient]]) against the echo peer
  * ([[LspEchoServer]]) over real localhost UDP — `sample_client.c`'s
  * session shape, plus the reliability cases the reference exercises
  * with its drop-rate dial: retransmission, duplicate tolerance, and
  * the epoch-count connection-loss verdict. */
class LspClientSpec extends AnyFunSuite with TimeLimitedTests {

  private def bytes(s: String): Array[Byte] = s.getBytes(UTF_8)

  /** Closers for what the running test opened, newest first. */
  private val opened = new ConcurrentLinkedDeque[() => Unit]
  private def closeAll(): Unit = {
    var close = opened.pollFirst()
    while (close != null) { close(); close = opened.pollFirst() }
  }
  private def server(epochMs: Int, dropEvery: Int = 0): LspEchoServer = {
    val s = new LspEchoServer(epochMs, dropEvery)
    opened.push(() => s.close())
    s
  }
  private def client(port: Int, epochMs: Int, epochCnt: Int): LspClient = {
    val c = LspClient.connect("127.0.0.1", port, epochMs, epochCnt)
    opened.push(() => c.close())
    c
  }
  private def socket(): DatagramSocket = {
    val s = new DatagramSocket()
    opened.push(() => s.close())
    s
  }

  // Every test runs under failAfter with a limit far above the slowest
  // test (about 1 s), so a livelock fails that test by name instead of
  // stalling the suite. A blocked DatagramSocket.receive ignores thread
  // interrupts; the signaler closes the test's sockets and peers instead,
  // which ends the blocked call.
  override val timeLimit: Span = Span(60, Seconds)
  override val defaultTestSignaler: Signaler = (_: Thread) => closeAll()
  override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test) finally closeAll()

  test("handshake + sample_client echo loop (one msg, then seq 2..9)") {
    val c = client(server(epochMs = 100).port, epochMs = 100, epochCnt = 5)
    assert(c.connid === 1L)
    c.write(bytes("ilovethiscoursealready"))
    assert(new String(c.read(), UTF_8) === "ilovethiscoursealready")
    (2 until 10).foreach { i =>
      c.write(bytes(s"seq count $i"))
      assert(new String(c.read(), UTF_8) === s"seq count $i")
    }
  }

  test("stop-and-wait survives deterministic packet loss (every 3rd send dropped)") {
    val c = client(server(epochMs = 60, dropEvery = 3).port,
      epochMs = 60, epochCnt = 50)
    // a third of ALL server sends (conn acks, data acks, echoes,
    // echo retransmits) vanish; epoch retransmission must still
    // deliver every message exactly once, in order
    (1 to 12).foreach { i =>
      c.write(bytes(s"chaos $i"))
      assert(new String(c.read(), UTF_8) === s"chaos $i", s"msg $i")
    }
  }

  test("consecutive writes without an interleaved read lose no echo") {
    // the server must QUEUE unacked echoes: with a single unacked slot,
    // write(w1); write(w2) overwrites echo(w1) before it is acked and
    // the first read() ConnectionLosts on a live connection (ADVICE r10)
    val c = client(server(epochMs = 60, dropEvery = 3).port,
      epochMs = 60, epochCnt = 50)
    (1 to 3).foreach(i => c.write(bytes(s"burst $i")))
    (1 to 3).foreach { i =>
      assert(new String(c.read(), UTF_8) === s"burst $i", s"echo $i")
    }
  }

  test("two clients get distinct connids; a retransmitted handshake does not") {
    val port = server(epochMs = 100).port
    val a = client(port, 100, 5)
    val b = client(port, 100, 5)
    assert(a.connid !== b.connid)
    a.write(bytes("from a")); b.write(bytes("from b"))
    assert(new String(a.read(), UTF_8) === "from a")
    assert(new String(b.read(), UTF_8) === "from b")
  }

  test("epoch-count exhaustion raises ConnectionLost") {
    // a socket nobody answers: the handshake must give up after
    // epochCnt epochs, not hang
    val dead = socket()
    val t0 = System.nanoTime()
    intercept[LspClient.ConnectionLost] {
      LspClient.connect("127.0.0.1", dead.getLocalPort,
        epochMs = 40, epochCnt = 3)
    }
    val ms = (System.nanoTime() - t0) / 1000000
    assert(ms >= 3 * 40, s"gave up too early: ${ms}ms")
  }

  test("a peer sending only out-of-order data cannot hold read() open (no livelock)") {
    // the peer completes the handshake, then sends only seqnum-2 data
    // (in-order would be 1) twice per epoch: steady traffic, no progress.
    // Epochs without progress must still count toward epochCnt.
    val (epochMs, epochCnt) = (200, 3)
    val peer = socket()
    val feeder = new Thread(() =>
      try {
        val pkt = new DatagramPacket(new Array[Byte](4096), 4096)
        peer.receive(pkt) // CONN_REQ
        def send(frame: Array[Byte]): Unit =
          peer.send(new DatagramPacket(frame, frame.length, pkt.getSocketAddress))
        send(LspWire.encode(1L, 0L, null)) // CONN_ACK
        while (true) {
          send(LspWire.encode(1L, 2L, bytes("stray")))
          Thread.sleep(epochMs / 2)
        }
      } catch { case _: Exception => () }) // ends when the peer is closed
    feeder.setDaemon(true)
    feeder.start()
    val c = client(peer.getLocalPort, epochMs, epochCnt)
    val t0 = System.nanoTime()
    intercept[LspClient.ConnectionLost](c.read())
    val ms = (System.nanoTime() - t0) / 1000000
    assert(ms >= (epochCnt + 1) * epochMs, s"gave up too early: ${ms}ms")
    assert(ms < (epochCnt + 2) * epochMs, s"gave up too late: ${ms}ms")
  }

  test("write rejects empty payloads (empty = ACK on this wire)") {
    val c = client(server(epochMs = 100).port, 100, 5)
    intercept[IllegalArgumentException](c.write(Array.emptyByteArray))
  }
}
