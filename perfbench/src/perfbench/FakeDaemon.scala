package perfbench

import java.net.{StandardProtocolFamily, UnixDomainSocketAddress}
import java.nio.ByteBuffer
import java.nio.channels.ServerSocketChannel
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer

/** The load generator of `ingest_live`, separate from the system under
  * test: a fake Docker daemon that answers one `GET /events` on a unix
  * socket with an HTTP/1.1 chunked response, one chunk per event, the way
  * the daemon frames them.
  *
  * Open loop: one thread sends each event at its due time whatever the
  * reader does, and stamps that due time (epoch ns) into `timeNano`, so
  * latency downstream is counted from when the event was due. Content is
  * drawn from `seed`: container ids, the action mix, compose labels and
  * the share of containers without the `LOG` label.
  *
  * The caller moves the generator through phases with `phase(n, rate)`;
  * `stop()` ends the response with the terminal chunk. With `dropOne` one
  * event is recorded as sent but never written (fault injection).
  */
final class FakeDaemon(socket: String, seed: Long, dropOne: Boolean) {
  import FakeDaemon._

  private val content = new DockerContent(seed, 48)
  private val rnd = new java.util.SplittableRandom(seed + 1)

  @volatile private var plan = (0, 1.0)
  @volatile private var stopping = false
  private val server = ServerSocketChannel.open(StandardProtocolFamily.UNIX)
  server.bind(UnixDomainSocketAddress.of(socket))

  /** One record per event; complete once `stop()` returns. */
  val sent = new ArrayBuffer[Sent](1 << 14)
  @volatile var sentCount = 0L
  /** Events recorded as sent but not written (0 or 1). */
  @volatile var dropped = 0L

  private val thread = new Thread(() => serve(), "perfbench-fake-daemon")
  thread.setDaemon(true)

  def start(phase: Int, rate: Double): Unit = {
    plan = (phase, rate)
    thread.start()
  }
  def phase(n: Int, rate: Double): Unit = plan = (n, rate)
  def stop(): Unit = {
    stopping = true
    thread.join(30000)
    server.close()
  }

  private def serve(): Unit = {
    val ch = server.accept()
    try {
      // consume the request head up to the blank line
      val in = ByteBuffer.allocate(1)
      var tail = 0
      while (tail != 0x0d0a0d0a && ch.read(in) > 0) {
        tail = (tail << 8) | (in.get(0) & 0xff)
        in.clear()
      }
      write(ch, "HTTP/1.1 200 OK\r\nContent-Type: application/json\r\n" +
        "Transfer-Encoding: chunked\r\n\r\n")
      var due = System.nanoTime()
      var seq = 0L
      val dropAt = if (dropOne) 7L else -1L
      while (!stopping) {
        val (ph, rate) = plan
        due += (1e9 / rate).toLong
        val wait = due - System.nanoTime()
        if (wait > 0) LockSupport.parkNanos(wait)
        if (!stopping) {
          val c = content.container(rnd)
          val action = content.action(rnd)
          val dueEpoch = Clock.toEpochNs(due)
          if (seq != dropAt)
            write(ch, chunk(DockerContent.event(c, action, dueEpoch) + "\n"))
          else dropped += 1
          sent += Sent(seq, ph, dueEpoch, Clock.nowNs, c.id, action)
          seq += 1
          sentCount = seq
        }
      }
      write(ch, "0\r\n\r\n")
    } finally ch.close()
  }

  private def write(ch: java.nio.channels.SocketChannel, s: String): Unit = {
    val b = ByteBuffer.wrap(s.getBytes(UTF_8))
    while (b.hasRemaining) ch.write(b)
  }
}

object FakeDaemon {
  /** An event as the generator meant it: phase, due and actual send time
    * (epoch ns). */
  final case class Sent(seq: Long, phase: Int, dueNs: Long, sentNs: Long,
      containerId: String, action: String)

  def chunk(payload: String): String = {
    val n = payload.getBytes(UTF_8).length
    s"${Integer.toHexString(n)}\r\n$payload\r\n"
  }
}
