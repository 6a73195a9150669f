package perfbench

import java.net.InetSocketAddress
import java.nio.ByteBuffer
import java.nio.channels.{SelectionKey, Selector, ServerSocketChannel, SocketChannel}

/**
 * Loopback Graylog endpoint for `Transport.sendGraylogTcp`: one thread
 * multiplexes every connection, drains it, and counts bytes and
 * '\n'-framed records. It also records the most connections open at once,
 * which the stream check bounds by the machine's processor count.
 */
final class GraylogReceiver extends AutoCloseable {
  private val server = ServerSocketChannel.open()
  server.bind(new InetSocketAddress("127.0.0.1", 0), 64)
  server.configureBlocking(false)
  private val selector = Selector.open()
  server.register(selector, SelectionKey.OP_ACCEPT)

  val port: Int = server.socket.getLocalPort

  @volatile private var running = true
  @volatile private var bytes = 0L
  @volatile private var records = 0L
  @volatile private var open = 0
  @volatile private var maxOpen = 0

  private val thread = new Thread(() => loop(), "graylog-receiver")
  thread.setDaemon(true)
  thread.start()

  private def loop(): Unit = {
    val buf = ByteBuffer.allocate(1 << 16)
    while (running) {
      selector.select(50)
      val keys = selector.selectedKeys.iterator
      while (keys.hasNext) {
        val k = keys.next(); keys.remove()
        if (k.isValid && k.isAcceptable) {
          var ch = server.accept()
          while (ch != null) {
            ch.configureBlocking(false)
            ch.register(selector, SelectionKey.OP_READ)
            open += 1
            if (open > maxOpen) maxOpen = open
            ch = server.accept()
          }
        } else if (k.isValid && k.isReadable) {
          val ch = k.channel.asInstanceOf[SocketChannel]
          buf.clear()
          val n = ch.read(buf)
          if (n < 0) { k.cancel(); ch.close(); open -= 1 }
          else {
            var nl = 0L
            var i = 0
            val a = buf.array
            while (i < n) { if (a(i) == '\n') nl += 1; i += 1 }
            bytes += n
            records += nl
          }
        }
      }
    }
  }

  /** Zero the counters between ops (call while no sender is connected). */
  def reset(): Unit = { bytes = 0L; records = 0L; maxOpen = open }

  /** Wait until `expected` records arrived and every connection closed;
    * returns (records, bytes, max open connections). */
  def await(expected: Long, timeoutMs: Long = 30000L): (Long, Long, Int) = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while ((records < expected || open > 0) && System.currentTimeMillis() < deadline)
      Thread.sleep(5)
    (records, bytes, maxOpen)
  }

  def close(): Unit = {
    running = false
    selector.wakeup()
    thread.join(10000L)
    selector.keys.forEach(k => k.channel.close())
    selector.close()
    server.close()
  }
}
