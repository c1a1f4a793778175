package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, EOFException, InputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets
import java.util.concurrent.{CountDownLatch, LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.locks.LockSupport

/** One request of an open-loop run. Times are System.nanoTime. */
final class Outcome(val userId: String, val dueNs: Long) {
  @volatile var lateNs = 0L
  @volatile var sentNs = 0L
  @volatile var doneNs = 0L
  @volatile var status = -1
  @volatile var body: String = ""
  def latencyNs: Long = doneNs - dueNs
}

/** Open-loop HTTP load: requests fall due on a fixed schedule whether or
  * not earlier ones have returned, and queue for one of `conns` keep-alive
  * connections. Latency runs from when a request was due, so a stall also
  * charges the requests that queued behind it.
  */
object Load {

  final case class Result(rate: Int, outcomes: Array[Outcome], backlogAtEnd: Int)

  private val Poison = new Outcome("", 0L)

  def run(port: Int, ids: IndexedSeq[String], rate: Int, seconds: Double,
      conns: Int, graceSeconds: Double = 2.0): Result = {
    val n = math.max(1, (rate * seconds).toInt)
    val queue = new LinkedBlockingQueue[Outcome]()
    val done = new CountDownLatch(n)
    val sockets = new java.util.concurrent.ConcurrentLinkedQueue[Socket]()
    val workers = (0 until conns).map { w =>
      val t = new Thread(() => worker(port, queue, done, sockets), s"perfbench-client-$w")
      t.setDaemon(true)
      t.start()
      t
    }
    val start = System.nanoTime() + 5000000L
    val step = 1e9 / rate
    val outcomes = Array.tabulate(n)(i => new Outcome(ids(i % ids.size), start + (i * step).toLong))
    outcomes.foreach { o =>
      var now = System.nanoTime()
      while (now < o.dueNs) { LockSupport.parkNanos(o.dueNs - now); now = System.nanoTime() }
      o.lateNs = now - o.dueNs
      queue.put(o)
    }
    val backlog = done.getCount.toInt
    done.await((graceSeconds * 1e9).toLong, TimeUnit.NANOSECONDS)
    // stragglers past the grace period are failures: close their sockets
    sockets.forEach(s => try s.close() catch { case _: Exception => () })
    queue.clear()
    (0 until conns).foreach(_ => queue.put(Poison))
    workers.foreach(_.join(5000))
    Result(rate, outcomes, backlog)
  }

  private def worker(port: Int, queue: LinkedBlockingQueue[Outcome], done: CountDownLatch,
      sockets: java.util.concurrent.ConcurrentLinkedQueue[Socket]): Unit = {
    var sock: Socket = null
    var in: InputStream = null
    var out: BufferedOutputStream = null
    def connect(): Unit = {
      sock = new Socket("127.0.0.1", port)
      sock.setTcpNoDelay(true)
      sockets.add(sock)
      in = new BufferedInputStream(sock.getInputStream)
      out = new BufferedOutputStream(sock.getOutputStream)
    }
    var o = queue.take()
    while (o ne Poison) {
      try {
        if (sock == null || sock.isClosed) connect()
        o.sentNs = System.nanoTime()
        out.write(s"GET /features/online/${o.userId} HTTP/1.1\r\nHost: localhost\r\n\r\n"
          .getBytes(StandardCharsets.US_ASCII))
        out.flush()
        val (status, body) = readResponse(in)
        o.doneNs = System.nanoTime()
        o.status = status
        o.body = body
      } catch {
        case _: Exception =>
          o.status = -1
          try if (sock != null) sock.close() catch { case _: Exception => () }
          sock = null
      }
      done.countDown()
      o = queue.take()
    }
    if (sock != null) try sock.close() catch { case _: Exception => () }
  }

  private def readLine(in: InputStream): String = {
    val sb = new java.lang.StringBuilder
    var b = in.read()
    while (b != '\n') {
      if (b == -1) throw new EOFException("connection closed")
      if (b != '\r') sb.append(b.toChar)
      b = in.read()
    }
    sb.toString
  }

  private def readResponse(in: InputStream): (Int, String) = {
    val status = readLine(in).split(' ')(1).toInt
    var len = 0
    var h = readLine(in)
    while (h.nonEmpty) {
      val i = h.indexOf(':')
      if (i > 0 && h.substring(0, i).trim.equalsIgnoreCase("content-length"))
        len = h.substring(i + 1).trim.toInt
      h = readLine(in)
    }
    val body = new Array[Byte](len)
    var off = 0
    while (off < len) {
      val r = in.read(body, off, len - off)
      if (r < 0) throw new EOFException("truncated body")
      off += r
    }
    (status, new String(body, StandardCharsets.UTF_8))
  }
}
