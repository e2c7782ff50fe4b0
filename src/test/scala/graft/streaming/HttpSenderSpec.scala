package graft.streaming

import java.net.InetSocketAddress
import java.util.concurrent.ConcurrentLinkedQueue
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.scalatest.funsuite.AnyFunSuite

/** The default push sender really POSTs (reference extensions.sql:44-48
  * `net.http_post`), verified against a loopback JDK HttpServer — no
  * external network. Failure semantics: a non-2xx response throws, so
  * a push micro-batch fails and the un-acked events redeliver.
  */
class HttpSenderSpec extends AnyFunSuite {

  private def withServer(status: Int)(f: (String, ConcurrentLinkedQueue[String]) => Unit): Unit = {
    val received = new ConcurrentLinkedQueue[String]()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/fn", new HttpHandler {
      def handle(x: HttpExchange): Unit = {
        received.add(new String(x.getRequestBody.readAllBytes(), "UTF-8"))
        x.sendResponseHeaders(status, -1)
        x.close()
      }
    })
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}/fn", received)
    finally server.stop(0)
  }

  test("POSTs the envelope body and succeeds on 2xx") {
    withServer(204) { (url, received) =>
      val body = """{"view":"v","decider_id":"p1","offset":7,"data":"{}"}"""
      PushSink.HttpSender(url, body)
      assert(received.size == 1)
      assert(received.peek() == body)
    }
  }

  test("throws on a 4xx/5xx response (micro-batch fails, events redeliver)") {
    withServer(500) { (url, _) =>
      val e = intercept[java.io.IOException](PushSink.HttpSender(url, "{}"))
      assert(e.getMessage.contains("HTTP 500"))
    }
  }

  /** Loopback server that fails the first `failures` requests with 500,
    * then accepts with 204 — the flaky-endpoint scenario pg_net's async
    * queue exists for.
    */
  private def withFlakyServer(failures: Int)
                             (f: (String, ConcurrentLinkedQueue[String]) => Unit): Unit = {
    val received = new ConcurrentLinkedQueue[String]()
    val seen = new java.util.concurrent.atomic.AtomicInteger(0)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/fn", new HttpHandler {
      def handle(x: HttpExchange): Unit = {
        received.add(new String(x.getRequestBody.readAllBytes(), "UTF-8"))
        val status = if (seen.incrementAndGet() <= failures) 500 else 204
        x.sendResponseHeaders(status, -1)
        x.close()
      }
    })
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}/fn", received)
    finally server.stop(0)
  }

  test("async queue retries a flaky endpoint: fail-twice-then-succeed loses nothing") {
    withFlakyServer(failures = 2) { (url, received) =>
      val sender = new PushSink.AsyncSender(baseBackoffMs = 5L)
      try {
        val body = """{"view":"v","decider_id":"p1","offset":7,"data":"{}"}"""
        sender(url, body) // returns immediately; delivery is async
        assert(sender.flush(10000L), "queue failed to drain")
        // two failed attempts + the successful third — same payload each
        // time, delivered to the endpoint exactly once with success
        assert(received.size == 3)
        received.forEach(b => assert(b == body))
        assert(sender.dropped == 0L, "payload wrongly abandoned")
        // no double-ack is structural: the sender never acks — the push
        // path's no-auto-ack contract means retries can only ever cause
        // re-POSTs, never offset movement (DeliveryEngineSpec covers
        // redelivery of un-acked events)
      } finally sender.close()
    }
  }

  test("async queue abandons after maxAttempts; events stay un-acked (redeliver path)") {
    withServer(500) { (url, received) =>
      val sender = new PushSink.AsyncSender(maxAttempts = 3, baseBackoffMs = 2L)
      try {
        sender(url, "{}")
        assert(sender.flush(10000L))
        assert(received.size == 3, s"expected exactly maxAttempts POSTs, got ${received.size}")
        assert(sender.dropped == 1L)
      } finally sender.close()
    }
  }

  test("async queue never blocks the caller on a slow endpoint; capacity bounds it") {
    val gate = new java.util.concurrent.CountDownLatch(1)
    val delivered = new ConcurrentLinkedQueue[String]()
    val slow: (String, String) => Unit = (_, body) => {
      gate.await() // endpoint hangs until released
      delivered.add(body); ()
    }
    val sender = new PushSink.AsyncSender(transport = slow, capacity = 2)
    try {
      // the gate opens only later, so the bounded join fails only if
      // the caller waits for delivery
      val enqueue = new Thread(() => {
        sender("u", "a") // worker blocks inside transport
        sender("u", "b") // fills the second slot
      })
      enqueue.start()
      enqueue.join(10000)
      assert(!enqueue.isAlive, "enqueue must not wait for delivery")
      // third payload exceeds capacity: apply blocks (backpressure)
      // until the endpoint unblocks — run it from a helper thread
      val third = new Thread(() => sender("u", "c"))
      third.start()
      third.join(200)
      assert(third.isAlive, "apply must backpressure when the queue is full")
      gate.countDown()
      third.join(10000)
      assert(!third.isAlive)
      assert(sender.flush(10000L))
      assert(delivered.size == 3)
    } finally { gate.countDown(); sender.close() }
  }

  test("close() counts abandoned payloads as dropped and frees their permits; later apply rejects cleanly") {
    val gate = new java.util.concurrent.CountDownLatch(1)
    val hung: (String, String) => Unit = (_, _) => gate.await()
    val sender = new PushSink.AsyncSender(transport = hung, capacity = 4,
      baseBackoffMs = 1L, closeFlushMs = 100L)
    try {
      sender("u", "a") // worker blocks inside transport
      sender("u", "b") // queued
      sender("u", "c") // queued
      sender.close()   // flush times out; queued payloads abandoned
      // all three permits must come back: the two queued runnables are
      // drained by shutdownNow; the in-flight one is interrupted, its
      // retry is rejected, and its catch path frees the permit
      val deadline = System.nanoTime() + 10e9.toLong
      while (sender.dropped < 3L && System.nanoTime() < deadline) Thread.sleep(5)
      assert(sender.dropped == 3L,
        s"abandoned payloads must be counted (got ${sender.dropped})")
      assert(sender.flush(1000L), "permits leaked: flush sees a non-empty queue forever")
      // apply after close: reject WITHOUT eating a permit or wedging
      intercept[java.util.concurrent.RejectedExecutionException] { sender("u", "d") }
      assert(sender.tryApply("u", "d") === false)
    } finally gate.countDown()
  }

  test("tryApply on a full queue returns false instead of stalling (tick degrades to redelivery)") {
    val gate = new java.util.concurrent.CountDownLatch(1)
    val delivered = new ConcurrentLinkedQueue[String]()
    val slow: (String, String) => Unit = (_, body) => { gate.await(); delivered.add(body); () }
    val sender = new PushSink.AsyncSender(transport = slow, capacity = 2)
    try {
      assert(sender.tryApply("u", "a"))
      assert(sender.tryApply("u", "b"))
      // queue full + endpoint hung: the tick's enqueue must RETURN,
      // not block — the payload's event stays un-acked and redelivers
      // the gate opens only later, so the bounded join fails only if
      // the call stalls
      val declined = new java.util.concurrent.atomic.AtomicReference[Option[Boolean]](None)
      val tick = new Thread(() => declined.set(Some(sender.tryApply("u", "c", timeoutMs = 50L))))
      tick.start()
      tick.join(10000)
      assert(!tick.isAlive, "tryApply must not stall the tick")
      assert(declined.get === Some(false))
      gate.countDown()
      assert(sender.flush(10000L))
      assert(delivered.size == 2, "accepted payloads still deliver")
      assert(sender.dropped == 0L,
        "a declined enqueue is not a drop: the event was never accepted for delivery")
    } finally { gate.countDown(); sender.close() }
  }
}
