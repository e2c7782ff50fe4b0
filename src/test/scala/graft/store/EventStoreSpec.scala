package graft.store

import java.sql.Timestamp
import graft.SparkSpec

/** Unit suite for the event-sourcing core, mirroring the reference's
  * tests/unit/event-sourcing and tests/unit/constraints taxonomy
  * (SURVEY §5): append/chain semantics, the §7.5 error-identity table,
  * intra-batch trigger visibility (SURVEY §7.4 item 2), scan paths,
  * and immutability no-ops.
  */
class EventStoreSpec extends SparkSpec with graft.testkit.TestKitReported {

  private def freshStore(): EventStore = {
    val s = new EventStore(spark)
    s.now = () => new Timestamp(1700000000000L)
    s.registerDeciderEvent("Order", "OrderPlaced")
    s.registerDeciderEvent("Order", "OrderShipped")
    s.registerDeciderEvent("Order", "OrderClosed")
    s
  }

  private def ev(id: String, event: String = "OrderPlaced",
                 deciderId: String = "order-1", prev: Option[String] = None,
                 fin: Boolean = false) =
    EventInput(event, id, "Order", deciderId, """{"qty":1}""",
      previous_id = prev, is_final = fin)

  test("append assigns a global monotonic offset starting at 1") {
    val s = freshStore()
    val r1 = s.appendEvent(ev("e1")).toOption.get
    val r2 = s.appendEvent(ev("e2", event = "OrderShipped", prev = Some("e1"))).toOption.get
    assert(r1.offset === 1L)
    assert(r2.offset === 2L)
    assert(r2.transaction_id > r1.transaction_id)
  }

  test("get_events returns the stream in offset order with a valid chain") {
    // ≙ reference tests/unit/event-sourcing/test_append_event.sql:56-94
    val s = freshStore()
    s.appendEvent(ev("e1"))
    s.appendEvent(ev("e2", event = "OrderShipped", prev = Some("e1")))
    s.appendEvent(ev("x1", deciderId = "order-2")) // noise in another stream
    val got = s.getEvents("order-1", "Order").collect()
    assert(got.map(_.event_id).toSeq === Seq("e1", "e2"))
    assert(got.map(_.offset).toSeq === got.map(_.offset).toSeq.sorted)
    // chain validity: exactly one null-previous, others resolve in-stream
    assert(got.count(_.previous_id.isEmpty) === 1)
    val ids = got.map(_.event_id).toSet
    assert(got.flatMap(_.previous_id).forall(ids.contains))
  }

  test("get_last_event ignores the decider filter (reference quirk, schema.sql:364)") {
    val s = freshStore()
    s.registerDeciderEvent("Payment", "OrderPlaced")
    s.appendEvent(ev("e1", deciderId = "shared-id"))
    s.appendEvent(EventInput("OrderPlaced", "e2", "Payment", "shared-id", "{}"))
    val last = s.getLastEvent("shared-id")
    assert(last.map(_.event_id) === Some("e2"))
    assert(last.map(_.decider) === Some("Payment"))
  }

  // --- §7.5 error-identity table -----------------------------------

  test("appending to a finalized stream fails with the reference message") {
    val s = freshStore()
    s.appendEvent(ev("e1"))
    s.appendEvent(ev("e2", event = "OrderClosed", prev = Some("e1"), fin = true))
    val err = s.appendEvent(ev("e3", prev = Some("e2"))).swap.toOption.get
    assert(err.isInstanceOf[AppendError.StreamFinalized])
    assert(err.message ===
      "last event for this decider stream is already final. the stream is closed, you can not append events to it.")
  }

  test("null previous_id on a non-first event fails with the reference message") {
    val s = freshStore()
    s.appendEvent(ev("e1"))
    val err = s.appendEvent(ev("e2")).swap.toOption.get
    assert(err.isInstanceOf[AppendError.NullPreviousOnNonFirst])
    assert(err.message === "previous_id can only be null for the first decider event")
  }

  test("previous_id pointing outside the stream fails with the reference message") {
    val s = freshStore()
    s.appendEvent(ev("e1"))
    s.appendEvent(ev("x1", deciderId = "order-2"))
    // cross-stream previous_id (exists, but in another decider_id)
    val crossErr = s.appendEvent(ev("e2", prev = Some("x1"))).swap.toOption.get
    assert(crossErr.isInstanceOf[AppendError.PreviousNotInStream])
    assert(crossErr.message === "previous_id must be in the same decider")
    // nonexistent previous_id
    val ghostErr = s.appendEvent(ev("e3", prev = Some("nope"))).swap.toOption.get
    assert(ghostErr.isInstanceOf[AppendError.PreviousNotInStream])
  }

  test("unregistered (decider,event,version) fails the FK gate") {
    val s = freshStore()
    val err = s.appendEvent(
      EventInput("NotRegistered", "e1", "Order", "order-1", "{}")).swap.toOption.get
    assert(err.isInstanceOf[AppendError.UnregisteredEvent])
    assert(err.message.contains("violates foreign key constraint"))
    // wrong version of a registered event is also rejected
    val err2 = s.appendEvent(
      EventInput("OrderPlaced", "e2", "Order", "order-1", "{}", event_version = 9L))
      .swap.toOption.get
    assert(err2.isInstanceOf[AppendError.UnregisteredEvent])
  }

  test("duplicate event_id and duplicate previous_id violate uniqueness") {
    val s = freshStore()
    s.appendEvent(ev("e1"))
    val dupId = s.appendEvent(ev("e1", deciderId = "order-9")).swap.toOption.get
    assert(dupId.isInstanceOf[AppendError.DuplicateEventId])
    assert(dupId.message.contains("duplicate key value violates unique constraint"))

    s.appendEvent(ev("e2", event = "OrderShipped", prev = Some("e1")))
    // second event also claiming previous_id = e1 (a lost optimistic-
    // concurrency race, reference README.md:106-108: exactly one wins)
    val dupPrev = s.appendEvent(ev("e3", prev = Some("e1"))).swap.toOption.get
    assert(dupPrev.isInstanceOf[AppendError.DuplicatePreviousId])
  }

  // --- intra-batch trigger visibility (SURVEY §7.4 item 2) ----------

  test("a batch chain is validated with visibility of earlier batch rows") {
    val s = freshStore()
    val r = s.append(Seq(
      ev("b1"),
      ev("b2", event = "OrderShipped", prev = Some("b1")),
      ev("b3", event = "OrderShipped", prev = Some("b2"))))
    assert(r.rejected.isEmpty)
    assert(r.accepted.map(_.offset) === Seq(1L, 2L, 3L))
  }

  test("a final event earlier in the batch blocks later same-stream rows") {
    val s = freshStore()
    val r = s.append(Seq(
      ev("b1", fin = true),
      ev("b2", prev = Some("b1"))))
    assert(r.accepted.map(_.event_id) === Seq("b1"))
    assert(r.rejected.map(_.eventId) === Seq("b2"))
    assert(r.rejected.head.isInstanceOf[AppendError.StreamFinalized])
  }

  test("duplicate event_id within one batch: first in input order wins") {
    val s = freshStore()
    val r = s.append(Seq(
      ev("dup"),
      ev("dup", deciderId = "order-2")))
    assert(r.accepted.map(_.decider_id) === Seq("order-1"))
    assert(r.rejected.head.isInstanceOf[AppendError.DuplicateEventId])
  }

  test("duplicate previous_id within one batch is rejected") {
    val s = freshStore()
    s.appendEvent(ev("e1"))
    val r = s.append(Seq(
      ev("c1", event = "OrderShipped", prev = Some("e1")),
      ev("c2", event = "OrderShipped", prev = Some("e1"))))
    assert(r.accepted.map(_.event_id) === Seq("c1"))
    assert(r.rejected.head.isInstanceOf[AppendError.DuplicatePreviousId])
  }

  test("a rejected row does not consume an offset (contiguous per commit)") {
    val s = freshStore()
    val r = s.append(Seq(
      ev("a1"),
      ev("bad", prev = Some("missing"), deciderId = "order-2"),
      ev("a2", event = "OrderShipped", prev = Some("a1"))))
    assert(r.accepted.map(_.offset) === Seq(1L, 2L))
    assert(r.rejected.size === 1)
  }

  // --- registry + immutability --------------------------------------

  test("register_decider_event is idempotent on the composite PK") {
    val s = freshStore()
    s.registerDeciderEvent("Order", "OrderPlaced") // duplicate
    val n = s.deciderRegistry.filter(d =>
      d.decider == "Order" && d.event == "OrderPlaced").count()
    assert(n === 1L)
  }

  test("UPDATE/DELETE on events and deciders are silent no-ops (M7)") {
    val s = freshStore()
    s.appendEvent(ev("e1"))
    assert(s.updateEvents() === 0L)
    assert(s.deleteEvents() === 0L)
    assert(s.updateDeciders() === 0L)
    assert(s.deleteDeciders() === 0L)
    assert(s.allEvents.count() === 1L)
  }

  test("getEvents on a loaded log prunes partitions via the bucket predicate") {
    val s = freshStore()
    s.appendEvent(ev("e1"))
    s.appendEvent(ev("x1", deciderId = "order-2"))
    val dir = java.nio.file.Files.createTempDirectory("estore_prune").toString
    s.save(dir, buckets = 8)
    val s2 = new EventStore(spark)
    s2.load(dir, buckets = 8)
    val probe = CallProbe.start(spark)
    val scan = s2.getEvents("order-1", "Order")
    // correctness through the pruned path
    assert(scan.collect().map(_.event_id).toSeq === Seq("e1"))
    // one job of one task, on the stream's hash partition of the
    // in-memory base, reading no file
    val cost = probe.stop()
    assert(cost === CallProbe.Cost(jobs = 1,
      taskPartitions = Seq(CallProbe.hashPartition(spark, "order-1")), fileBytes = 0L),
      "the read did not run on the stream's partition alone")
    // appends invalidate the disk snapshot (no stale pruned reads)
    s2.now = () => new Timestamp(1700000000001L)
    s2.appendEvent(ev("e2", event = "OrderShipped", prev = Some("e1")))
    assert(s2.getEvents("order-1", "Order").collect().map(_.event_id).toSeq
      === Seq("e1", "e2"))
  }

  test("large-payload stress: 20 chained ~1KB JSON events all land") {
    // ≙ reference tests/performance/benchmarks/test_stress_conditions.sql:35-63
    // (repeat('x',1000) + a 100-int json array; threshold there is >=10/20,
    // ours is all 20 — batch commit is all-or-per-row, never partial-flaky)
    val s = freshStore()
    val bigPayload = {
      val arr = (1 to 100).mkString("[", ",", "]")
      s"""{"blob":"${"x" * 1000}","series":$arr}"""
    }
    val batch = (1 to 20).map { i =>
      ev(s"big$i", event = if (i == 1) "OrderPlaced" else "OrderShipped",
        prev = if (i == 1) None else Some(s"big${i - 1}"))
        .copy(data = bigPayload)
    }
    val r = s.append(batch)
    assert(r.rejected.isEmpty)
    assert(r.accepted.size === 20)
    val got = s.getEvents("order-1", "Order").collect()
    assert(got.length === 20)
    assert(got.forall(_.data.length > 1000))
  }

  test("save/load round-trips the log through bucketed parquet") {
    val s = freshStore()
    s.appendEvent(ev("e1"))
    s.appendEvent(ev("e2", event = "OrderShipped", prev = Some("e1")))
    val dir = java.nio.file.Files.createTempDirectory("estore").toString
    s.save(dir)
    val s2 = new EventStore(spark)
    s2.load(dir)
    assert(s2.allEvents.count() === 2L)
    assert(s2.maxOffset() === 2L)
    // offsets continue after the reload, not restart
    s2.now = () => new Timestamp(1700000000001L)
    val r = s2.appendEvent(ev("e3", event = "OrderShipped", prev = Some("e2"))).toOption.get
    assert(r.offset === 3L)
  }
}
