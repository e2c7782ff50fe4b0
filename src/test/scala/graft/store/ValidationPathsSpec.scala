package graft.store

import java.sql.Timestamp
import graft.SparkSpec

/** Differential property: the store's validation ([[EventStore.validate]],
  * from driver state or the probe job) and the set-level join/window
  * oracle ([[ValidationOracle]]) must flag EXACTLY the same rows with
  * the same error identities for the same batch against the same
  * committed log — they share replayStream, this pins the flag
  * computation that feeds it. Seeded random batches of 12 to 300 rows
  * mix valid chains, dup ids, dangling prevs, unregistered types,
  * finals, and cross-stream interleavings.
  */
class ValidationPathsSpec extends SparkSpec with graft.testkit.TestKitReported {

  private def freshStore(): EventStore = {
    val s = new EventStore(spark)
    s.now = () => new Timestamp(1700000000000L)
    s.registerDeciderEvent("D", "Good")
    s
  }

  private def randomBatch(rnd: scala.util.Random, n: Int,
                          committedIds: Seq[String]): Seq[EventInput] = {
    (0 until n).map { i =>
      val stream = s"s${rnd.nextInt(4)}"
      val id = if (rnd.nextDouble() < 0.15 && i > 0) s"b${rnd.nextInt(i)}" // intra-batch dup id
               else s"b$i"
      val prev: Option[String] = rnd.nextInt(5) match {
        case 0 => None                                        // first-event claim
        case 1 => Some(s"b${rnd.nextInt(math.max(1, i))}")    // intra-batch chain (maybe)
        case 2 if committedIds.nonEmpty =>
          Some(committedIds(rnd.nextInt(committedIds.size)))  // committed prev
        case 3 => Some(s"nope${rnd.nextInt(3)}")              // dangling
        case _ => None
      }
      val event = if (rnd.nextDouble() < 0.1) "Unregistered" else "Good"
      EventInput(event, id, "D", stream, s"""{"i":$i}""",
        previous_id = prev, is_final = rnd.nextDouble() < 0.08)
    }
  }

  test("small-batch and distributed validation agree on seeded random batches") {
    val rnd = new scala.util.Random(1234)
    val s = freshStore()
    // committed history: a couple of valid chains
    val seed = Seq(
      EventInput("Good", "c0", "D", "s0", "{}"),
      EventInput("Good", "c1", "D", "s0", "{}", previous_id = Some("c0")),
      EventInput("Good", "c2", "D", "s1", "{}"))
    val seeded = s.append(seed)
    assert(seeded.rejected.isEmpty)
    val committed = Seq("c0", "c1", "c2")
    def round(round: Int, batch: Seq[EventInput]): Unit = {
      val store = s.validate(batch).sortBy(_._2)
        .map { case (e, idx, err) => (e.event_id, idx, err) }
      val oracle = ValidationOracle.validate(s, batch).sortBy(_._2)
        .map { case (e, idx, err) => (e.event_id, idx, err) }
      assert(store == oracle, s"round $round diverged:\nstore =$store\noracle=$oracle")
      // commit the batch through the public API so later rounds see a
      // progressively richer committed log (both validated it
      // identically above)
      s.append(batch)
    }
    (0 until 6).foreach(r => round(r, randomBatch(rnd, 12 + rnd.nextInt(20), committed)))
    // large batches take the same routine
    (6 until 10).foreach(r => round(r, randomBatch(rnd, 65 + rnd.nextInt(236), committed)))
  }

  test("sketch fast path (fresh store) agrees with the pure job path (loaded store) append for append") {
    // `fast` keeps the membership sketches it grew commit by commit;
    // `slow` is save/load-cycled, so its sketches are the ones `load`
    // builds from the log; despite the test's name it is no pure job
    // path, as it runs a job only where those sketches cannot answer.
    // Identical inputs must produce identical accept/reject sequences,
    // and each batch's flags must equal the set-level oracle's, which
    // uses no sketch: the differential proof that the sketches only
    // ever answer what they know exactly.
    val rnd = new scala.util.Random(99)
    val fast = freshStore()
    val slow = freshStore()
    val seed = Seq(
      EventInput("Good", "c0", "D", "s0", "{}"),
      EventInput("Good", "c1", "D", "s0", "{}", previous_id = Some("c0")),
      EventInput("Good", "c2", "D", "s1", "{}"))
    assert(fast.append(seed).rejected.isEmpty)
    assert(slow.append(seed).rejected.isEmpty)
    val dir = java.nio.file.Files.createTempDirectory("graft-fastpath").toString
    slow.save(dir); slow.load(dir) // rebuilds the sketches from the log
    (0 until 5).foreach { round =>
      val batch = randomBatch(rnd, 10 + rnd.nextInt(15), Seq("c0", "c1", "c2"))
        .map(e => e.copy(event_id = s"r$round-${e.event_id}",
          previous_id = e.previous_id.map(p =>
            if (p.startsWith("b")) s"r$round-$p" else p)))
      def flags(validate: Seq[EventInput] => Seq[(EventInput, Long, String)]) =
        validate(batch).sortBy(_._2).map { case (e, idx, err) => (e.event_id, idx, err) }
      // the sketch-free oracle
      val oracle = flags(ValidationOracle.validate(slow, _))
      assert(flags(fast.validate) === oracle, s"round $round: fresh store vs oracle")
      assert(flags(slow.validate) === oracle, s"round $round: loaded store vs oracle")
      val ra = fast.append(batch)
      val rb = slow.append(batch)
      assert(ra.accepted.map(_.event_id) === rb.accepted.map(_.event_id),
        s"round $round accept divergence")
      assert(ra.rejected === rb.rejected, s"round $round reject divergence")
    }
    // the OLTP chained shape rides the fast path end to end: a fresh
    // stream chained through its head must accept every link on both
    var prev: Option[String] = None
    for (i <- 0 until 30) {
      val e = EventInput("Good", s"chain$i", "D", "s9", "{}", previous_id = prev)
      assert(fast.appendEvent(e).isRight, s"fast rejected chain$i")
      assert(slow.appendEvent(e).isRight, s"slow rejected chain$i")
      prev = Some(s"chain$i")
    }
    assert(fast.getEvents("s9", "D").count() === 30L)
    assert(slow.getEvents("s9", "D").count() === 30L)

    // the sketches `load` built from the log, grown by the appends
    // since: the loaded store must still reject everything the log forbids
    assert(slow.appendEvent(EventInput("Good", "c0", "D", "s5", "{}"))
      === Left(AppendError.DuplicateEventId("c0")), "re-used id must still reject")
    assert(slow.appendEvent(EventInput("Good", "px", "D", "s0", "{}",
      previous_id = Some("c0")))
      === Left(AppendError.DuplicatePreviousId("px")), "claimed prev must still reject")
    assert(slow.appendEvent(EventInput("Good", "py", "D", "s0", "{}"))
      === Left(AppendError.NullPreviousOnNonFirst("py")))
    // and a clean chained append on the loaded store still lands
    assert(slow.appendEvent(EventInput("Good", "chain30", "D", "s9", "{}",
      previous_id = Some("chain29"))).isRight)
  }
}
