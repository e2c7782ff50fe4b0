package graft.store

import java.nio.file.Files
import java.sql.Timestamp
import graft.SparkSpec

/** Zombie fencing of the single-writer journal: after a lease takeover
  * the old owner resumes still believing it owns the journal. Its next
  * sequence number is one its successor has already written, so the
  * lease check must throw BEFORE the write — otherwise the zombie's
  * entry would silently replace the successor's (the reference's
  * analogue: a session whose row lock was taken over cannot commit).
  */
class JournalFencingSpec extends SparkSpec with graft.testkit.TestKitReported {

  private val T0 = 1700000000000L
  private def ts(ms: Long) = new Timestamp(T0 + ms)
  private final class Clock { @volatile var t: Timestamp = ts(0) }

  private def mkStore(session: org.apache.spark.sql.SparkSession,
                      clock: Clock): (EventStore, ViewStreams) = {
    val st = new EventStore(session)
    st.now = () => clock.t
    st.registerDeciderEvent("Order", "E")
    (st, new ViewStreams(st))
  }

  private def entryFiles(dir: String): Map[String, Seq[Byte]] =
    new java.io.File(dir).listFiles().toSeq
      .filter(_.getName.matches("""\d{20}\.json"""))
      .map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq).toMap

  test("a fenced zombie owner cannot overwrite its successor's journal entries") {
    val dir = Files.createTempDirectory("graft-journal-zombie").toString
    val logDir = Files.createTempDirectory("graft-journal-zombie-log").toString
    val clock = new Clock

    // --- A owns the journal, leases both partitions, then stalls
    val (stA, vsA) = mkStore(spark, clock)
    vsA.openJournal(dir, ownerId = "A", leaseMs = 60000L)
    assert(stA.append(Seq(
      EventInput("E", "e1", "Order", "p1", "{}"),
      EventInput("E", "e2", "Order", "p2", "{}"),
      EventInput("E", "e3", "Order", "p1", "{}", previous_id = Some("e1"))
    )).rejected.isEmpty)
    stA.save(logDir)
    vsA.registerView("v", startAt = Some(ts(-1000)))
    val gotA = vsA.streamEvents("v", limit = 10, seconds = 30)
    assert(gotA.map(_.event_id) === Seq("e1", "e2"))
    val entriesOfA = entryFiles(dir).keySet

    // --- A's writer lease and delivery leases expire; B takes over,
    //     redelivers and ACKs, writing the sequence numbers A would
    //     use next
    clock.t = ts(61000)
    val (stB, vsB) = mkStore(spark.newSession(), clock)
    stB.load(logDir)
    vsB.openJournal(dir, ownerId = "B", leaseMs = 60000L)
    val gotB = vsB.streamEvents("v", limit = 10, seconds = 30)
    assert(gotB.map(_.event_id) === Seq("e1", "e2"))
    vsB.ackBatch("v", gotB.map(e => (e.decider_id, e.offset)))
    val successor = entryFiles(dir)
    assert((successor.keySet -- entriesOfA).size === 2, "B's lease and ACK entries")

    // --- the zombie resumes: every mutation is refused before writing
    intercept[ControlJournal.OwnershipHeldException] {
      vsA.ackBatch("v", gotA.map(e => (e.decider_id, e.offset)))
    }
    intercept[ControlJournal.OwnershipHeldException](vsA.ack("v", "p1", 3L))
    intercept[ControlJournal.OwnershipHeldException](vsA.nack("v", "p2"))
    assert(entryFiles(dir) === successor, "the zombie touched the successor's entries")

    // --- a cold replay equals the successor's live state
    val liveViews = vsB.allViews.collect().map(v => v.view -> v).toMap
    val liveLocks = vsB.allLocks.collect().map(l => (l.view, l.decider_id) -> l).toMap
    val cold = new ControlJournal(dir, spark.sparkContext.hadoopConfiguration,
      "B", () => clock.t, 60000L)
    cold.acquire()
    val (rv, rl) = cold.replay()
    assert(rv.map(v => v.view -> v).toMap === liveViews)
    assert(rl.map(l => (l.view, l.decider_id) -> l).toMap === liveLocks)
    assert(liveLocks(("v", "p1")).last_offset === 1L)
    assert(liveLocks(("v", "p2")).last_offset === 2L)
    vsB.closeJournal()
  }
}
