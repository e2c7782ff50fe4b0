package graft.store

import java.nio.file.Files
import java.sql.Timestamp
import graft.SparkSpec

/** Two consumers on one shared journal, each over its own store
  * replica: the journal can carry a partition head that one replica
  * has not folded yet. That consumer must leave the partition to one
  * whose replica holds the event — leasing it would deliver nothing and
  * strand the event for the whole lease.
  */
class SharedReplicaLeaseSpec extends SparkSpec {

  test("a consumer whose replica lacks a partition's head does not lease it") {
    val dir = Files.createTempDirectory("graft-replica-lease").toString
    val clock = new Timestamp(1700000000000L)
    def consumer(session: org.apache.spark.sql.SparkSession, owner: String) = {
      val st = new EventStore(session)
      st.now = () => clock
      st.registerDeciderEvent("Order", "E")
      val vs = new ViewStreams(st)
      vs.openSharedJournal(dir, ownerId = owner)
      (st, vs)
    }
    val (stA, vsA) = consumer(spark, "A")
    val (_, vsB) = consumer(spark.newSession(), "B")
    vsA.registerView("v", startAt = Some(new Timestamp(0L)))
    // A's commit fans its head out through the journal; B's replica has
    // not folded it
    assert(stA.appendEvent(EventInput("E", "e1", "Order", "p1", "{}")).isRight)
    assert(vsB.streamEvents("v", limit = 4, seconds = 300).isEmpty)
    assert(vsA.streamEvents("v", limit = 4, seconds = 300).map(_.event_id) === Seq("e1"))
    vsA.closeSharedJournal()
    vsB.closeSharedJournal()
  }
}
