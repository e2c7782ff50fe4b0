package graft.store

import java.nio.file.Files
import java.sql.Timestamp
import scala.util.Random
import graft.SparkSpec

/** An append after a bulk commit costs what it costs after `load`: the
  * bulk's rows join the membership sketches, so a chained append on a
  * stream just read runs no job, while a reused bulk event id or a
  * previous id a bulk row already claims still rejects. Covered on a
  * fresh store after [[BulkIngest.ingest]], on a loaded store after
  * [[EventStore.commitBulk]], and on a [[SharedLog]] replica opened on
  * a compacted and vacuumed log (whose base folds in as one bulk
  * commit).
  */
class BulkThenAppendSpec extends SparkSpec {

  private val t0 = 1700000000000L
  private val streams = (0 until 8).map(k => s"user-$k")
  private val perStream = 6

  private def freshStore(): EventStore = {
    val s = new EventStore(spark)
    s.now = () => new Timestamp(t0)
    s.registerDeciderEvent("User", "Clicked")
    s
  }

  private def ev(id: String, deciderId: String, prev: Option[String] = None) =
    EventInput("Clicked", id, "User", deciderId, s"""{"id":"$id"}""", previous_id = prev)

  /** `perStream` events per stream, `<stream>-e0..`, each chained on the
    * stream's previous one, in created_at order.
    */
  private def bulkRows(head: Long, txn: Long): Seq[EventRow] =
    (0 until perStream).flatMap(j => streams.map(id => (j, id))).zipWithIndex.map { case ((j, id), i) =>
      EventRow("Clicked", s"$id-e$j", 1L, "User", id, "{}", None,
        Option.when(j > 0)(s"$id-e${j - 1}"), is_final = false,
        new Timestamp(t0 + i * 1000L), head + 1 + i, txn)
    }

  /** Read a stream, then append one event chained on its head: the
    * append's cost and its committed row.
    */
  private def readThenAppend(getEvents: String => Seq[EventRow],
                             append: EventInput => Either[AppendError, EventRow],
                             id: String, next: String): (CallProbe.Cost, EventRow) = {
    val last = getEvents(id).last
    val probe = CallProbe.start(spark)
    val res = append(ev(next, id, Some(last.event_id)))
    val cost = probe.stop()
    assert(res.map(_.event_id) === Right(next), id)
    (cost, res.toOption.get)
  }

  /** A bulk row's id, and a previous id a bulk row claims, on streams
    * the seed picks.
    */
  private def bulkRowsStillReject(append: EventInput => Either[AppendError, EventRow], rnd: Random): Unit = {
    val reused = s"${streams(rnd.nextInt(streams.size))}-e${rnd.nextInt(perStream)}"
    assert(append(ev(reused, "user-new")) === Left(AppendError.DuplicateEventId(reused)))
    val id = streams(rnd.nextInt(streams.size))
    val claimed = s"$id-e${rnd.nextInt(perStream - 1)}"
    assert(append(ev("claimer", id, Some(claimed))) === Left(AppendError.DuplicatePreviousId("claimer")))
  }

  test("fresh store after BulkIngest: a chained append on a just-read stream runs no job") {
    val rnd = new Random(11)
    val s = freshStore()
    val src = spark.createDataFrame(bulkRows(0L, -1L)).drop("offset", "transaction_id")
    assert(BulkIngest.ingest(s, src) === BulkIngest.IngestResult(streams.size * perStream, 0L))
    val (cost, row) = readThenAppend(s.getEvents(_, "User").collect().toSeq, s.appendEvent,
      streams(rnd.nextInt(streams.size)), "next-1")
    assert(cost.jobs === 0)
    assert(row.offset === streams.size * perStream + 1L)
    bulkRowsStillReject(s.appendEvent, rnd)
  }

  test("loaded store after commitBulk: a chained append runs no job, and txn ids follow the bulk's") {
    val rnd = new Random(23)
    val seed = freshStore()
    assert(seed.append(Seq(ev("h-0", "hist"), ev("h-1", "hist", Some("h-0")))).rejected.isEmpty)
    val dir = Files.createTempDirectory("graft-bulk-then-append").toString
    seed.save(dir, buckets = 4)
    val s = freshStore()
    s.load(dir)
    import spark.implicits._
    assert(s.commitBulk(bulkRows(s.maxOffset(), 999L).toDS()) === streams.size * perStream.toLong)
    val (cost, row) = readThenAppend(s.getEvents(_, "User").collect().toSeq, s.appendEvent,
      streams(rnd.nextInt(streams.size)), "next-1")
    assert(cost.jobs === 0)
    assert(row.transaction_id === 1000L, "the counter continues past the bulk rows' txn ids")
    bulkRowsStillReject(s.appendEvent, rnd)
    // the history from before the load still validates exactly too
    assert(s.appendEvent(ev("h-2", "hist", Some("h-1"))).isRight)
    assert(s.appendEvent(ev("h-3", "hist")) === Left(AppendError.NullPreviousOnNonFirst("h-3")))
  }

  test("a commitBulk ships its rows' sketched columns while that is smaller than a sketch, then one sketch") {
    import spark.implicits._
    val s = freshStore()
    val sketchBytes = org.apache.spark.SparkEnv.get.serializer.newInstance()
      .serialize(new EventStore.LogSketch).limit().toLong
    def shipped(rows: Seq[EventRow]): Long = {
      val ds = rows.toDS()
      assert(ds.rdd.getNumPartitions > 1, "the bulk must span partitions for this to show anything")
      val probe = CallProbe.start(spark)
      assert(s.commitBulk(ds) === rows.size.toLong)
      probe.stop()
      probe.resultBytes
    }
    val small = shipped(bulkRows(0L, 1L))
    assert(small < sketchBytes / 4, s"$small result bytes, sketch $sketchBytes")
    // more rows than a partition ships inline, all in one task
    val big = shipped((1 to 5000).map(i => EventRow("Clicked", s"big-$i", 1L, "User", s"big-${i % 50}", "{}",
      None, None, is_final = false, new Timestamp(t0), s.maxOffset() + i, 2L)))
    assert(big >= sketchBytes && big < 2 * sketchBytes, s"$big result bytes, sketch $sketchBytes")
    assert(s.appendEvent(ev("big-7", "user-new")) === Left(AppendError.DuplicateEventId("big-7")))
  }

  test("SharedLog replica opened on a compacted, vacuumed log: its append runs only the data-file write") {
    val rnd = new Random(47)
    val dir = Files.createTempDirectory("graft-bulk-then-append-shared").toString
    val a = new SharedLog(spark, dir, "A")
    a.open()
    a.registerDeciderEvent("User", "Clicked")
    (0 until perStream).foreach(j => streams.foreach { id =>
      assert(a.appendEvent(ev(s"$id-e$j", id, Option.when(j > 0)(s"$id-e${j - 1}"))).isRight)
    })
    a.compact()
    a.vacuum()
    val c = new SharedLog(spark.newSession(), dir, "C")
    c.open()
    assert(c.maxOffset() === streams.size * perStream.toLong)
    // the append's one job is the write of its data file: validation
    // ran on the replica's driver
    val (cost, row) = readThenAppend(c.getEvents(_, "User").collect().toSeq, c.appendEvent,
      streams(rnd.nextInt(streams.size)), "next-1")
    assert(cost.jobs === 1)
    val txns = c.allEvents.collect().map(_.transaction_id).toSeq
    assert(txns.distinct.size === txns.size, s"txn collision after the base fold: $txns")
    assert(row.transaction_id === txns.max)
    bulkRowsStillReject(c.appendEvent, rnd)
    a.resync()
    assert(a.allEvents.count() === streams.size * perStream + 1L)
  }
}
