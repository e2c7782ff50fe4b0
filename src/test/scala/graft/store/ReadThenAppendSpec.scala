package graft.store

import java.nio.file.Files
import java.sql.Timestamp
import scala.util.Random
import graft.SparkSpec

/** The OLTP command on a saved-and-loaded log: read a stream, then
  * append one event chained on the head it read.
  *  - The read is one task on the stream's partition and reads no file;
  *    the append validates from that read with no job.
  *  - A read gone stale (a commit to its stream, a flush, a compaction
  *    or a reload since) never lets a wrong append through.
  *  - On random schedules, a loaded store accepts and rejects exactly
  *    what a store that never left memory does.
  */
class ReadThenAppendSpec extends SparkSpec {

  private val t0 = 1700000000000L

  private def freshStore(): EventStore = {
    val s = new EventStore(spark)
    s.now = () => new Timestamp(t0)
    s.registerDeciderEvent("Order", "Placed")
    s.registerDeciderEvent("Order", "Shipped")
    s
  }

  private def ev(id: String, deciderId: String, prev: Option[String] = None, isFinal: Boolean = false) =
    EventInput(if (prev.isEmpty) "Placed" else "Shipped", id, "Order", deciderId,
      """{"qty":1}""", previous_id = prev, is_final = isFinal)

  private val streams = (1 to 16).map(i => s"order-$i")

  /** The history every case starts from: three chained events per
    * stream, `<stream>-e1..e3`.
    */
  private def history: Seq[EventInput] = streams.flatMap { id =>
    Seq(ev(s"$id-e1", id), ev(s"$id-e2", id, Some(s"$id-e1")), ev(s"$id-e3", id, Some(s"$id-e2")))
  }

  /** A store loaded from a saved copy of [[history]], and its directory. */
  private def loadedStore(name: String): (EventStore, String) = {
    val s = freshStore()
    assert(s.append(history).rejected.isEmpty)
    val dir = Files.createTempDirectory(name).toString
    s.save(dir, buckets = 4)
    val loaded = freshStore()
    loaded.load(dir)
    (loaded, dir)
  }

  private def head(s: EventStore, id: String): Option[String] =
    s.getEvents(id, "Order").collect().lastOption.map(_.event_id)

  test("read-then-append on a loaded log: one task on the stream's partition, no file, and no job for the append") {
    val (s, _) = loadedStore("rta_cost")
    streams.take(6).zipWithIndex.foreach { case (id, i) =>
      val read = CallProbe.start(spark)
      val last = s.getEvents(id, "Order").collect().last
      val readCost = read.stop()
      val append = CallProbe.start(spark)
      val res = s.appendEvent(ev(s"$id-n$i", id, Some(last.event_id)))
      val appendCost = append.stop()
      assert(res.map(_.event_id) === Right(s"$id-n$i"), id)
      assert(readCost === CallProbe.Cost(jobs = 1,
        taskPartitions = Seq(CallProbe.hashPartition(spark, id)), fileBytes = 0L), id)
      assert(appendCost === CallProbe.Cost(jobs = 0, taskPartitions = Nil, fileBytes = 0L), id)
    }
  }

  test("a commit to the stream between the read and the append rejects the stale head") {
    val (s, _) = loadedStore("rta_race")
    val last = head(s, "order-1").get
    assert(s.appendEvent(ev("rival", "order-1", Some(last))).isRight)
    assert(s.appendEvent(ev("stale", "order-1", Some(last))) ===
      Left(AppendError.DuplicatePreviousId("stale")))
    assert(head(s, "order-1") === Some("rival"))
  }

  test("a read of one stream does not stand in for another: the append learns its own stream's state") {
    val (s, _) = loadedStore("rta_other")
    val headA = head(s, "order-1").get
    // order-2 is neither hot nor the stream just read: one task on its partition
    val probe = CallProbe.start(spark)
    val res = s.appendEvent(ev("b-next", "order-2", Some("order-2-e3")))
    val cost = probe.stop()
    assert(res.isRight)
    assert(cost === CallProbe.Cost(jobs = 1,
      taskPartitions = Seq(CallProbe.hashPartition(spark, "order-2")), fileBytes = 0L))
    assert(head(s, "order-1") === Some(headA))
    // the head read from order-1 is no previous event of order-3
    assert(s.appendEvent(ev("c-next", "order-3", Some(headA))) ===
      Left(AppendError.PreviousNotInStream("c-next")))
    // and order-3's own head still chains
    assert(s.appendEvent(ev("c-next", "order-3", Some("order-3-e3"))).isRight)
  }

  test("saveIncrement, compact or a reload between the read and the append keeps validation exact") {
    val (s, dir) = loadedStore("rta_between")
    val between: Seq[(String, () => Unit)] = Seq(
      "saveIncrement" -> (() => { s.saveIncrement(dir); () }),
      "compact" -> (() => s.compact(dir)),
      "reload" -> (() => { s.saveIncrement(dir); s.load(dir) }))
    between.zipWithIndex.foreach { case ((name, op), i) =>
      val id = streams(i)
      // a fresh read: the append after the operation still chains
      val last = head(s, id).get
      op()
      assert(s.appendEvent(ev(s"$id-$name", id, Some(last))).isRight, name)
      // a stale read: a rival commit lands before the operation
      val stale = head(s, id).get
      assert(s.appendEvent(ev(s"$id-$name-rival", id, Some(stale))).isRight, name)
      op()
      assert(s.appendEvent(ev(s"$id-$name-stale", id, Some(stale))) ===
        Left(AppendError.DuplicatePreviousId(s"$id-$name-stale")), name)
      assert(head(s, id) === Some(s"$id-$name-rival"), name)
    }
  }

  test("a read of an absent stream goes stale when a reload brings the stream's first event") {
    val (s, dir) = loadedStore("rta_reload_new")
    assert(s.getEvents("order-new", "Order").collect().isEmpty)
    // another writer's store adds the stream and flushes it
    val other = freshStore()
    other.load(dir)
    assert(other.appendEvent(ev("new-e1", "order-new")).isRight)
    other.saveIncrement(dir)
    s.load(dir)
    assert(s.appendEvent(ev("new-again", "order-new")) ===
      Left(AppendError.NullPreviousOnNonFirst("new-again")))
    assert(s.appendEvent(ev("new-e2", "order-new", Some("new-e1"))).isRight)
  }

  test("a loaded store and a never-saved store accept and reject the same appends on random schedules") {
    for (seed <- Seq(5L, 23L, 61L)) {
      val rnd = new Random(seed)
      val mem = freshStore()
      assert(mem.append(history).rejected.isEmpty)
      val (disk, dir) = loadedStore(s"rta_diff_$seed")
      // what the client last read of each stream: its head then, maybe stale now
      var seen = Map.empty[String, Option[String]]
      val ids = streams.take(6) :+ s"new-$seed"
      var n = 0
      var outcomes = Vector.empty[String]
      def committed: Seq[String] = mem.allEvents.collect().map(_.event_id).toSeq
      for (step <- 0 until 40) {
        val id = ids(rnd.nextInt(ids.size))
        rnd.nextInt(10) match {
          case 0 | 1 | 2 =>
            val a = mem.getEvents(id, "Order").collect().toSeq
            val b = disk.getEvents(id, "Order").collect().toSeq
            assert(b.map(_.event_id) === a.map(_.event_id), s"seed $seed step $step: read $id")
            seen = seen.updated(id, a.lastOption.map(_.event_id))
          case 3 | 4 | 5 | 6 =>
            n += 1
            val prev = rnd.nextInt(8) match {
              case 0 => None
              case 1 => Some(s"nope-$n")
              case 2 => Some(committed(rnd.nextInt(committed.size)))
              case _ => seen.getOrElse(id, None)
            }
            val eid = if (rnd.nextInt(10) == 0) committed(rnd.nextInt(committed.size)) else s"$seed-$n"
            val e = ev(eid, id, prev, isFinal = rnd.nextInt(25) == 0)
            val a = mem.appendEvent(e).map(_.event_id)
            val b = disk.appendEvent(e).map(_.event_id)
            assert(b === a, s"seed $seed step $step: append $e")
            outcomes :+= a.fold(_.getClass.getSimpleName, _ => "accepted")
          case 7 => disk.saveIncrement(dir)
          case 8 => disk.compact(dir)
          case _ => disk.saveIncrement(dir); disk.load(dir)
        }
      }
      assert(outcomes.contains("accepted") && outcomes.exists(_ != "accepted"),
        s"seed $seed: a schedule with accepts and rejects, got $outcomes")
      assert(disk.allEvents.collect().map(_.event_id).sorted.toSeq ===
        mem.allEvents.collect().map(_.event_id).sorted.toSeq, s"seed $seed: final logs")
    }
  }
}
