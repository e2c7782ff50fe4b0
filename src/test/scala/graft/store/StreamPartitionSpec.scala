package graft.store

import java.nio.file.Files
import java.sql.Timestamp
import scala.util.Random
import graft.SparkSpec
import org.apache.spark.sql.functions.{col, hash, lit, pmod}

/** The in-memory base is hash-partitioned by stream, and single-stream
  * work runs on its stream's partition alone:
  *  - every way a base is built keeps the partitioning;
  *  - single-stream reads equal a filter+sort over the whole log on
  *    random append/flush/compact/fold/reload schedules;
  *  - a read or a one-stream poll on a loaded log is one task on the
  *    stream's partition and reads no file; a log held only in the tail
  *    reads with no job.
  */
class StreamPartitionSpec extends SparkSpec {
  import spark.implicits._

  private val t0 = 1700000000000L

  private def freshStore(deciders: Seq[String] = Seq("Order")): EventStore = {
    val s = new EventStore(spark)
    s.now = () => new Timestamp(t0)
    deciders.foreach { d =>
      s.registerDeciderEvent(d, "Placed")
      s.registerDeciderEvent(d, "Shipped")
    }
    s
  }

  private def ev(id: String, deciderId: String, prev: Option[String] = None, decider: String = "Order") =
    EventInput(if (prev.isEmpty) "Placed" else "Shipped", id, decider, deciderId,
      """{"qty":1}""", previous_id = prev)

  private def tmp(name: String): String = Files.createTempDirectory(name).toString

  /** Every base row sits in the partition Spark's own hash expression
    * names; returns the number of base rows.
    */
  private def assertPartitioned(s: EventStore, step: String): Long = {
    val p = spark.sparkContext.defaultParallelism
    val base = s.baseRdd
    assert(base.getNumPartitions === p, s"$step: base partitions")
    val placed = base.mapPartitionsWithIndex((i, it) => it.map(e => (i, e.decider_id))).toDF("part", "id")
    val misplaced = placed.filter(col("part") =!= pmod(hash(col("id")), lit(p))).count()
    assert(misplaced === 0L, s"$step: $misplaced base rows outside their stream's partition")
    placed.count()
  }

  test("load, a tail fold, a bulk commit, save, compact and saveIncrement all keep the base partitioned by stream") {
    val s = freshStore()
    val streams = (1 to 24).map(i => s"order-$i")
    s.append(streams.map(id => ev(s"$id-e1", id)))
    val dir = tmp("estore_part")
    s.save(dir, buckets = 4)

    val s2 = freshStore()
    s2.load(dir)
    assert(assertPartitioned(s2, "load") === streams.size.toLong)

    // chained appends past TailMaxRows fold the tail into the base
    var heads = streams.map(id => id -> s"$id-e1").toMap
    (1 to EventStore.TailMaxRows / streams.size + 1).foreach { round =>
      val batch = streams.map(id => ev(s"$id-r$round", id, Some(heads(id))))
      assert(s2.append(batch).rejected.isEmpty)
      heads = streams.map(id => id -> s"$id-r$round").toMap
    }
    val folded = assertPartitioned(s2, "tail fold")
    assert(folded > streams.size.toLong, "the tail did not fold into the base")

    // a bulk commit of rows another process validated
    val head = s2.maxOffset()
    val bulk = (1 to 40).map { i =>
      EventRow("Placed", s"bulk-$i", 1L, "Order", s"bulk-stream-$i", "{}", None, None,
        is_final = false, new Timestamp(t0), head + i, 999L)
    }
    assert(s2.commitBulk(bulk.toDS()) === 40L)
    assert(assertPartitioned(s2, "bulk commit") === s2.maxOffset())

    s2.save(dir, buckets = 4)
    assertPartitioned(s2, "save")
    s2.appendEvent(ev("late-1", "late-stream"))
    s2.compact(dir)
    assertPartitioned(s2, "compact")
    assert(s2.saveIncrement(dir) === 1L)
    assertPartitioned(s2, "saveIncrement")

    val s3 = freshStore()
    s3.load(dir)
    assert(assertPartitioned(s3, "reload") === s2.maxOffset())
    (streams ++ Seq("bulk-stream-7", "late-stream")).foreach { id =>
      assert(s3.getEvents(id, "Order").collect().toSeq === s2.getEvents(id, "Order").collect().toSeq, id)
    }
  }

  test("single-stream reads equal a filter+sort over allEvents on random append/flush/compact/fold/reload schedules") {
    val deciders = Seq("A", "B")
    for (seed <- Seq(7L, 19L, 42L)) {
      val rnd = new Random(seed)
      val dir = tmp(s"estore_diff_$seed")
      var w = freshStore(deciders)
      w.save(dir, buckets = 4)
      // chain heads per (decider, decider_id); ids are introduced over
      // time, so some streams exist only in the tail or only after a fold
      var heads = Map.empty[(String, String), String]
      var ids = Vector("s0", "s1")
      var n = 0
      def next(d: String, id: String): EventInput = {
        n += 1
        val e = ev(s"$seed-$n", id, heads.get((d, id)), d)
        heads = heads.updated((d, id), e.event_id)
        e
      }
      def randomBatch(size: Int): Seq[EventInput] = {
        if (rnd.nextInt(3) == 0) ids :+= s"s${ids.size}"
        Seq.fill(size)(next(deciders(rnd.nextInt(2)), ids(rnd.nextInt(ids.size))))
      }

      def check(step: String): Unit = {
        val all = w.allEvents.collect().toSeq
        (ids :+ "never").foreach { id =>
          deciders.foreach { d =>
            val want = all.filter(e => e.decider_id == id && e.decider == d).sortBy(_.offset)
            assert(w.getEvents(id, d).collect().toSeq === want, s"seed $seed $step: getEvents($id, $d)")
          }
          assert(w.getLastEvent(id) === all.filter(_.decider_id == id).maxByOption(_.offset),
            s"seed $seed $step: getLastEvent($id)")
        }
      }

      for (step <- 0 until 14) {
        val op = rnd.nextInt(12) match {
          case 0 | 1 | 2 | 3 => assert(w.append(randomBatch(1 + rnd.nextInt(4))).rejected.isEmpty); "append"
          case 4 | 5 => w.saveIncrement(dir); "flush"
          case 6 => w.compact(dir); "compact"
          case 7 => w.save(dir, buckets = 4); "save"
          case 8 | 9 =>
            // past TailMaxRows: the tail folds into the base
            assert(w.append(randomBatch(EventStore.TailMaxRows)).rejected.isEmpty); "fold"
          case _ =>
            w.saveIncrement(dir)
            w = freshStore(deciders)
            w.load(dir)
            "reload"
        }
        check(s"step $step ($op)")
      }
    }
  }

  test("on a loaded log a read and a one-stream poll each run one task on the stream's partition and read no file") {
    val s = freshStore()
    val streams = (1 to 24).map(i => s"order-$i")
    s.append(streams.map(id => ev(s"$id-e1", id)))
    val dir = tmp("estore_readcost")
    s.save(dir, buckets = 4)
    val s2 = freshStore()
    s2.load(dir)

    streams.take(6).foreach { id =>
      val part = CallProbe.hashPartition(spark, id)
      val probe = CallProbe.start(spark)
      val got = s2.getEvents(id, "Order").collect()
      val last = s2.getLastEvent(id)
      val cost = probe.stop()
      assert(got.map(_.event_id).toSeq === Seq(s"$id-e1"))
      assert(last.map(_.event_id) === Some(s"$id-e1"))
      // getEvents + collect, then getLastEvent: one job of one task each
      assert(cost === CallProbe.Cost(jobs = 2, taskPartitions = Seq(part, part), fileBytes = 0L), id)
    }

    // a view from before the log: a one-stream poll delivers a base row
    val vs = new ViewStreams(s2)
    vs.registerView("v", startAt = Some(new Timestamp(t0 - 1)))
    val probe = CallProbe.start(spark)
    val delivered = vs.streamEvents("v", limit = 1)
    val cost = probe.stop()
    assert(delivered.map(_.event_id) === Seq("order-1-e1"))
    assert(cost === CallProbe.Cost(jobs = 1,
      taskPartitions = Seq(CallProbe.hashPartition(spark, "order-1")), fileBytes = 0L))

    // a caught-up view: order-5's read above bounded its base rows by
    // its head, which the view starts past, so its new event is fetched
    // with no job
    vs.registerView("w", startAt = Some(new Timestamp(t0 + 3600000L)))
    s2.appendEvent(ev("order-5-e2", "order-5", Some("order-5-e1")))
    val again = CallProbe.start(spark)
    val next = vs.streamEvents("w", limit = 16)
    val againCost = again.stop()
    assert(next.map(_.event_id) === Seq("order-5-e2"))
    assert(againCost === CallProbe.Cost(jobs = 0, taskPartitions = Nil, fileBytes = 0L))
  }

  test("a poll skips a stream's base partition only when its base rows are all delivered") {
    val s = freshStore()
    s.append(Seq(ev("a1", "order-1"), ev("a2", "order-1", Some("a1")), ev("b1", "order-2")))
    val dir = tmp("estore_pollskip")
    s.save(dir, buckets = 4)
    val s2 = freshStore()
    s2.load(dir)
    // the read learns order-1's base head (a2); the view starts before a1
    assert(s2.getEvents("order-1", "Order").collect().map(_.event_id).toSeq === Seq("a1", "a2"))
    val vs = new ViewStreams(s2)
    vs.registerView("v", startAt = Some(new Timestamp(t0 - 1)))
    s2.appendEvent(ev("a3", "order-1", Some("a2")))
    def pollOrder1(): (Seq[String], CallProbe.Cost) = {
      val probe = CallProbe.start(spark)
      val got = vs.streamEvents("v", limit = 16).filter(_.decider_id == "order-1")
      val cost = probe.stop()
      vs.ackBatch("v", got.map(e => (e.decider_id, e.offset)))
      (got.map(_.event_id), cost)
    }
    val onePart = CallProbe.hashPartition(spark, "order-1")
    // a1 and a2 sit in the base past the view's cursor: the poll reads it
    val (first, firstCost) = pollOrder1()
    assert(first === Seq("a1"))
    assert(firstCost.jobs === 1)
    assert(firstCost.taskPartitions.contains(onePart))
    val (second, secondCost) = pollOrder1()
    assert(second === Seq("a2"))
    assert(secondCost.jobs === 1)
    // past a2 only the tail holds order-1's rows
    val (third, thirdCost) = pollOrder1()
    assert(third === Seq("a3"))
    assert(thirdCost === CallProbe.Cost(jobs = 0, taskPartitions = Nil, fileBytes = 0L))
  }

  test("polls deliver every stream's events once, in offset order, on random read/append/poll/bulk/flush schedules") {
    Seq(7L, 19L, 43L).foreach { seed =>
      val rng = new Random(seed)
      val streams = (1 to 12).map(i => s"order-$i")
      val s = freshStore()
      assert(s.append(streams.flatMap(id => Seq(ev(s"$id-e1", id), ev(s"$id-e2", id, Some(s"$id-e1"))))).rejected.isEmpty)
      val dir = tmp(s"estore_polldiff_$seed")
      s.save(dir, buckets = 4)
      val w = freshStore()
      w.load(dir)
      val vs = new ViewStreams(w)
      vs.registerView("v", startAt = Some(new Timestamp(t0 - 1)))
      val delivered = scala.collection.mutable.ArrayBuffer.empty[EventRow]
      def poll(limit: Int): Int = {
        val got = vs.streamEvents("v", limit)
        vs.ackBatch("v", got.map(e => (e.decider_id, e.offset)))
        delivered ++= got
        got.size
      }
      def headOf(id: String): Option[String] = w.getEvents(id, "Order").collect().lastOption.map(_.event_id)
      var n = 0
      def fresh(): String = { n += 1; s"s$seed-$n" }
      (1 to 40).foreach { step =>
        val id = if (rng.nextInt(6) == 0) s"new-${rng.nextInt(3)}" else streams(rng.nextInt(streams.size))
        rng.nextInt(6) match {
          case 0 => headOf(id)
          case 1 | 2 =>
            val e = fresh()
            assert(w.appendEvent(ev(e, id, headOf(id))).isRight, s"seed $seed step $step")
          case 3 => poll(1 + rng.nextInt(4))
          case 4 =>
            // a bulk commit replaces the base, folding the tail into it
            val prev = headOf(id)
            val (e1, e2) = (fresh(), fresh())
            val src = Seq(("Placed", e1, 1L, "Order", id, "{}", None: Option[String], prev, false, new Timestamp(t0)),
              ("Placed", e2, 1L, "Order", id, "{}", None: Option[String], Some(e1), false, new Timestamp(t0 + 1)))
              .toDF("event", "event_id", "event_version", "decider", "decider_id",
                "data", "command_id", "previous_id", "is_final", "created_at")
            assert(BulkIngest.ingest(w, src).accepted === 2L, s"seed $seed step $step")
          case _ => if (rng.nextBoolean()) w.saveIncrement(dir) else w.compact(dir)
        }
      }
      while (poll(16) > 0) ()
      val expected = w.allEvents.collect().groupBy(_.decider_id).map { case (k, es) => k -> es.sortBy(_.offset).map(_.event_id).toSeq }
      val got = delivered.groupBy(_.decider_id).map { case (k, es) => k -> es.map(_.event_id).toSeq }
      assert(got === expected, s"seed $seed")
    }
  }

  test("a log held only in the tail reads and polls with no job") {
    val s = freshStore()
    s.appendEvent(ev("a1", "order-1"))
    s.appendEvent(ev("a2", "order-1", Some("a1")))
    val vs = new ViewStreams(s)
    vs.registerView("v", startAt = Some(new Timestamp(t0 - 1)))
    val probe = CallProbe.start(spark)
    val got = s.getEvents("order-1", "Order").collect().map(_.event_id).toSeq
    val last = s.getLastEvent("order-1").map(_.event_id)
    val delivered = vs.streamEvents("v").map(_.event_id)
    val cost = probe.stop()
    assert(got === Seq("a1", "a2"))
    assert(last === Some("a2"))
    assert(delivered === Seq("a1"))
    assert(cost === CallProbe.Cost(jobs = 0, taskPartitions = Nil, fileBytes = 0L))
  }
}
