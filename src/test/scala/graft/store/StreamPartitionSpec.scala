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

    // a caught-up view; one new event leaves exactly one stream to deliver
    val vs = new ViewStreams(s2)
    vs.registerView("v", startAt = Some(new Timestamp(t0 + 3600000L)))
    s2.appendEvent(ev("order-5-e2", "order-5", Some("order-5-e1")))
    val probe = CallProbe.start(spark)
    val delivered = vs.streamEvents("v", limit = 16)
    val cost = probe.stop()
    assert(delivered.map(_.event_id) === Seq("order-5-e2"))
    assert(cost === CallProbe.Cost(jobs = 1,
      taskPartitions = Seq(CallProbe.hashPartition(spark, "order-5")), fileBytes = 0L))
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
