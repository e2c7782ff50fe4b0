package graft.store

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import scala.jdk.CollectionConverters._
import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.{hash, lit, pmod}

/** What a single-stream command costs on a saved-and-loaded log, and
  * the on-disk facts that cost depends on:
  *  - the first append runs at most one task, and appends after it run
  *    no job (no whole-log copy per commit, no partition per commit);
  *  - a stream read runs one task on its stream's partition of the
  *    in-memory base and reads no file;
  *  - a tail folded into the base still reads, compacts and flushes;
  *  - the bucket count travels with the log;
  *  - the `_current` pointer is never absent while it is republished.
  */
class EventLogCostSpec extends SparkSpec {

  private def freshStore(): EventStore = {
    val s = new EventStore(spark)
    s.now = () => new Timestamp(1700000000000L)
    s.registerDeciderEvent("Order", "OrderPlaced")
    s.registerDeciderEvent("Order", "OrderShipped")
    s
  }

  private def ev(id: String, deciderId: String, prev: Option[String] = None) =
    EventInput(if (prev.isEmpty) "OrderPlaced" else "OrderShipped", id, "Order",
      deciderId, """{"qty":1}""", previous_id = prev)

  /** The writer's bucket expression, evaluated by Spark itself. */
  private def writerBucket(deciderId: String, buckets: Int): Int =
    spark.range(1).select(pmod(hash(lit(deciderId)), lit(buckets))).head().getInt(0)

  /** Records every job's group and its largest stage's task count.
    * [[settle]] runs a marker job and waits until the listener has seen
    * it: the bus delivers in order, so every earlier job is recorded.
    */
  private final class JobLog extends SparkListener {
    val jobs = new ConcurrentLinkedQueue[(String, Int)]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.add((Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull,
        e.stageInfos.map(_.numTasks).max))
    def settle(): Unit = {
      spark.sparkContext.setJobGroup("settle", "settle")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 60000000000L
      while (!jobs.asScala.exists(_._1 == "settle") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(jobs.asScala.exists(_._1 == "settle"), "listener bus did not deliver the marker job")
    }
    def of(group: String): Seq[Int] = jobs.asScala.filter(_._1 == group).map(_._2).toSeq
  }

  private def inGroup[T](group: String)(f: => T): T = {
    spark.sparkContext.setJobGroup(group, group)
    try f finally spark.sparkContext.clearJobGroup()
  }

  test("chained appends on a loaded log: one job each, and tasks per job do not grow") {
    val s = freshStore()
    s.append((1 to 6).map(i => ev(s"seed-$i", s"order-$i")))
    val dir = Files.createTempDirectory("estore_cost").toString
    s.save(dir, buckets = 8)
    val s2 = new EventStore(spark)
    s2.load(dir)
    s2.now = () => new Timestamp(1700000000001L)
    val jobs = new JobLog
    spark.sparkContext.addSparkListener(jobs)
    try {
      var prev = "seed-1"
      (0 to 20).foreach { i =>
        val id = s"chain-$i"
        inGroup(s"append-$i")(assert(s2.appendEvent(ev(id, "order-1", Some(prev))).isRight))
        prev = id
      }
      jobs.settle()
      // load built the membership sketches: the first append learns its
      // stream's state from at most one task on the stream's partition,
      // and every later one validates on the driver with no job at all
      val first = jobs.of("append-0")
      assert(first.size <= 1 && first.forall(_ == 1), s"tasks of the first append's jobs: $first")
      val later = (1 to 20).map(i => jobs.of(s"append-$i"))
      assert(later.forall(_.isEmpty), s"jobs per append after the first: ${later.map(_.size)}")
    } finally spark.sparkContext.removeSparkListener(jobs)
    assert(s2.getEvents("order-1", "Order").collect().map(_.event_id).toSeq ===
      "seed-1" +: (0 to 20).map(i => s"chain-$i"))
  }

  test("a stream read lists exactly its bucket directory; an absent bucket reads empty") {
    val s = freshStore()
    s.append(Seq(ev("a1", "order-1"), ev("b1", "order-2")))
    val dir = Files.createTempDirectory("estore_bucketdir").toString
    s.save(dir, buckets = 8)
    val s2 = new EventStore(spark)
    s2.load(dir)
    val k = writerBucket("order-1", spark.sparkContext.defaultParallelism)
    val versionDir = EventStore.resolveEventsPath(dir, spark.sparkContext.hadoopConfiguration)
    val probe = CallProbe.start(spark)
    val scan = s2.getEvents("order-1", "Order")
    assert(scan.collect().map(_.event_id).toSeq === Seq("a1"))
    // one job of one task, on the stream's hash partition of the
    // in-memory base, reading no file
    assert(probe.stop() === CallProbe.Cost(jobs = 1, taskPartitions = Seq(k), fileBytes = 0L))

    // a stream whose bucket has no directory on disk
    val present = Files.list(Paths.get(versionDir)).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("bucket=")).toSet
    val absent = Iterator.from(3).map(i => s"order-$i")
      .find(id => !present(s"bucket=${writerBucket(id, 8)}")).get
    assert(s2.getEvents(absent, "Order").collect().isEmpty)
    assert(s2.getLastEvent(absent).isEmpty)
    // ...and its first events, still unflushed, read from the tail
    s2.now = () => new Timestamp(1700000000001L)
    s2.appendEvent(ev("c1", absent))
    s2.appendEvent(ev("c2", absent, Some("c1")))
    assert(s2.getEvents(absent, "Order").collect().map(_.event_id).toSeq === Seq("c1", "c2"))
    assert(s2.getLastEvent(absent).map(_.event_id) === Some("c2"))
  }

  test("a tail past TailMaxRows folds into the base; its unflushed rows still read, compact and flush") {
    val s = freshStore()
    s.appendEvent(ev("a0", "order-a"))
    val dir = Files.createTempDirectory("estore_fold").toString
    s.save(dir, buckets = 4)
    val n = EventStore.TailMaxRows + 100
    (1 to n).grouped(50).foreach(g =>
      assert(s.append(g.map(i => ev(s"a$i", "order-a", Some(s"a${i - 1}")))).rejected.isEmpty))
    val expected = (0 to n).map(i => s"a$i")
    assert(s.getEvents("order-a", "Order").collect().map(_.event_id).toSeq === expected)
    s.compact(dir) // the folded rows are unflushed: compact carries them
    assert(s.getEvents("order-a", "Order").collect().map(_.event_id).toSeq === expected)
    assert(s.getLastEvent("order-a").map(_.event_id) === Some(s"a$n"))
    assert(s.saveIncrement(dir) === n.toLong)
    val s2 = new EventStore(spark)
    s2.load(dir)
    assert(s2.maxOffset() === s.maxOffset())
    assert(s2.getEvents("order-a", "Order").collect().map(_.event_id).toSeq === expected)
  }

  test("the bucket count is stored with the log: load, saveIncrement and compact keep it") {
    val s = freshStore()
    val streams = (1 to 24).map(i => s"order-$i")
    s.append(streams.map(id => ev(s"$id-e1", id)))
    val dir = Files.createTempDirectory("estore_buckets").toString
    s.save(dir, buckets = 4)
    val s2 = new EventStore(spark)
    s2.load(dir) // default bucket argument
    streams.foreach { id =>
      assert(s2.getEvents(id, "Order").collect().map(_.event_id).toSeq === Seq(s"$id-e1"), id)
      assert(s2.getLastEvent(id).map(_.event_id) === Some(s"$id-e1"), id)
    }
    s2.now = () => new Timestamp(1700000000001L)
    streams.foreach(id => s2.appendEvent(ev(s"$id-e2", id, Some(s"$id-e1"))))
    assert(s2.saveIncrement(dir) === streams.size.toLong)
    def bucketDirs(): Set[String] = Files.list(Paths.get(
        EventStore.resolveEventsPath(dir, spark.sparkContext.hadoopConfiguration)))
      .iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("bucket=")).toSet
    assert(bucketDirs().subsetOf((0 until 4).map(b => s"bucket=$b").toSet), bucketDirs())
    s2.compact(dir)
    assert(bucketDirs().subsetOf((0 until 4).map(b => s"bucket=$b").toSet), bucketDirs())
    val s3 = new EventStore(spark)
    s3.load(dir)
    streams.foreach { id =>
      assert(s3.getEvents(id, "Order").collect().map(_.event_id).toSeq ===
        Seq(s"$id-e1", s"$id-e2"), id)
    }
  }

  test("a reader polling _current during 500 publishes never finds it absent") {
    val dir = Files.createTempDirectory("estore_pointer").toString
    val conf = spark.sparkContext.hadoopConfiguration
    EventStore.publishVersion(dir, "events_v1", conf)
    val ptr = Paths.get(dir, "_current")
    val done = new AtomicBoolean(false)
    val absent = new AtomicLong(0L)
    val polls = new AtomicLong(0L)
    val reader = new Thread(() => {
      while (!done.get()) {
        if (!Files.exists(ptr)) absent.incrementAndGet()
        polls.incrementAndGet()
      }
    })
    reader.start()
    try (2 to 501).foreach(n => EventStore.publishVersion(dir, s"events_v$n", conf))
    finally { done.set(true); reader.join() }
    assert(polls.get() > 0L)
    assert(absent.get() === 0L, s"pointer absent in ${absent.get()} of ${polls.get()} polls")
    assert(new String(Files.readAllBytes(ptr), "UTF-8") === "events_v501")
  }
}
