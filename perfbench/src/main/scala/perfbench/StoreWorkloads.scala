package perfbench

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
import scala.jdk.CollectionConverters._
import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.store._

/** What every workload gets from the runner. `fixture` holds
  * event_store's bootstrapped log (empty for the other workloads).
  */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int, sfDir: String, workDir: String,
                     fixture: String, tr: Tracer, out: Outcome)

/** One client command, generated from the seed before the window opens. */
final case class Cmd(stream: String, event: String, eventId: String, payload: String)

final case class Appended(stream: String, offset: Long, atNs: Long)
final case class Delivered(eventId: String, stream: String, offset: Long, atNs: Long, seq: Long)

/** Delivery bookkeeping shared by the store workloads: when each
  * accepted append returned, and every event each poll handed out.
  */
final class Deliveries {
  val appended = new ConcurrentHashMap[String, Appended]()
  private val delivered = new java.util.concurrent.ConcurrentLinkedQueue[Delivered]()
  private val seqs = new AtomicLong(0L)
  val polls = new AtomicLong(0L)
  val usefulPolls = new AtomicLong(0L)

  def noteAppend(r: EventRow, atNs: Long): Unit =
    appended.put(r.event_id, Appended(r.decider_id, r.offset, atNs))

  def notePoll(got: Seq[EventRow], atNs: Long): Unit = {
    polls.incrementAndGet()
    if (got.nonEmpty) usefulPolls.incrementAndGet()
    val s = seqs.incrementAndGet()
    got.foreach(e => delivered.add(Delivered(e.event_id, e.decider_id, e.offset, atNs, s)))
  }

  def all: Seq[Delivered] = delivered.asScala.toSeq

  /** First delivery of each event. */
  def firsts: Map[String, Delivered] =
    all.groupBy(_.eventId).map { case (k, ds) => k -> ds.minBy(_.seq) }

  def allAppendedDelivered: Boolean = {
    val got = all.map(_.eventId).toSet
    appended.keySet.asScala.forall(got)
  }

  /** Fills the outcome's lag samples and delivery counters and runs the
    * delivery check: every accepted append delivered at least once,
    * and each stream's first deliveries in offset order.
    *
    * Deliveries are counted from the window's start (`startNs`) to the
    * return of the last accepted append, not to the end of the window:
    * the producers' trailing flush and compaction leave the consumer
    * time to catch up, so a slow consumer shows only before that point.
    */
  def report(out: Outcome, startNs: Long): Unit = {
    val first = firsts
    appended.asScala.foreach { case (id, a) =>
      first.get(id).foreach(d => out.lag.add(math.max(0L, d.atNs - a.atNs) / 1e6))
    }
    if (!appended.isEmpty) {
      val lastAppendNs = appended.values.asScala.map(_.atNs).max
      out.delivered = first.values.count(d => appended.containsKey(d.eventId) && d.atNs <= lastAppendNs)
      out.deliveryWindowS = (lastAppendNs - startNs) / 1e9
    }
    out.counters.put("ViewStreams.streamEvents.redelivered", (all.size - first.size).toDouble)
    out.counters.put("ViewStreams.streamEvents.useful_ratio",
      if (polls.get == 0) 0.0 else usefulPolls.get.toDouble / polls.get)
    out.check("delivery") {
      val missing = appended.keySet.asScala.count(id => !first.contains(id))
      val disordered = first.values.groupBy(_.stream).count { case (_, ds) =>
        val offs = ds.toSeq.sortBy(_.seq).map(_.offset)
        offs.zip(offs.drop(1)).exists { case (a, b) => b <= a }
      }
      if (missing > 0 || disordered > 0)
        Some(s"$missing accepted appends never delivered, $disordered streams out of offset order")
      else None
    }
  }
}

object StoreInputs {
  val Decider = "User"

  /** The sf events table as event-store input: decider `User`,
    * decider_id = user_id, event = event_type, each user's events
    * chained by ts through previous_id.
    */
  def fromEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = graft.Tables.events(spark, sfDir)
    val id = concat(lit("ev-"), col("event_id"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    ev.select(col("event_type").as("event"), id.as("event_id"), lit(1L).as("event_version"),
      lit(Decider).as("decider"), col("user_id").cast("string").as("decider_id"),
      to_json(struct(col("value"), col("props"))).as("data"),
      lit(null).cast("string").as("command_id"), lag(id, 1).over(w).as("previous_id"),
      lit(false).as("is_final"), col("ts").as("created_at"))
  }

  private val Alnum = ('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9')

  /** About 1 KB of JSON per event. */
  def payload(rng: Random, i: Int): String = {
    val note = new StringBuilder(1000)
    (0 until 1000).foreach(_ => note += Alnum(rng.nextInt(Alnum.size)))
    s"""{"seq":$i,"note":"$note"}"""
  }

  /** Event count and client-supplied bytes of a log (the UTF-8 length
    * of every client-set field), in one scan.
    */
  def countAndUserBytes(ds: org.apache.spark.sql.Dataset[EventRow]): (Long, Long) = {
    val fields = Seq("event", "event_id", "decider", "decider_id", "data", "command_id", "previous_id")
    val r = ds.toDF()
      .select(fields.map(c => coalesce(octet_length(col(c)), lit(0)).cast("long")).reduce(_ + _).as("b"))
      .agg(count(lit(1)), coalesce(sum(col("b")), lit(0L))).collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  /** Runs `body(i)` on a new thread per name and waits for all of them. */
  def runThreads(names: Seq[String])(body: Int => Unit): Unit = {
    val err = new AtomicReference[Throwable](null)
    val ts = names.zipWithIndex.map { case (n, i) =>
      val t = new Thread(() => try body(i) catch { case e: Throwable => err.compareAndSet(null, e); () }, n)
      t.start(); t
    }
    ts.foreach(_.join())
    Option(err.get).foreach(e => throw e)
  }
}

/** `event_store`: a restarted single-writer service on the bulk-loaded
  * sf events log. Set-up copies the log that `bootstrap` saved and
  * loads it into a fresh store. One producer thread runs commands (read
  * the stream, append one event chained on its last event) and the
  * flush policy; one consumer thread polls a caught-up projection and
  * acks.
  *
  * The producer works in whole flush-policy blocks (8 commands, 2
  * flushes, 1 compact), and starts another block only when one more
  * block of the last one's length still ends within --seconds, so every
  * run measures the same mix of commands and maintenance.
  */
object EventStoreWorkload {
  val FlushEveryCommands = 4
  val CompactEveryFlushes = 2
  val PollLimit = 16
  val BackoffMs = 50L
  val View = "projection"
  val HotShare = 0.75
  val NewStreamShare = 0.05

  /** Bulk-ingest the events table and save it under `dir/log`; writes
    * the accepted count to `dir/ingested`. run.py calls this once per
    * build and data set and copies the result into every run.
    */
  def bootstrap(spark: SparkSession, sfDir: String, dir: String): Unit = {
    val src = StoreInputs.fromEvents(spark, sfDir)
    val boot = new EventStore(spark)
    src.select("event").distinct().collect().map(_.getString(0)).sorted
      .foreach(boot.registerDeciderEvent(StoreInputs.Decider, _))
    val ingested = BulkIngest.ingest(boot, src)
    require(ingested.rejected == 0, s"bulk ingest rejected ${ingested.rejected} events")
    boot.save(s"$dir/log")
    Files.write(Paths.get(dir, "ingested"), ingested.accepted.toString.getBytes("UTF-8"))
  }

  def run(c: Ctx): Unit = {
    import c._
    val logDir = s"$workDir/log"
    val journalDir = s"$workDir/journal"

    // The bulk-ingested log, as saved by `bootstrap`.
    require(Files.exists(Paths.get(fixture, "ingested")), s"no bootstrapped log under $fixture")
    Disk.copyTree(Paths.get(fixture, "log"), Paths.get(logDir))
    val ingested = new String(Files.readAllBytes(Paths.get(fixture, "ingested")), "UTF-8").trim.toLong
    val ev = graft.Tables.events(spark, sfDir)
    val types = ev.select("event_type").distinct().collect().map(_.getString(0)).sorted.toIndexedSeq
    val streams = ev.select(col("user_id").cast("string")).distinct().collect().map(_.getString(0)).sorted.toIndexedSeq

    // Restart: a fresh store loads the log (no fast-append re-arm), and
    // a durable control plane serves one caught-up projection.
    val store = new EventStore(spark)
    store.load(logDir)
    require(store.maxOffset() == ingested, s"loaded head ${store.maxOffset()}, bootstrapped $ingested events")
    val vs = new ViewStreams(store)
    vs.openJournal(journalDir)
    vs.registerView(View)

    val rng = new Random(seed)
    val hot = rng.shuffle(streams).take(math.max(1, streams.size / 10))
    val cmds = (0 until 400).map { i =>
      val r = rng.nextDouble()
      val stream =
        if (r < NewStreamShare) s"new-$seed-$i"
        else if (r < NewStreamShare + HotShare) hot(rng.nextInt(hot.size))
        else streams(rng.nextInt(streams.size))
      Cmd(stream, types(rng.nextInt(types.size)), s"pb-$seed-$i", StoreInputs.payload(rng, i))
    }

    val dl = new Deliveries
    val rejected = new AtomicLong(0L)
    val accepted = new AtomicLong(0L)
    val ends = new ConcurrentHashMap[Int, Long]()
    val startNs = out.markStart()
    val deadline = startNs + seconds * 1000000000L

    def poll(timed: Boolean): Int = {
      out.attempt()
      val t0 = System.nanoTime()
      val got =
        try tr("poll") {
          val g = tr("ViewStreams.streamEvents")(vs.streamEvents(View, PollLimit))
          tr("ViewStreams.ackBatch")(vs.ackBatch(View, g.map(e => (e.decider_id, e.offset))))
          g
        }
        catch { case e: Exception => out.fail(s"poll:exception:${e.getClass.getSimpleName}"); Nil }
      val t1 = System.nanoTime()
      if (timed) out.poll.add((t1 - t0) / 1e6)
      dl.notePoll(got, t1)
      got.size
    }

    StoreInputs.runThreads(Seq("producer", "consumer")) {
      case 0 =>
        val block = FlushEveryCommands * CompactEveryFlushes
        var i = 0
        var flushes = 0
        var blockStart = startNs
        var blockNs = 0L
        def anotherBlock: Boolean = {
          val now = System.nanoTime()
          if (i > 0) { blockNs = now - blockStart; blockStart = now }
          now + blockNs <= deadline
        }
        while ((i % block != 0 || anotherBlock) && i < cmds.size) {
          val cmd = cmds(i)
          i += 1
          out.attempt()
          val t0 = System.nanoTime()
          try {
            val res = tr("command") {
              val evs = tr("EventStore.getEvents")(store.getEvents(cmd.stream, StoreInputs.Decider).collect())
              tr("EventStore.appendEvent")(store.appendEvent(EventInput(cmd.event, cmd.eventId,
                StoreInputs.Decider, cmd.stream, cmd.payload, previous_id = evs.lastOption.map(_.event_id))))
            }
            val t1 = System.nanoTime()
            out.op.add((t1 - t0) / 1e6)
            res match {
              case Right(row) => dl.noteAppend(row, t1); accepted.incrementAndGet()
              case Left(err) =>
                rejected.incrementAndGet()
                out.fail(s"command:rejected:${err.getClass.getSimpleName}")
            }
          } catch { case e: Exception => out.fail(s"command:exception:${e.getClass.getSimpleName}") }
          if (i % FlushEveryCommands == 0) {
            out.attempt()
            try tr("flush") {
              tr("EventStore.saveIncrement")(store.saveIncrement(logDir))
              flushes += 1
              if (flushes % CompactEveryFlushes == 0) tr("EventStore.compact")(store.compact(logDir))
            } catch { case e: Exception => out.fail(s"flush:exception:${e.getClass.getSimpleName}") }
            out.noteHeap(Heap.afterGcMb(settleMs = 300L))
          }
        }
        ends.put(0, System.nanoTime())
      case _ =>
        while (!ends.containsKey(0))
          if (poll(timed = true) == 0) Thread.sleep(BackoffMs)
        ends.put(1, System.nanoTime())
    }
    val endNs = ends.values.asScala.max
    out.markEnd(startNs, endNs)
    out.opsDone = accepted.get
    out.noteHeap(Heap.afterGcMb())

    // Outside the window: let the consumer catch up, then check.
    val drainDeadline = System.nanoTime() + 30000000000L
    while (!dl.allAppendedDelivered && System.nanoTime() < drainDeadline)
      if (poll(timed = false) == 0) Thread.sleep(BackoffMs)
    dl.report(out, startNs)
    out.counters.put("EventStore.appendEvent.rejected", rejected.get.toDouble)
    out.check("chain") {
      val v = BulkIngest.chainViolations(store).limit(5).collect()
      if (v.isEmpty) None else Some(s"chain violations: ${v.map(_.mkString("|")).mkString("; ")}")
    }
    store.saveIncrement(logDir)
    val fresh = new EventStore(spark)
    fresh.load(logDir)
    out.check("reload") {
      val expect = ingested + accepted.get
      val (n, bytes) = StoreInputs.countAndUserBytes(fresh.allEvents)
      out.userBytes = bytes
      if (fresh.maxOffset() == store.maxOffset() && n == expect) None
      else Some(s"reloaded head ${fresh.maxOffset()} / ${n} events, expected ${store.maxOffset()} / $expect")
    }
    vs.closeJournal()
    out.diskBytes = Disk.bytesUnder(Seq(logDir, journalDir))
  }
}

/** `shared_log`: two service replicas in one process on one fresh
  * SharedLog directory and one SharedJournal directory. Each replica
  * runs a producer (read a stream head, append; a lost head race is
  * resynced and retried) and a consumer (resync, poll, ack). The two
  * producers' stream sets overlap, so head races are real.
  */
object SharedLogWorkload {
  val Streams = 24
  val StreamsPerReplica = 16
  val PollLimit = 16
  /** Longer than event_store's: an empty shared poll is not free (it
    * takes the journal mutex and replays the lanes), and at 50 ms the
    * two consumers' mutex traffic made the producers' latency swing by
    * a quarter from run to run.
    */
  val BackoffMs = 200L
  val MaxRetries = 50
  val View = "projection"
  val Types: IndexedSeq[String] = IndexedSeq("click", "purchase", "signup", "view")

  def run(c: Ctx): Unit = {
    import c._
    val logDir = s"$workDir/sharedlog"
    val journalDir = s"$workDir/sharedjournal"
    val replicas = Seq("a", "b")
    val logs = replicas.map(r => new SharedLog(spark, logDir, s"writer-$r"))
    logs.foreach(_.open())
    Types.foreach(t => logs.head.registerDeciderEvent(StoreInputs.Decider, t))
    logs.foreach(_.resync())
    val vss = logs.zip(replicas).map { case (l, r) =>
      val v = new ViewStreams(l.eventStore)
      v.openSharedJournal(journalDir, ownerId = s"consumer-$r")
      v
    }
    vss.head.registerView(View, startAt = Some(new Timestamp(0L)))
    vss.foreach(_.allViews.count()) // every replica has seen the view before the first append

    val rng = new Random(seed)
    val cmds = replicas.indices.map { k =>
      val lo = k * (Streams - StreamsPerReplica)
      (0 until 1000).map { i =>
        Cmd(s"s${lo + rng.nextInt(StreamsPerReplica)}", Types(rng.nextInt(Types.size)),
          s"pb-$seed-${replicas(k)}-$i", StoreInputs.payload(rng, i))
      }
    }

    val dl = new Deliveries
    val retries = new AtomicLong(0L)
    val accepted = new AtomicLong(0L)
    val ends = new ConcurrentHashMap[Int, Long]()
    val startNs = out.markStart()
    val deadline = startNs + seconds * 1000000000L

    def poll(k: Int, timed: Boolean): Int = {
      out.attempt()
      val t0 = System.nanoTime()
      val got =
        try tr("poll") {
          tr("SharedLog.resync")(logs(k).resync())
          val g = tr("ViewStreams.streamEvents")(vss(k).streamEvents(View, PollLimit))
          tr("ViewStreams.ackBatch")(vss(k).ackBatch(View, g.map(e => (e.decider_id, e.offset))))
          g
        }
        catch { case e: Exception => out.fail(s"poll:exception:${e.getClass.getSimpleName}"); Nil }
      val t1 = System.nanoTime()
      if (timed) out.poll.add((t1 - t0) / 1e6)
      dl.notePoll(got, t1)
      got.size
    }

    def produce(k: Int): Unit = {
      val log = logs(k)
      var i = 0
      while (System.nanoTime() < deadline && i < cmds(k).size) {
        val cmd = cmds(k)(i)
        i += 1
        out.attempt()
        val t0 = System.nanoTime()
        try {
          val row = tr("command") {
            var result: Option[EventRow] = None
            var tries = 0
            while (result.isEmpty && tries <= MaxRetries) {
              val head = tr("SharedLog.getEvents")(log.getEvents(cmd.stream, StoreInputs.Decider).collect()).lastOption
              val res = tr("SharedLog.append")(log.append(Seq(EventInput(cmd.event, cmd.eventId,
                StoreInputs.Decider, cmd.stream, cmd.payload, previous_id = head.map(_.event_id)))))
              res.rejected.headOption match {
                case None => result = res.accepted.headOption
                case Some(_: AppendError.DuplicatePreviousId | _: AppendError.NullPreviousOnNonFirst) =>
                  // lost the head race to the other replica: catch up, retry
                  retries.incrementAndGet()
                  tries += 1
                  tr("SharedLog.resync")(log.resync())
                case Some(other) =>
                  out.fail(s"command:rejected:${other.getClass.getSimpleName}")
                  tries = MaxRetries + 1
              }
            }
            if (result.isEmpty && tries > MaxRetries) out.fail("command:retries-exhausted")
            result
          }
          val t1 = System.nanoTime()
          out.op.add((t1 - t0) / 1e6)
          row.foreach { r => dl.noteAppend(r, t1); accepted.incrementAndGet() }
        } catch { case e: Exception => out.fail(s"command:exception:${e.getClass.getSimpleName}") }
      }
    }

    StoreInputs.runThreads(Seq("producer-a", "consumer-a", "producer-b", "consumer-b")) { t =>
      val k = t / 2
      if (t % 2 == 0) produce(k)
      else while (System.nanoTime() < deadline)
        if (poll(k, timed = true) == 0) Thread.sleep(BackoffMs)
      ends.put(t, System.nanoTime())
    }
    val endNs = ends.values.asScala.max
    out.markEnd(startNs, endNs)
    out.opsDone = accepted.get
    out.noteHeap(Heap.afterGcMb())

    val drainDeadline = System.nanoTime() + 30000000000L
    var turn = 0
    while (!dl.allAppendedDelivered && System.nanoTime() < drainDeadline) {
      if (poll(turn % 2, timed = false) == 0) Thread.sleep(BackoffMs)
      turn += 1
    }
    dl.report(out, startNs)
    out.counters.put("SharedLog.append.retries", retries.get.toDouble)
    logs.foreach(_.resync())
    out.check("converge") {
      val views = logs.map(_.allEvents.toDF().select("offset", "event_id").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet)
      val heads = logs.map(_.maxOffset())
      if (views.distinct.size == 1 && heads.distinct.size == 1) None
      else Some(s"replicas differ: heads ${heads.mkString("/")}, sizes ${views.map(_.size).mkString("/")}")
    }
    out.check("chain") {
      val v = BulkIngest.chainViolations(logs.head.eventStore).limit(5).collect()
      if (v.isEmpty) None else Some(s"chain violations: ${v.map(_.mkString("|")).mkString("; ")}")
    }
    vss.foreach(_.closeSharedJournal())
    out.userBytes = StoreInputs.countAndUserBytes(logs.head.allEvents)._2
    out.diskBytes = Disk.bytesUnder(Seq(logDir, journalDir))
  }
}
