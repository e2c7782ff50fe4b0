package graft.store

import java.sql.Timestamp
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Dataset, SparkSession}
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Multi-PROCESS event-log producers — the last reference parity gap:
  * PostgreSQL accepts appends from N independent connections and
  * serializes head races via UNIQUE(previous_id)/UNIQUE(event_id)
  * (reference schema.sql:23-26,44; proven concurrent by
  * tests/integration/concurrent-access/test_concurrent_producers.sql).
  * [[EventStore]] gives those semantics to N threads of ONE process
  * (commitLock); [[EventStore.acquireLogWriter]]'s lease deliberately
  * admits a single at-rest log writer. This class completes the
  * producer half the way [[SharedJournal]] completed the consumer half:
  *
  *  - **Commit sequence as the log's shared truth**: the log at `dir`
  *    IS an ordered sequence of manifests `commits/<seq>.json`, each
  *    naming an immutable parquet data file under `data/` (events
  *    batch), a schema registration, or a compacted base. Writers
  *    never rewrite anything — publish is one atomic create-exclusive.
  *  - **Serialized validate-and-commit**: append runs under a
  *    cross-process TTL mutex ([[FsMutex]]): resync (fold rivals'
  *    commits into the local [[EventStore]]), validate through the
  *    store's untouched reference pipeline, write the data file, and
  *    publish the manifest. Two producers racing the same stream head
  *    therefore serialize exactly like the reference's row locks: the
  *    loser validates AFTER the winner's commit and sees its
  *    previous_id already claimed → DuplicatePreviousId — the UNIQUE
  *    constraint identity, enforced at merge.
  *  - **Zombie fencing**: a writer whose mutex TTL expired mid-commit
  *    hits the create-exclusive wall (a successor already published
  *    that seq), rebuilds its local state from the shared truth, and
  *    throws — no torn or lost commit can enter the sequence.
  *  - **Global offsets and txn ids without a coordinator**: each
  *    append resyncs first, so the local head equals the shared head
  *    when offsets are assigned; the txn counter advances once per
  *    folded commit, so ids stay globally unique and monotone along
  *    the commit sequence.
  *
  * Scale notes (100 TB): the mutex guards driver-side control flow +
  * the batch's own validation/write jobs — parallelism lives INSIDE
  * the batch (the store's validation joins distribute), which is the
  * single-process story and the reference's own model (one xact
  * commits a batch at a time; producers across processes serialize on
  * conflicting heads). Resync cost is proportional to NEW commits
  * only; manifests are immutable so listing is mutex-free.
  * [[compact]] folds the sequence into an offset-sorted base
  * (maintenance, data-proportional, like EventStore.compact) and
  * [[vacuum]] retires superseded files under the documented
  * reader-lifetime contract.
  */
final class SharedLog(val spark: SparkSession,
                      dirStr: String,
                      val writerId: String,
                      mutexTtlMs: Long = 30000L) {
  import SharedLog._
  import spark.implicits._

  require(writerId.matches("""[A-Za-z0-9._\-]+"""),
    s"writerId '$writerId' must be filesystem-safe (data file prefix)")

  private val conf = spark.sparkContext.hadoopConfiguration
  private val dir = new Path(dirStr)
  private val fs = FileSystem.get(dir.toUri, conf)
  private val commitsDir = new Path(dir, "commits")

  /** Injectable clock (deterministic created_at + mutex TTL in tests). */
  @volatile var now: () => Timestamp = () => new Timestamp(System.currentTimeMillis())

  private val mutex = new FsMutex(dir, fs, writerId, () => now(), mutexTtlMs, "_logmutex-")
  private var store: EventStore = null
  private var lastSeen: Long = 0L

  /** Join the shared log: materialize local state from the latest
    * compacted base plus every later commit.
    */
  def open(): Unit = synchronized {
    fs.mkdirs(commitsDir)
    fs.mkdirs(new Path(dir, "data"))
    rebuild()
  }

  /** The local [[EventStore]] replica — wire ViewStreams/delivery to
    * it; its onCommit fanout fires for rivals' commits folded by
    * [[resync]] too (cross-process append fanout).
    */
  def eventStore: EventStore = synchronized(store)

  // ------------------------------------------------------------------
  // Producer API (reference register_decider_event / append_event)

  def registerDeciderEvent(decider: String, event: String,
                           eventVersion: Long = 1L,
                           description: Option[String] = None): DeciderRegistration =
    mutex.withLock(synchronized {
      resyncLocked()
      val row = store.registerDeciderEvent(decider, event, eventVersion, description)
      publish(lastSeen + 1, LogCommit(kind = "register", writer = writerId,
        decider = decider, event = event, eventVersion = eventVersion,
        description = description))
      row
    })

  def appendEvent(in: EventInput): Either[AppendError, EventRow] = {
    val r = append(Seq(in))
    r.rejected.headOption.toLeft(r.accepted.head)
  }

  /** Batch append with the full reference validation semantics,
    * serialized against every other PROCESS's appends (see class doc).
    *
    * The store's onCommit fanout is DEFERRED until the manifest
    * publish succeeds: the local commit only becomes shared truth at
    * publish, and if publish loses the race (mutex TTL expired
    * mid-commit) [[rebuild]] discards the batch — but a fanout that
    * already fired cannot be unfired, so a concurrent drain thread in
    * this process could lease phantom events at offsets a rival's
    * different events later occupy (a lost-delivery path). Suppressing
    * the hook across validate+commit and firing it post-publish makes
    * fanout-order equal commit-sequence order.
    */
  def append(batch: Seq[EventInput]): AppendResult =
    mutex.withLock(synchronized {
      resyncLocked()
      val hook = store.onCommit
      store.onCommit = _ => ()
      val res =
        try store.append(batch)
        finally store.onCommit = hook
      if (res.accepted.nonEmpty) {
        val seq = lastSeen + 1
        val file = f"data/$writerId-$seq%020d.parquet"
        res.accepted.toDS().coalesce(1)
          .write.mode("overwrite").parquet(new Path(dir, file).toString)
        // throws after rebuild() on a lost race — the fanout below
        // then never fires for the discarded batch
        publish(seq, LogCommit(kind = "events", writer = writerId, file = file,
          minOffset = res.accepted.head.offset, maxOffset = res.accepted.last.offset,
          count = res.accepted.size.toLong))
        hook(res.accepted)
      }
      res
    })

  // ------------------------------------------------------------------
  // Reads (explicit-resync model, like SharedJournal consumers)

  /** Fold rivals' commits published since our last look into the local
    * store. Mutex-FREE by design: manifests are immutable once
    * created-exclusively, and the sequence only grows — a commit
    * landing mid-listing is simply picked up next time.
    */
  def resync(): Unit = synchronized(resyncLocked())

  def allEvents: Dataset[EventRow] = synchronized(store.allEvents)

  def getEvents(deciderId: String, decider: String): Dataset[EventRow] =
    synchronized(store.getEvents(deciderId, decider))

  def getLastEvent(deciderId: String): Option[EventRow] =
    synchronized(store.getLastEvent(deciderId))

  def maxOffset(): Long = synchronized(store.maxOffset())

  def deciderRegistry: Dataset[DeciderRegistration] =
    synchronized(store.deciderRegistry)

  // ------------------------------------------------------------------
  // Maintenance

  /** Fold the whole commit sequence into one offset-sorted parquet
    * base (manifest kind "compact", carrying the registry snapshot).
    * Live readers treat it as a no-op (they already hold its offsets);
    * a fresh [[open]] starts from the newest base instead of replaying
    * history. Data-proportional maintenance, like EventStore.compact.
    */
  def compact(): Unit = mutex.withLock(synchronized {
    resyncLocked()
    val seq = lastSeen + 1
    val file = f"data/$writerId-base-$seq%020d.parquet"
    store.allEvents.toDF().orderBy("offset")
      .write.mode("overwrite").parquet(new Path(dir, file).toString)
    val regs = store.deciderRegistry.collect().toSeq // dimension-sized
    publish(seq, LogCommit(kind = "compact", writer = writerId, file = file,
      maxOffset = store.maxOffset(), count = store.allEvents.count(),
      deciders = regs.map(r =>
        JDecider(r.decider, r.event, r.event_version, r.description))))
  })

  /** Delete manifests and data files superseded by the LATEST compact
    * entry. Reader-lifetime contract (the publishVersion retainDepth
    * analogue): every live reader must resync at least once between
    * [[compact]] and vacuum; one that missed the window hits a missing
    * file on its next resync and recovers by a full [[rebuild]] from
    * the base — correct, just costlier.
    */
  def vacuum(): Unit = mutex.withLock(synchronized {
    resyncLocked()
    val seqs = commitSeqs()
    val baseAt = seqs.reverse.find(s => readCommit(s).exists(_.kind == "compact"))
    baseAt.foreach { b =>
      seqs.filter(_ < b).foreach { s =>
        readCommit(s).foreach { m =>
          if (m.file.nonEmpty) fs.delete(new Path(dir, m.file), true)
        }
        fs.delete(commitPath(s), false)
      }
      manifestCache.filterInPlace { case (s, _) => s >= b }
    }
  })

  // ------------------------------------------------------------------
  // Internals

  private def resyncLocked(): Unit = {
    val seqs = commitSeqs().filter(_ > lastSeen)
    var i = 0
    var recovered = false
    while (i < seqs.length && !recovered) {
      val s = seqs(i)
      readCommit(s) match {
        case Some(m) if m.kind == "compact" && store.maxOffset() < m.maxOffset =>
          // LAGGING reader meeting a compact: the commits between our
          // head and the base may already be vacuumed — and vacuumed
          // seqs simply vanish from the listing, so no missing-file
          // error would ever fire. The base is the shared truth;
          // rebuild from it. (A caught-up reader skips the manifest —
          // it already holds every offset ≤ maxOffset.)
          rebuild(); recovered = true
        case Some(m) =>
          try { applyCommit(m); lastSeen = s }
          catch {
            // data file vacuumed beneath a lagging reader: the
            // documented recovery is a rebuild from the compacted base.
            // NonFatal, not just AnalysisException — a file deleted
            // between plan resolution and execution surfaces as
            // SparkException / FileNotFoundException instead. A
            // genuine bug rethrows from rebuild's own unguarded
            // applyCommit, so this cannot mask one silently.
            case scala.util.control.NonFatal(_) =>
              rebuild(); recovered = true
          }
        case None =>
          // manifest GC'd mid-listing (vacuum passed our position)
          rebuild(); recovered = true
      }
      i += 1
    }
  }

  private def applyCommit(m: LogCommit): Unit = m.kind match {
    case "register" =>
      store.registerDeciderEvent(m.decider, m.event, m.eventVersion, m.description)
      ()
    case "events" =>
      val ds = spark.read.parquet(new Path(dir, m.file).toString).as[EventRow]
      // driver-bounded commits fold through the driver so the local
      // replica's membership sketches stay COMPLETE — the append fast
      // path keeps working in shared mode; big bulk commits take the
      // distributed fold (which conservatively drops the sketches)
      if (m.count > 0 && m.count <= EventStore.SmallBatchMax)
        store.commitReplicated(ds.collect().toSeq.sortBy(_.offset))
      else { store.commitBulk(ds); () }
    case "compact" =>
      // a live reader already holds every offset ≤ m.maxOffset
      ()
    case other => throw new IllegalStateException(s"unknown commit kind '$other'")
  }

  /** Rebuild local state from the shared truth: newest compacted base
    * (events + registry snapshot), then every later commit in order.
    */
  private def rebuild(): Unit = {
    // carry the fanout wiring over to the replacement store — a
    // rebuild beneath a wired delivery layer must keep firing for
    // commits folded after it (the refold of already-seen history is
    // at-least-once noise; the M1 head upsert is idempotent)
    val hook = if (store != null) store.onCommit else null
    store = new EventStore(spark)
    if (hook != null) store.onCommit = hook
    store.now = () => now()
    lastSeen = 0L
    val seqs = commitSeqs()
    val base = seqs.reverse.iterator
      .map(s => s -> readCommit(s))
      .collectFirst { case (s, Some(m)) if m.kind == "compact" => (s, m) }
    base.foreach { case (s, m) =>
      m.deciders.foreach(d =>
        store.registerDeciderEvent(d.decider, d.event, d.event_version, d.description))
      store.commitBulk(
        spark.read.parquet(new Path(dir, m.file).toString).as[EventRow])
      lastSeen = s
    }
    seqs.filter(_ > lastSeen).foreach { s =>
      readCommit(s).foreach(applyCommit)
      lastSeen = s
    }
    // one commitBulk bump per FOLDED commit under-counts through a
    // base: re-seat the txn counter from the data's own max
    val maxTxn = store.allEvents.toDF()
      .agg(org.apache.spark.sql.functions.max($"transaction_id")).collect()
      .headOption.flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Long])).getOrElse(0L)
    store.ensureTxnPast(maxTxn)
  }

  /** Atomic create-exclusive publish — the hard fence. Failing it
    * means our mutex TTL expired mid-commit and a successor already
    * published this seq: rebuild from the shared truth and throw.
    */
  private def publish(seq: Long, c: LogCommit): Unit = {
    if (!AtomicFs.createExclusive(fs, commitPath(seq),
          mapper.writeValueAsBytes(c), writerId)) {
      rebuild()
      throw new ControlJournal.OwnershipHeldException(
        s"writer '$writerId' lost the commit race at seq $seq " +
          "(mutex TTL expired mid-commit); local state rebuilt from the shared log")
    }
    lastSeen = seq
  }

  private def commitPath(s: Long): Path = new Path(commitsDir, f"$s%020d.json")

  private def commitSeqs(): Seq[Long] =
    AtomicFs.list(fs, commitsDir).map(_.getPath.getName)
      .collect { case CommitName(d) => d.toLong }.sorted

  /** Manifests are immutable; cache parsed ones (resync then pays one
    * listing + reads of NEW manifests only — the SharedJournal entry-
    * cache pattern).
    */
  private val manifestCache = scala.collection.mutable.HashMap.empty[Long, LogCommit]

  private def readCommit(s: Long): Option[LogCommit] =
    manifestCache.get(s).orElse {
      try {
        val in = fs.open(commitPath(s))
        val m = try mapper.readValue(
          org.apache.commons.io.IOUtils.toByteArray(in), classOf[LogCommit])
        finally in.close()
        manifestCache.update(s, m)
        Some(m)
      } catch { case _: java.io.FileNotFoundException => None }
    }
}

object SharedLog {
  private val CommitName = """(\d{20})\.json""".r

  /** One entry of the commit sequence. `kind`: "events" (a validated
    * batch in `file`, offsets [minOffset, maxOffset]), "register" (a
    * schema registration), or "compact" (a folded base in `file` up to
    * `maxOffset`, with the registry snapshot in `deciders`).
    */
  final case class LogCommit(kind: String,
                             writer: String,
                             file: String = "",
                             minOffset: Long = 0L,
                             maxOffset: Long = 0L,
                             count: Long = 0L,
                             decider: String = "",
                             event: String = "",
                             eventVersion: Long = 1L,
                             description: Option[String] = None,
                             deciders: Seq[JDecider] = Nil)

  final case class JDecider(decider: String, event: String,
                            event_version: Long, description: Option[String])

  private val mapper: ObjectMapper = {
    val m = new ObjectMapper()
    m.registerModule(DefaultScalaModule)
    m
  }
}
