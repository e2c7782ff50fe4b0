package graft.store

import java.sql.Timestamp
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** The control-plane write-ahead log for the streaming layer's
  * `views` / `locks` state (reference schema.sql:157-200, 436-468) —
  * both the multi-writer journal and, with ONE lane, the single-writer
  * [[ControlJournal]].
  *
  * The reference gets durability for free: every ACK/lease mutation is
  * one PostgreSQL transaction against the `locks` table. Here the
  * control plane is driver-resident keyed state (ViewStreams), so each
  * mutation is one journal entry, and N live consumers can SHARE one
  * view's partitions, the reference's `FOR UPDATE SKIP LOCKED`
  * semantics (schema.sql:405-417; proven concurrent by
  * tests/integration/concurrent-access/test_lock_contention.sql:41-48
  * — two sessions streaming one view split its partitions and never
  * double-deliver):
  *
  *  - **Per-writer lanes**: each live consumer appends its mutations
  *    to its own `lanes/<writerId>/<seq>.json` sequence (atomically
  *    created files, zero-padded for lexicographic order; no append
  *    semantics required, so the layout works on object stores) — no
  *    write ever contends with another writer's, so there is nothing
  *    to clobber (the failure mode a shared sequence would
  *    reintroduce). A one-lane journal keeps its entries at
  *    `<dir>/<seq>.json`; its single writer is fenced by a lease.
  *  - **Merged replay**: fold the latest snapshot plus every lane's
  *    later entries ordered by (writer clock, lane, seq), applied with
  *    [[ControlJournal.applyRecord]]'s field-scoped semantics. Entries
  *    carry the RESULTING rows, so replay is a pure fold — it never
  *    re-runs Spark jobs. The hot mutations are made ORDER-TOLERANT:
  *    head offsets and ACKed offsets advance by monotone max,
  *    lease/nack set only `locked_until` — so cross-lane clock skew can
  *    at worst delay a redelivery (at-least-once), never lose an ACK or
  *    a head.
  *  - **Candidate-selection mutex**: `SKIP LOCKED`'s atomicity lives
  *    in stage 1+2 of the delivery pipeline (pick unleased lagging
  *    partitions, lease them). Cross-process, that critical section
  *    runs under a short-TTL [[FsMutex]] — crash-mid-mutex recovers by
  *    TTL expiry. ACK/NACK need no mutex: the delivery lease makes the
  *    acking writer the partition's sole mutator (exactly the
  *    reference's model, where ack_event updates a row only the
  *    acker's session holds).
  *  - **Checkpoint**: `snapshot-<n>.json` carries the merged state
  *    plus per-lane high-water marks; folded lane entries and older
  *    snapshots are deleted (under the mutex). Growth is bounded by
  *    mutation rate between checkpoints.
  *
  * Scale note (100 TB deployment): everything here is control-plane
  * sized — lanes carry the same rows the reference writes per
  * transaction, and the mutex guards an O(limit) map scan, never a
  * Spark job. Partition-level delivery parallelism is unlimited (leases
  * are per (view, decider_id)); the mutex serializes only candidate
  * SELECTION, as the reference's row-lock scan does.
  */
final class SharedJournal private[store] (dirStr: String,
                                          conf: Configuration,
                                          val writerId: String,
                                          clock: () => Timestamp,
                                          mutexTtlMs: Long,
                                          val compactThreshold: Int,
                                          oneLane: Boolean) {
  import ControlJournal.{Record, JView, JLock}
  import SharedJournal._

  def this(dirStr: String, conf: Configuration, writerId: String, clock: () => Timestamp,
           mutexTtlMs: Long = 30000L,
           compactThreshold: Int = SharedJournal.DefaultCompactThreshold) =
    this(dirStr, conf, writerId, clock, mutexTtlMs, compactThreshold, oneLane = false)

  require(oneLane || writerId.matches("""[A-Za-z0-9._\-]+"""),
    s"writerId '$writerId' must be filesystem-safe (lane directory name)")

  private val dir = new Path(dirStr)
  private val fs = FileSystem.get(dir.toUri, conf)
  private val lanesDir = new Path(dir, "lanes")
  private val laneId = if (oneLane) OneLaneId else writerId
  private val laneDir = if (oneLane) dir else new Path(lanesDir, writerId)
  private var laneSeq: Long = 0L
  private val mutex = new FsMutex(dir, fs, writerId, clock, mutexTtlMs, MutexPrefix)

  /** Lamport stamp for cross-lane ordering. Wall clocks CANNOT order
    * the merge: with ties (frozen test clocks) or skew, writer B's old
    * ACK-release could sort after writer A's newer lease of the same
    * partition and un-lease it in the fold — double delivery. The
    * causal chain on a key is always lease → (same writer) ack →
    * (next mutex holder resyncs, sees the ack) lease …, and a Lamport
    * clock — advance past everything read on replay, tick on append —
    * embeds exactly that chain. Causally-unrelated ties are
    * lane/seq-broken and only ever touch commuting fields (monotone
    * head/ack maxes).
    */
  private var lamport: Long = 0L

  /** Join the shared journal: create our lane and position its sequence
    * after anything a previous incarnation (same writerId) wrote —
    * callers must keep writerId unique per LIVE process (two live
    * writers on one lane would collide exactly like a shared sequence).
    */
  def open(): Unit = {
    fs.mkdirs(laneDir)
    val fromSnap = readLatestSnapshot().flatMap(_._2.laneSeqs.get(laneId)).getOrElse(0L)
    laneSeq = math.max(fromSnap, laneEntrySeqs(laneDir).lastOption.getOrElse(0L))
  }

  // ------------------------------------------------------------------
  // Candidate-selection mutex

  /** Run `f` holding the cross-process mutex ([[FsMutex]]: epoch-file
    * create-exclusive claims, crashed-holder TTL expiry).
    */
  def withMutex[T](f: => T): T = mutex.withLock(f)

  // ------------------------------------------------------------------
  // Lanes

  /** Durably record one mutation in OUR lane, stamped with the next
    * Lamport tick. Safe without the mutex for lease-holder-owned keys
    * (ACK/NACK/head) — see class doc.
    */
  def appendLane(rec: Record): Unit = {
    laneSeq += 1
    lamport += 1
    AtomicFs.atomicWrite(fs, conf, lanePath(laneDir, laneSeq),
      AtomicFs.json.writeValueAsBytes(rec.copy(at = lamport)))
  }

  /** Merged replay: snapshot + all lanes' later entries, ordered by
    * (record clock, lane id, lane seq) — deterministic, and correct
    * under skew for the monotone ops (see class doc).
    */
  def replay(): (Seq[ViewRegistration], Seq[LockRow]) = {
    val (views, locks, _) = foldState()
    (views.values.toSeq, locks.values.toSeq)
  }

  /** Fold the latest snapshot plus pending lane entries. Mutex-free
    * callers (resyncShared in ack/nack paths) can race a checkpointer:
    * read snapshot n-1, the checkpointer writes snapshot n and GCs the
    * folded lane entries, and our subsequent lane listing misses those
    * entries — a fold that silently LOST their effects. Detect it by
    * re-checking the latest snapshot seq after the lane read and retry
    * (bounded); checkpoints are rare relative to folds, so one retry
    * virtually always converges. If the bound is ever exhausted the
    * last fold is returned — same heals-at-next-mutex-resync behavior
    * as before, now a pathological corner instead of the common race.
    */
  private def foldState(): (scala.collection.mutable.LinkedHashMap[String, ViewRegistration],
                            scala.collection.mutable.LinkedHashMap[(String, String), LockRow],
                            Seq[(Long, String, Long, Record)]) = {
    var attempt = 0
    while (true) {
      attempt += 1
      val views = scala.collection.mutable.LinkedHashMap.empty[String, ViewRegistration]
      val locks = scala.collection.mutable.LinkedHashMap.empty[(String, String), LockRow]
      val snap = readLatestSnapshot()
      snap.foreach { case (_, s) =>
        s.views.foreach(v => views(v.view) = v.toRow)
        s.locks.foreach(l => locks((l.view, l.decider_id)) = l.toRow)
      }
      val watermarks = snap.map(_._2.laneSeqs).getOrElse(Map.empty[String, Long])
      val pending = pendingEntries(watermarks)
      if (snapshotSeqs().lastOption == snap.map(_._1) || attempt >= 5) {
        pending.foreach { case (_, _, _, rec) => ControlJournal.applyRecord(views, locks, rec) }
        // Lamport receive: our next append must order after everything read
        lamport = (lamport +: snap.map(_._2.maxAt).getOrElse(0L) +: pending.map(_._1)).max
        lastPendingCount = pending.size
        return (views, locks, pending)
      }
    }
    sys.error("unreachable")
  }

  /** Lane entries are immutable once published (atomic create, never
    * rewritten), so parsed records are cached: each resync pays one
    * directory listing per lane plus reads of NEW files only — without
    * this, a poll loop's repeated replays re-read every entry file
    * (O(entries²) file opens across a drain). Checkpoint GC evicts
    * folded entries.
    */
  private val entryCache =
    scala.collection.mutable.HashMap.empty[(String, Long), Record]

  /** Entries newer than the snapshot watermarks, in merge order. */
  private def pendingEntries(watermarks: Map[String, Long]): Seq[(Long, String, Long, Record)] =
    laneIds().flatMap { id =>
      val lane = laneDirOf(id)
      val wm = watermarks.getOrElse(id, 0L)
      laneEntrySeqs(lane).filter(_ > wm).flatMap { s =>
        entryCache.get((id, s)).orElse {
          val r = readJson[Record](lanePath(lane, s))
          r.foreach(entryCache.update((id, s), _))
          r
        }.map(r => (r.at, id, s, r))
      }
    }.sortBy { case (at, id, s, _) => (at, id, s) }

  private def laneIds(): Seq[String] =
    if (oneLane) Seq(laneId)
    else AtomicFs.list(fs, lanesDir).filter(_.isDirectory).map(_.getPath.getName)

  /** A one-lane journal's only lane is its directory. */
  private def laneDirOf(id: String): Path = if (oneLane) laneDir else new Path(lanesDir, id)

  /** Fold a checkpoint in (caller holds the mutex) and return the
    * merged state. The state and the per-lane watermarks come from ONE
    * listing — an ACK another writer appends mid-checkpoint gets a seq
    * past the recorded watermark and survives for the next fold, so a
    * checkpoint can never swallow an entry's seq without its effect.
    */
  def checkpoint(): (Seq[ViewRegistration], Seq[LockRow]) = {
    val (views, locks, pending) = foldState()
    writeSnapshot(views.values.toSeq, locks.values.toSeq,
      pending.groupBy(_._2).map { case (id, es) => id -> es.map(_._3).max })
    (views.values.toSeq, locks.values.toSeq)
  }

  /** Checkpoint a single writer's live state, which already holds
    * every entry of our lane — and may hold state the journal never
    * recorded (a parquet `load()`), so it is written as given rather
    * than re-folded.
    */
  private[store] def checkpoint(views: Seq[ViewRegistration], locks: Seq[LockRow]): Unit =
    writeSnapshot(views, locks, Map(laneId -> laneSeq))

  /** Write the next snapshot with the lanes' watermarks advanced to
    * `folded`, then GC: folded lane entries (files + cache), then older
    * snapshots.
    */
  private def writeSnapshot(views: Seq[ViewRegistration], locks: Seq[LockRow],
                            folded: Map[String, Long]): Unit = {
    val prior = readLatestSnapshot()
    val priorWm = prior.map(_._2.laneSeqs).getOrElse(Map.empty[String, Long])
    val wm = priorWm ++ folded.map { case (l, s) => l -> math.max(s, priorWm.getOrElse(l, 0L)) }
    val n = prior.map(_._1 + 1L).getOrElse(1L)
    AtomicFs.atomicWrite(fs, conf, snapshotPath(n), AtomicFs.json.writeValueAsBytes(
      SharedSnapshot(views.map(JView.of).toArray, locks.map(JLock.of).toArray, wm, lamport)))
    wm.foreach { case (id, upTo) =>
      val lane = laneDirOf(id)
      laneEntrySeqs(lane).filter(_ <= upTo).foreach(s => fs.delete(lanePath(lane, s), false))
    }
    entryCache.filterInPlace { case ((id, s), _) => s > wm.getOrElse(id, 0L) }
    snapshotSeqs().filter(_ < n).foreach(s => fs.delete(snapshotPath(s), false))
    lastPendingCount = 0 // everything just folded
  }

  /** Un-folded entry count observed by the LAST fold (replay or
    * checkpoint): a poll loop that just resynced compares it with
    * `compactThreshold` to decide whether to fold a checkpoint in,
    * without a second lane listing and snapshot read per round.
    */
  def pendingSinceLastFold: Int = lastPendingCount
  @volatile private var lastPendingCount: Int = 0

  // ------------------------------------------------------------------
  // File plumbing

  private def lanePath(lane: Path, s: Long): Path = new Path(lane, f"$s%020d.json")

  private def laneEntrySeqs(lane: Path): Seq[Long] =
    AtomicFs.list(fs, lane).map(_.getPath.getName)
      .collect { case EntryName(d) => d.toLong }.sorted

  private def snapshotPath(n: Long): Path = new Path(dir, f"$SnapshotPrefix$n%020d.json")

  private def snapshotSeqs(): Seq[Long] =
    AtomicFs.list(fs, dir).map(_.getPath.getName)
      .collect { case SnapshotName(d) => d.toLong }.sorted

  private def readLatestSnapshot(): Option[(Long, SharedSnapshot)] =
    snapshotSeqs().lastOption.flatMap(n =>
      readJson[SharedSnapshot](snapshotPath(n)).map(n -> _))

  /** A concurrently-GC'd entry (checkpointer folded it mid-listing)
    * reads as absent, which is correct — its effect is in the snapshot.
    */
  private def readJson[T](path: Path)(implicit ct: scala.reflect.ClassTag[T]): Option[T] =
    AtomicFs.read(fs, path)
      .map(AtomicFs.json.readValue(_, ct.runtimeClass.asInstanceOf[Class[T]]))
}

object SharedJournal {
  val DefaultCompactThreshold = 64
  private val MutexPrefix = "_mutex-"
  /** Watermark key of a one-lane journal's only lane. */
  private val OneLaneId = "_"
  private val SnapshotPrefix = "snapshot-"
  private val EntryName = """(\d{20})\.json""".r
  private val SnapshotName = """snapshot-(\d{20})\.json""".r

  // contentAs: the map's value type is erased, so without it Jackson
  // materializes small values as Integer and the first .toLong use
  // throws ClassCastException
  /** `maxAt`: highest Lamport stamp folded — a joining writer resumes
    * its logical clock past everything the snapshot absorbed.
    */
  final case class SharedSnapshot(
      views: Array[ControlJournal.JView],
      locks: Array[ControlJournal.JLock],
      @com.fasterxml.jackson.databind.annotation.JsonDeserialize(
        contentAs = classOf[java.lang.Long])
      laneSeqs: Map[String, Long],
      maxAt: Long = 0L)
}
