package graft.store

import java.sql.Timestamp
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import ControlJournal.Record

/** Durable single-writer control-plane journal for the streaming
  * layer's `views` / `locks` state (reference schema.sql:157-200,
  * 436-468): a one-lane [[SharedJournal]] — entries at `<dir>/<seq>.json`,
  * `snapshot-<n>.json` checkpoints, the same fold — with a writer lease
  * on top.
  *
  * The lease ([[FsMutex]] with `_owner-<epoch>` claims, failing fast)
  * enforces the one-writer-per-journal rule the reference expresses
  * with row locks (`FOR UPDATE SKIP LOCKED`, schema.sql:411): a second
  * live writer gets [[ControlJournal.OwnershipHeldException]] naming
  * the holder; a crashed writer's lease expires and exactly one
  * takeover candidate wins the next epoch. Every append and checkpoint
  * refreshes the lease once past its half-life, and a writer that finds
  * a higher epoch throws BEFORE writing — a fenced zombie can never
  * overwrite its successor's entries at the same sequence numbers.
  *
  * Scale note (100 TB deployment): the journal is control-plane-sized —
  * entries are O(locks touched per mutation), the same rows the
  * reference writes per transaction. One small file per ACK is the
  * file-system analogue of one WAL record per transaction; group
  * commit (batching several ACKs into one entry) is `ackBatch`.
  */
final class ControlJournal(dirStr: String,
                           conf: Configuration,
                           val ownerId: String,
                           clock: () => Timestamp,
                           leaseMs: Long = 60000L) {
  private val lane = new SharedJournal(dirStr, conf, ownerId, clock,
    mutexTtlMs = leaseMs, compactThreshold = Int.MaxValue, oneLane = true)
  private val lease = {
    val dir = new Path(dirStr)
    new FsMutex(dir, FileSystem.get(dir.toUri, conf), ownerId, clock, leaseMs,
      prefix = "_owner-", acquireDeadlineMs = 0L)
  }

  /** Acquire the writer lease (an expired one is taken over), or throw
    * [[ControlJournal.OwnershipHeldException]] if a different live
    * owner holds it. Also positions the lane after the last existing
    * entry so appends continue the sequence.
    */
  def acquire(): Unit = {
    lease.acquire()
    lane.open()
  }

  /** Release the lease (clean shutdown). Safe to call when not held. */
  def release(): Unit = lease.release()

  /** Durably record one mutation. Called inside the owner's
    * control-plane critical section, so the sequence needs no extra lock.
    */
  def append(rec: Record): Unit = {
    lease.refresh()
    lane.appendLane(rec)
  }

  /** Fold snapshot + later entries into the final (views, locks). */
  def replay(): (Seq[ViewRegistration], Seq[LockRow]) = lane.replay()

  /** Snapshot the writer's live state and delete the entries (and older
    * snapshots) it supersedes.
    */
  def checkpoint(views: Seq[ViewRegistration], locks: Seq[LockRow]): Unit = {
    lease.refresh()
    lane.checkpoint(views, locks)
  }
}

object ControlJournal {
  final class OwnershipHeldException(msg: String) extends IllegalStateException(msg)

  val OpViewDelete = "view_delete"
  val OpLocksUpsert = "locks_upsert"
  /** registerView as ONE record: upsert the view AND replace its lock
    * matrix — a crash can never replay the registration half-applied
    * (the reference runs it as one transaction, schema.sql:376-393).
    */
  val OpViewReplace = "view_replace"

  // Field-scoped lock mutations, designed so MERGED multi-writer lanes
  // ([[SharedJournal]]) fold conflict-free: head and ack advance
  // monotonically (max), lease/nack set only locked_until. A
  // single-writer journal records whole-row OpLocksUpsert instead.

  /** Append fanout: advance the partition head (offset monotone max);
    * insert born-unlocked if absent.
    */
  val OpHead = "head"
  /** Lease acquisition: set locked_until (taken under the shared mutex
    * — cross-writer ordering is explicit).
    */
  val OpLease = "lease"
  /** ACK: advance last_offset (monotone max) and release the lease. */
  val OpAck = "ack"
  /** NACK / scheduled NACK: set locked_until only. */
  val OpNackUntil = "nack_until"

  /** Apply one record to the keyed state — the one fold: replay of
    * every journal, and the live writer's own local application.
    */
  private[store] def applyRecord(
      views: scala.collection.mutable.LinkedHashMap[String, ViewRegistration],
      locks: scala.collection.mutable.LinkedHashMap[(String, String), LockRow],
      rec: Record): Unit = rec.op match {
    case OpViewDelete =>
      views.remove(rec.name)
      locks.filterInPlace { case ((v, _), _) => v != rec.name }
    case OpLocksUpsert =>
      rec.locks.foreach(l => locks((l.view, l.decider_id)) = l.toRow)
    case OpViewReplace =>
      val v = rec.view.toRow
      views(v.view) = v
      locks.filterInPlace { case ((view, _), _) => view != v.view }
      rec.locks.foreach(l => locks((l.view, l.decider_id)) = l.toRow)
    case OpHead =>
      rec.locks.foreach { jl =>
        val l = jl.toRow
        locks.get((l.view, l.decider_id)) match {
          case Some(cur) if l.offset > cur.offset =>
            locks((l.view, l.decider_id)) = cur.copy(offset = l.offset,
              offset_final = l.offset_final, updated_at = l.updated_at)
          case Some(_) => ()
          case None => locks((l.view, l.decider_id)) = l
        }
      }
    case OpLease | OpNackUntil =>
      rec.locks.foreach { jl =>
        val l = jl.toRow
        locks.get((l.view, l.decider_id)).foreach(cur =>
          locks((l.view, l.decider_id)) =
            cur.copy(locked_until = l.locked_until, updated_at = l.updated_at))
      }
    case OpAck =>
      rec.locks.foreach { jl =>
        val l = jl.toRow
        locks.get((l.view, l.decider_id)) match {
          case Some(cur) =>
            locks((l.view, l.decider_id)) = cur.copy(
              last_offset = math.max(cur.last_offset, l.last_offset),
              locked_until = l.locked_until, updated_at = l.updated_at)
          case None => locks((l.view, l.decider_id)) = l
        }
      }
    case other => throw new IllegalStateException(s"unknown journal op '$other'")
  }

  /** JSON-stable mirrors of the model rows: timestamps as epoch millis,
    * options as nullable boxes, so the wire format is independent of
    * Jackson's java.sql.Timestamp handling.
    */
  final case class JView(view: String, start_at: Long, lock_timeout_s: Long,
                         pooling_delay_s: java.lang.Long, edge_function_url: String,
                         created_at: Long, updated_at: Long) {
    def toRow: ViewRegistration = ViewRegistration(view, new Timestamp(start_at),
      lock_timeout_s, Option(pooling_delay_s).map(_.longValue()),
      Option(edge_function_url), new Timestamp(created_at), new Timestamp(updated_at))
  }
  object JView {
    def of(v: ViewRegistration): JView = JView(v.view, v.start_at.getTime,
      v.lock_timeout_s, v.pooling_delay_s.map(Long.box).orNull,
      v.edge_function_url.orNull, v.created_at.getTime, v.updated_at.getTime)
  }

  final case class JLock(view: String, decider_id: String, offset: Long,
                         last_offset: Long, locked_until: Long, offset_final: Boolean,
                         created_at: Long, updated_at: Long) {
    def toRow: LockRow = LockRow(view, decider_id, offset, last_offset,
      new Timestamp(locked_until), offset_final,
      new Timestamp(created_at), new Timestamp(updated_at))
  }
  object JLock {
    def of(l: LockRow): JLock = JLock(l.view, l.decider_id, l.offset, l.last_offset,
      l.locked_until.getTime, l.offset_final, l.created_at.getTime, l.updated_at.getTime)
  }

  /** `at` (the appending writer's Lamport stamp, see [[SharedJournal]])
    * orders entries in the merge.
    */
  final case class Record(op: String, name: String = null,
                          view: JView = null, locks: Array[JLock] = Array.empty,
                          at: Long = 0L)
}
