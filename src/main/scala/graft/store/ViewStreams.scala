package graft.store

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Event-streaming layer: consumer-group registry (`views`), per
  * (view, decider_id) offsets+leases (`locks`), the 4-stage
  * `stream_events` delivery pipeline, and ACK/NACK (reference
  * schema.sql:157-200, 240-309, 376-468; SURVEY §2.10, §2.9 M1-M6).
  *
  * Control-plane/data-plane split: `views` and `locks` are
  * driver-resident keyed state in this deterministic batch form —
  * exactly the role the reference's two small tables play against its
  * events heap. Every operation that touches EVENT DATA (backfill
  * aggregation, next-offset discovery, fetch) runs as Spark jobs over
  * the log; lease bookkeeping is O(|views| × |touched partitions|)
  * map updates. At a scale where the lock matrix itself outgrows the
  * driver (millions of active partitions × many views), the streaming
  * form carries the same rows in `flatMapGroupsWithState` state stores
  * instead (graft.streaming.DeliveryEngine) — the API here is the
  * oracle-testable batch shape (SURVEY slice 1).
  */
final class ViewStreams(val store: EventStore) {
  private val spark: SparkSession = store.spark
  import spark.implicits._

  private val viewsMap = scala.collection.mutable.LinkedHashMap.empty[String, ViewRegistration]
  private val locksMap =
    scala.collection.mutable.LinkedHashMap.empty[(String, String), LockRow]

  /** Serializes all control-plane state access. The reference's
    * multi-consumer safety comes from `FOR UPDATE SKIP LOCKED`
    * (schema.sql:411; tests/integration/concurrent-access/
    * test_lock_contention.sql:41-48 — two sessions streaming one view
    * must never double-deliver a partition): candidate selection and
    * lease acquisition are one atomic step. Here that step is the
    * critical section in [[streamEvents]] — the DATA-plane joins run
    * outside it, on partitions the caller exclusively leased, so
    * concurrent pollers serialize only on the O(limit) map updates.
    */
  private val stateLock = new Object

  /** Durable control plane (reference transactional ACK semantics,
    * schema.sql:436-446): when open, every views/locks mutation below
    * appends one journal record inside the critical section, so a
    * crash at ANY point rewinds at most the in-flight mutation —
    * ACKed offsets survive without an explicit [[save]]. `None` keeps
    * the original memory-only behavior (tests, ephemeral pipelines).
    */
  private var journal: Option[ControlJournal] = None

  /** Multi-writer control plane: when open, N live ViewStreams on the
    * same directory SPLIT each view's partitions — true `SKIP LOCKED`
    * sharing (schema.sql:405-417), vs [[openJournal]]'s clean rejection
    * of a second live writer. Mutually exclusive with [[journal]].
    */
  private var shared: Option[SharedJournal] = None

  /** Open (or take over) the durable journal at `dir` — a one-lane
    * [[SharedJournal]] under a writer lease ([[ControlJournal]]) — and
    * replace the in-memory control plane with its replayed state.
    * Enforces the single-writer rule: a second live ViewStreams on the
    * same journal gets [[ControlJournal.OwnershipHeldException]] until
    * the holder's lease expires (the reference's `FOR UPDATE SKIP
    * LOCKED` analogue at process granularity — within a process,
    * `stateLock` already serializes pollers, so polls take no fs mutex
    * and do no resync). For N CONCURRENT live consumers, use
    * [[openSharedJournal]] instead.
    */
  def openJournal(dir: String,
                  ownerId: String = java.util.UUID.randomUUID().toString,
                  leaseMs: Long = 60000L): Unit = stateLock.synchronized {
    require(journal.isEmpty && shared.isEmpty,
      "a journal is already open; close it first")
    val j = new ControlJournal(dir, spark.sparkContext.hadoopConfiguration,
      ownerId, () => now, leaseMs)
    j.acquire()
    val (views, locks) = j.replay()
    setState(views, locks)
    journal = Some(j)
  }

  /** Checkpoint (snapshot + truncate) and release the writer lease. */
  def closeJournal(): Unit = stateLock.synchronized {
    journal.foreach { j =>
      j.checkpoint(viewsMap.values.toSeq, locksMap.values.toSeq)
      j.release()
    }
    journal = None
  }

  /** Join the SHARED journal at `dir` as one of N live consumers
    * (reference `FOR UPDATE SKIP LOCKED` semantics, schema.sql:405-417;
    * two-session split proven by test_lock_contention.sql:41-48):
    * concurrent pollers on the same view acquire disjoint partition
    * leases and ACK independently; a consumer's crash releases its
    * partitions to the others at delivery-lease expiry. `ownerId` must
    * be unique per live process (it names this writer's journal lane).
    */
  def openSharedJournal(dir: String,
                        ownerId: String = java.util.UUID.randomUUID().toString,
                        mutexTtlMs: Long = 30000L): Unit = stateLock.synchronized {
    require(journal.isEmpty && shared.isEmpty,
      "a journal is already open; close it first")
    val s = new SharedJournal(dir, spark.sparkContext.hadoopConfiguration,
      ownerId, () => now, mutexTtlMs)
    s.open()
    val (views, locks) = s.replay()
    setState(views, locks)
    shared = Some(s)
  }

  /** Fold a final checkpoint and leave the shared journal. Our lane's
    * un-folded entries survive on disk either way — leaving is always
    * crash-safe for the OTHER consumers.
    */
  def closeSharedJournal(): Unit = {
    val sOpt = stateLock.synchronized(shared)
    sOpt.foreach { s =>
      s.withMutex {
        stateLock.synchronized {
          val (v, l) = s.checkpoint()
          setState(v, l)
          shared = None
        }
      }
    }
  }

  private def setState(views: Seq[ViewRegistration], locks: Seq[LockRow]): Unit = {
    viewsMap.clear(); locksMap.clear()
    views.foreach(v => viewsMap(v.view) = v)
    locks.foreach(l => locksMap((l.view, l.decider_id)) = l)
  }

  /** Refresh the local cache from the merged multi-writer state.
    * Caller holds `stateLock`; safe without the fs mutex (read-only —
    * used for freshness outside the candidate-selection section).
    */
  private def resyncShared(s: SharedJournal): Unit = {
    val (v, l) = s.replay()
    setState(v, l)
  }

  /** Durably record + locally apply one control-plane mutation: append
    * it to whichever journal is open, then apply it through
    * [[ControlJournal.applyRecord]] — the fold every replay uses, so
    * live state and any replay can never disagree on semantics. A
    * fenced journal throws before anything is applied. Caller holds
    * `stateLock` (and, for view-level records, the fs mutex in shared
    * mode).
    */
  private def commit(rec: ControlJournal.Record): Unit = {
    journal.foreach(_.append(rec))
    shared.foreach(_.appendLane(rec))
    ControlJournal.applyRecord(viewsMap, locksMap, rec)
  }

  /** [[commit]] one lock mutation. In shared mode the record is
    * FIELD-scoped (`sharedOp`: head/lease/ack advance monotonically or
    * set only locked_until), so every writer's merged replay folds it
    * conflict-free. Single-writer mode keeps whole-row upserts — the
    * reference's exact UPDATE semantics, including a backwards ack.
    */
  private def commitLocks(sharedOp: String, rows: Seq[LockRow]): Unit =
    if (rows.nonEmpty)
      commit(ControlJournal.Record(
        if (shared.isDefined) sharedOp else ControlJournal.OpLocksUpsert,
        locks = rows.map(ControlJournal.JLock.of).toArray))

  def allViews: Dataset[ViewRegistration] =
    stateLock.synchronized {
      shared.foreach(resyncShared)
      viewsMap.values.toSeq
    }.toDS()
  def allLocks: Dataset[LockRow] =
    stateLock.synchronized {
      shared.foreach(resyncShared)
      locksMap.values.toSeq
    }.toDS()

  private def now: Timestamp = store.now()

  // Wire the append fanout (reference AFTER INSERT trigger,
  // schema.sql:240-263 / M1): every committed event upserts the
  // (view, decider_id) head for EVERY registered view.
  store.onCommit = onEventsCommitted

  /** M1: fan the batch's per-partition head out to every registered
    * view (J3 cross product — views × touched partitions, both
    * control-plane-sized): update head offset / offset_final on match,
    * insert born-unlocked (last_offset = 0) otherwise.
    */
  private def onEventsCommitted(accepted: Seq[EventRow]): Unit = stateLock.synchronized {
    if (viewsMap.isEmpty || accepted.isEmpty) return
    val t = now
    val heads = accepted.groupBy(_.decider_id).map { case (_, rows) =>
      rows.maxBy(_.offset)
    }
    val written = Seq.newBuilder[LockRow]
    for (v <- viewsMap.keys; e <- heads) {
      written += (locksMap.get((v, e.decider_id)) match {
        case Some(l) =>
          l.copy(offset = e.offset, offset_final = e.is_final, updated_at = t)
        case None =>
          LockRow(v, e.decider_id, e.offset, 0L,
            new Timestamp(t.getTime - 1), e.is_final, t, t)
      })
    }
    commitLocks(ControlJournal.OpHead, written.result())
  }

  // ------------------------------------------------------------------
  // register_view (reference schema.sql:376-393 + backfill 268-309)

  /** Upsert the view, then rebuild its lock matrix (M2): ONE Spark
    * aggregation pass over the log computes, per partition, the head
    * (A3 DISTINCT ON ≙ max_by) and the A4 event-time seek
    * `COALESCE(min(offset | created_at ≥ start) − 1, max(offset))`
    * (reference off-by-one preserved). The result is
    * partitions-cardinality — control-plane — and lands in the map.
    */
  def registerView(view: String,
                   startAt: Option[Timestamp] = None,
                   lockTimeoutS: Long = 300L,
                   poolingDelayS: Option[Long] = None,
                   edgeFunctionUrl: Option[String] = None): ViewRegistration = {
    val t = now
    val start = startAt.getOrElse(t)
    // The whole upsert-and-backfill is one critical section (the
    // reference runs it in one transaction, schema.sql:376-393):
    // releasing the lock between the aggregation and the matrix swap
    // would let a concurrent append's fanout land heads that the swap
    // then overwrites with pre-commit state. registerView is rare
    // control-plane — holding the lock (and in shared mode the
    // cross-process mutex, sized by mutexTtlMs to outlast the backfill
    // job) across it is the correct trade.
    underSharedMutex {
    val row = viewsMap.get(view) match {
      case Some(old) => old.copy(start_at = start, lock_timeout_s = lockTimeoutS,
        pooling_delay_s = poolingDelayS, edge_function_url = edgeFunctionUrl,
        updated_at = t)
      case None => ViewRegistration(view, start, lockTimeoutS, poolingDelayS,
        edgeFunctionUrl, t, t)
    }

    val matrix = store.allEvents
      .groupBy($"decider_id")
      .agg(
        max_by(struct($"offset", $"is_final"), $"offset").as("head"),
        min(when($"created_at" >= lit(start), $"offset")).as("first_after"),
        max($"offset").as("max_off"))
      .select($"decider_id", $"head.offset".as("offset"),
        coalesce($"first_after" - 1, $"max_off").as("last_offset"),
        $"head.is_final".as("offset_final"))
      .collect()
    // ONE combined record: a crash between separate view/locks appends
    // would replay a registration no writer ever held
    commit(ControlJournal.Record(ControlJournal.OpViewReplace,
      view = ControlJournal.JView.of(row),
      locks = matrix.map { r =>
        ControlJournal.JLock.of(LockRow(view, r.getString(0), r.getLong(1), r.getLong(2),
          new Timestamp(t.getTime - 1), r.getBoolean(3), t, t))
      }))
    viewsMap(view)
    }
  }

  /** Run `f` under stateLock — and, in shared mode, under the
    * cross-process mutex with a fresh resync first, so view-level
    * mutations are serialized and see every other writer's state. Lock
    * order is always fs-mutex OUTER, stateLock INNER (streamEvents
    * does the same; taking them in the other order could deadlock two
    * threads of one process).
    */
  private def underSharedMutex[T](f: => T): T =
    stateLock.synchronized(shared) match {
      case Some(s) => s.withMutex(stateLock.synchronized { resyncShared(s); f })
      case None => stateLock.synchronized(f)
    }

  /** Delete a view: cascades to its locks (reference FK ON DELETE
    * CASCADE, schema.sql:199).
    */
  def deleteView(view: String): Unit = underSharedMutex {
    // one record, cascade implied by the fold (reference FK ON DELETE CASCADE)
    commit(ControlJournal.Record(ControlJournal.OpViewDelete, name = view))
  }

  // ------------------------------------------------------------------
  // stream_events (reference schema.sql:402-430; SURVEY §2.10)

  /** The 4-stage delivery pipeline, deterministic batch form.
    *
    *  1. Candidate scan: this view's locks with an expired lease and
    *     lag (`last_offset < offset`), ordered by head offset, LIMIT k
    *     — control-plane, map scan.
    *  2. Lease acquisition: `locked_until = now + seconds` on the
    *     selected partitions (J4 update-join, map update).
    *  3. Next-offset resolution: per leased partition, MIN(offset)
    *     among events past `last_offset` (J1 equi-join + band residual
    *     + A1 grouped MIN) — DATA-plane: Spark join, leased side
    *     broadcast (≤ limit rows).
    *  4. Fetch the winning rows (J2), global ORDER BY offset.
    *
    * Stages 3+4 are ONE job with ZERO exchanges, over the leased
    * streams' base partitions alone ([[EventStore.foldStreams]]: the
    * log is hash-partitioned by stream, so the driver knows which
    * partitions hold them) plus their tail rows on the driver. A
    * stream whose base rows an earlier read showed to be all at or
    * below `last_offset` needs no task, so delivering what was
    * appended since the base, to streams read or appended before, runs
    * no job. A
    * per-task fold keeps the min-offset event per leased partition
    * (offsets are globally unique, so the head is exactly the rank-1
    * window row of the declarative spelling), the ≤ leased×tasks
    * partials collect, and the driver finishes the min and the
    * presentation sort over ≤ limit rows. The fold runs on the base's
    * RDD, which is planned once per base: a poll loop re-running a
    * DataFrame pipeline would pay Catalyst
    * analysis/optimization/codegen PER ROUND — measured as most of
    * each round's wall at drain batch sizes, with two exchanges
    * (window + presentation sort) on top. Per-row work is one hash
    * probe + compare, and a poll reads at most `limit` partitions of
    * the log, not all of it.
    *
    * `FOR UPDATE SKIP LOCKED` has no Spark analogue and needs none:
    * lock state is single-owner per key (SURVEY §7.4.3); concurrent
    * pollers serialize on the state value, cross-partition parallelism
    * comes from Spark tasks.
    */
  def streamEvents(view: String, limit: Int = 1, seconds: Long = 300L): Seq[EventRow] = {
    // Stages 1+2 are ONE atomic step (the FOR UPDATE SKIP LOCKED
    // analogue): a concurrent poller entering after this section sees
    // the leases already taken and selects disjoint partitions. In
    // shared mode the section additionally holds the cross-PROCESS
    // mutex and re-syncs first, so N live consumers split the view's
    // partitions instead of double-leasing them — and opportunistically
    // fold a checkpoint when the merged journal has grown.
    val leased = underSharedMutex {
      // the resync that just ran counted the un-folded entries — no
      // second lane listing for the compaction-due check
      stateLock.synchronized(shared)
        .filter(s => s.pendingSinceLastFold >= s.compactThreshold)
        .foreach { s => val (v, l) = s.checkpoint(); setState(v, l) }
      selectAndLease(view, limit, seconds)
    }
    if (leased.isEmpty) return Nil

    // Stage 3+4: at most one job over the leased streams' partitions,
    // zero exchanges (see pipeline doc); only rows past each stream's
    // `last_offset` reach the fold.
    val bounds = leased.map(l => l.decider_id -> l.last_offset).toMap
    val partials = store.foldStreams(bounds) { it =>
      val best = scala.collection.mutable.HashMap.empty[String, EventRow]
      it.foreach { e =>
        val cur = best.get(e.decider_id)
        if (cur.isEmpty || e.offset < cur.get.offset)
          best(e.decider_id) = e
      }
      best.values.toVector
    }.flatten
    partials.groupBy(_.decider_id).values
      .map(_.minBy(_.offset)).toSeq.sortBy(_.offset)
  }

  /** Streaming form of the SHARED consumption loop (S5 × SKIP LOCKED;
    * closes the "openSharedJournal exists only on the batch path"
    * gap): feed the at-rest log as a file stream of [[EventRow]]; each
    * micro-batch folds the NEW events into the local replica — which
    * fires the head fanout (M1) through the shared journal — and runs
    * one shared-lease drain tick. N processes each running this query
    * against one SharedJournal directory split the view's partitions
    * exactly like the batch path: same journal, same cross-process
    * mutex, same lease identities, so streaming consumers, batch
    * pollers, and the FStoreApi push tick can all share one view.
    *
    * Delivered batches go to `sink`; the consumer ACKs what it durably
    * handled ([[ackBatch]]) — or doesn't, and the delivery re-leases
    * after `seconds` (at-least-once, the crashed-consumer path).
    * Ticking is event-driven: new log files trigger a drain; a QUIET
    * log's expired leases redeliver on the next tick from any consumer
    * sharing the journal (this query, a batch poll, or the FStoreApi
    * rate-tick).
    */
  def runSharedDelivery(view: String, events: Dataset[EventRow],
                        limit: Int = 1, seconds: Long = 300L)
                       (sink: Seq[EventRow] => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[EventRow], _: Long) =>
        // Fold only unseen rows. One narrow agg (pruned to `offset`)
        // picks the path: a batch strictly above the local head is the
        // normal in-order tail — fold as-is, the watermark is exact.
        // A batch reaching AT or below the head is a fresh-start file
        // replay or an out-of-order file discovery (the file source
        // orders by modification time; cross-writer ties break by
        // PATH, which sorts writer-first, not seq-first) — there the
        // watermark would silently drop lower-offset events that the
        // replica never held (a lost-delivery gap), so dedupe by
        // MEMBERSHIP instead: anti-join on the offsets already held.
        val head = store.maxOffset()
        val mm = batch.groupBy().agg(min(col("offset")), count(lit(1))).collect()(0)
        if (mm.getLong(1) > 0L) {
          if (mm.getLong(0) > head) { store.commitBulk(batch); () }
          else {
            val have = store.allEvents.toDF().select(col("offset").as("have_offset"))
            store.commitBulk(batch.toDF()
              .join(have, col("offset") === col("have_offset"), "left_anti")
              .as[EventRow])
            ()
          }
        }
        val got = streamEvents(view, limit, seconds)
        if (got.nonEmpty) sink(got)
      }
      .start()

  /** Stages 1+2. Caller holds stateLock (and the shared mutex when in
    * shared mode).
    */
  private def selectAndLease(view: String, limit: Int, seconds: Long): Seq[LockRow] = {
    val t = now
    // Stage 1: candidates (control-plane) this replica can deliver. In
    // shared mode another process's fanout can publish a head before
    // the local store has folded that commit; leasing it would deliver
    // nothing and strand the partition for the whole lease.
    val deliverable = store.maxOffset()
    val cand = locksMap.values.toSeq
      .filter(l => l.view == view && l.locked_until.getTime < t.getTime &&
        l.last_offset < l.offset && l.offset <= deliverable)
      .sortBy(_.offset)
      .take(limit)
    // Stage 2: lease acquisition (control-plane).
    val until = new Timestamp(t.getTime + seconds * 1000L)
    commitLocks(ControlJournal.OpLease,
      cand.map(_.copy(locked_until = until, updated_at = t)))
    cand
  }

  // ------------------------------------------------------------------
  // ACK / NACK (reference schema.sql:436-468; M4-M6)

  /** ACK: commit the offset and release the lease. Returns the updated
    * lock row (reference RETURNING *), None if no such lock.
    *
    * Release = `now - 1ms` (the reference's born-unlocked idiom,
    * schema.sql:191): the candidate scan tests `locked_until < NOW()`
    * strictly, and unlike PostgreSQL our clock is injectable/frozen in
    * tests, so releasing exactly AT `now` would stay leased.
    */
  def ack(view: String, deciderId: String, offset: Long): Option[LockRow] =
    touchLock(view, deciderId, ControlJournal.OpAck)(l =>
      l.copy(last_offset = offset,
        locked_until = new Timestamp(now.getTime - 1), updated_at = now))

  /** Batch ACK: commit many (decider_id, offset) positions in ONE
    * critical section and ONE journal record — the group-commit form
    * of [[ack]]. With the durable journal open, a poll-loop that acks
    * its whole delivered batch pays one file create per BATCH instead
    * of per event (the reference pays one transaction per ack_event
    * call; batching is the Spark-idiomatic unit). Unknown locks are
    * skipped, mirroring ack's None.
    */
  def ackBatch(view: String, positions: Seq[(String, Long)]): Seq[LockRow] =
    stateLock.synchronized {
      val t = now
      val released = new Timestamp(t.getTime - 1)
      val updated = positions.flatMap { case (deciderId, offset) =>
        locksMap.get((view, deciderId)).map(l =>
          l.copy(last_offset = offset, locked_until = released, updated_at = t))
      }
      commitLocks(ControlJournal.OpAck, updated)
      updated.map(u => locksMap((u.view, u.decider_id)))
    }

  /** NACK: release the lease WITHOUT advancing the offset → immediate
    * redelivery eligibility.
    */
  def nack(view: String, deciderId: String): Option[LockRow] =
    touchLock(view, deciderId, ControlJournal.OpNackUntil)(l =>
      l.copy(locked_until = new Timestamp(now.getTime - 1), updated_at = now))

  /** Scheduled NACK: redeliver after `milliseconds` (delayed retry). */
  def scheduleNack(view: String, deciderId: String, milliseconds: Long): Option[LockRow] =
    touchLock(view, deciderId, ControlJournal.OpNackUntil)(l =>
      l.copy(locked_until = new Timestamp(now.getTime + milliseconds), updated_at = now))

  /** ACK/NACK need no cross-process mutex even in shared mode: the
    * delivery lease makes the caller the partition's sole mutator
    * (the reference's model — ack_event updates a row the acker's
    * poll leased). The local application goes through [[commitLocks]],
    * so shared-mode semantics (monotone ack) match replay exactly.
    */
  private def touchLock(view: String, deciderId: String, sharedOp: String)
                       (f: LockRow => LockRow): Option[LockRow] = stateLock.synchronized {
    locksMap.get((view, deciderId)).map { l =>
      commitLocks(sharedOp, Seq(f(l)))
      locksMap((view, deciderId))
    }
  }

  // ------------------------------------------------------------------
  // updated_at maintenance (M8) is folded into every mutation above;
  // views/locks persist as parquet like the log.

  def save(dir: String): Unit = {
    // in shared mode fold first so the parquet reflects every writer
    stateLock.synchronized(shared).foreach { s =>
      s.withMutex(stateLock.synchronized { val (v, l) = s.checkpoint(); setState(v, l) })
    }
    allViews.write.mode("overwrite").parquet(s"$dir/views")
    allLocks.write.mode("overwrite").parquet(s"$dir/locks")
    // a parquet snapshot supersedes the journal tail — fold in a
    // checkpoint so the journal stays bounded between explicit saves
    stateLock.synchronized {
      journal.foreach(_.checkpoint(viewsMap.values.toSeq, locksMap.values.toSeq))
    }
  }

  def load(dir: String): Unit = {
    val views = spark.read.parquet(s"$dir/views").as[ViewRegistration].collect()
    val locks = spark.read.parquet(s"$dir/locks").as[LockRow].collect()
    stateLock.synchronized {
      require(shared.isEmpty,
        "load() would fork the local cache from the multi-writer journal; " +
          "close the shared journal first")
      viewsMap.clear(); locksMap.clear()
      views.foreach(v => viewsMap(v.view) = v)
      locks.foreach(l => locksMap((l.view, l.decider_id)) = l)
      // An open journal still holds the PRE-load snapshot+entries;
      // leaving it would make a crash-replay resurrect state the live
      // writer just replaced (e.g. views absent from the loaded
      // parquet). Checkpoint the loaded state so replay and memory
      // agree from here on.
      journal.foreach(_.checkpoint(viewsMap.values.toSeq, locksMap.values.toSeq))
    }
  }
}
