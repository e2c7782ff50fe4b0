package graft.store

import java.sql.Timestamp
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Spark-native event store with the reference's event-sourcing API
  * surface (reference schema.sql:325-367; SURVEY §2.1, §2.9, §3.1).
  *
  * Architecture (NOT a port of the row-at-a-time PL/pgSQL model):
  *
  *  - The log is an append-only `Dataset[EventRow]`; at rest it lives
  *    in Parquet partitioned so `decider_id` predicates prune
  *    (`save`/`load`). The atomicity unit is the *batch append* — the
  *    Spark analogue of the reference's per-statement transaction
  *    (SURVEY §4, "consistency unit changes from row-transaction to
  *    batch commit").
  *  - The three BEFORE-INSERT triggers (schema.sql:75-146), the
  *    composite FK (schema.sql:53), and the UNIQUE constraints
  *    (schema.sql:32,44) become a validation pipeline of broadcast
  *    semi-/anti-joins plus ONE `flatMapGroups` over
  *    `(decider, decider_id)` that replays the batch's rows in input
  *    order per stream — distributed across streams, sequential within
  *    a stream, which is exactly the guarantee the reference documents
  *    (ordering per partition, parallelism across partitions).
  *  - The global BIGSERIAL offset is a per-commit sequence continued
  *    from the committed head (SURVEY §7.4.1): client append batches
  *    are driver-bounded, so assignment happens with the (already
  *    driver-resident) validated batch; the bulk-ingest path for
  *    unbounded input uses `GlobalIndex.withOrderedIndex`
  *    (range-partitioned parallel sort + partition prefix sums).
  *
  * Scale notes (100 TB): validation joins against the committed log are
  * key-pruned — the batch's distinct `(decider, decider_id)` pairs are
  * joined (broadcast, they are bounded by batch size) against the log
  * first, so the per-stream state aggregation scans only the touched
  * partitions' data, not the whole log. Nothing here collects event
  * data to the driver; only per-partition counts and the rejected-row
  * channel (bounded by batch size) leave the executors.
  */
final class EventStore(val spark: SparkSession) {
  import spark.implicits._

  // Control-plane vs data-plane split (same split the reference makes
  // between its tiny registry/locks tables and the events heap): the
  // schema REGISTRY is driver-resident — it is dimension-sized by
  // construction and consulted on every append, so keeping it as a
  // Spark dataset would cost a job per metadata question. The LOG is
  // the data plane and always a Dataset.
  private val decidersMap =
    scala.collection.mutable.LinkedHashMap.empty[(String, String, Long), DeciderRegistration]
  /** Bumped on every NEW registration; lets incremental flushes skip
    * the registry rewrite when nothing changed since this instance
    * last wrote it to the same dir (full [[save]] stays unconditional
    * — snapshots are authoritative).
    */
  private var decidersVersion: Long = 0L
  private var decidersSavedAt: Option[(String, Long)] = None
  @volatile private var events: Dataset[EventRow] = spark.emptyDataset[EventRow]
  private var nextTxn: Long = 1L
  /** Committed head of the global offset sequence (O(1) instead of a
    * max() scan per append; rebuilt on load).
    */
  private var headOffset: Long = 0L

  /** Serializes validate-and-commit. The reference gets "two racing
    * writers extending the same head — exactly one wins" from row
    * locks + unique indexes inside a transaction (schema.sql:23-26,
    * README.md:106-108); here the transaction analogue is the batch
    * append, so the whole validate→commit span is one critical
    * section: the loser's validation runs AFTER the winner's commit
    * and sees its previous_id already claimed (DuplicatePreviousId).
    * Readers are lock-free — `events` is a @volatile immutable
    * snapshot. Append throughput is unaffected at scale: parallelism
    * lives INSIDE the batch (validation joins and replay distribute
    * across Spark tasks), not across concurrent driver calls, and the
    * unbounded-input path (BulkIngest) is one serialized commit per
    * already-validated bulk.
    */
  private val commitLock = new Object

  /** Injectable clock so tests get deterministic `created_at`. */
  @volatile var now: () => Timestamp = () => new Timestamp(System.currentTimeMillis())

  // ------------------------------------------------------------------
  // Registry (reference register_decider_event, schema.sql:325-332)

  /** Idempotent on the (decider, event, event_version) PK: re-registering
    * an existing triple is a no-op (PK violation → precondition check).
    */
  def registerDeciderEvent(decider: String, event: String,
                           eventVersion: Long = 1L,
                           description: Option[String] = None): DeciderRegistration =
    commitLock.synchronized {
      val row = DeciderRegistration(decider, event, eventVersion, description)
      if (!decidersMap.contains((decider, event, eventVersion)))
        decidersVersion += 1
      decidersMap.getOrElseUpdate((decider, event, eventVersion), row)
    }

  def deciderRegistry: Dataset[DeciderRegistration] =
    commitLock.synchronized(decidersMap.values.toSeq).toDS()

  /** Reference deciders table is append-only with silently-ignored
    * UPDATE/DELETE rules (schema.sql:59-64) — mirrored as no-op APIs
    * returning 0 affected rows (SURVEY M7).
    */
  def updateDeciders(): Long = 0L
  def deleteDeciders(): Long = 0L

  // ------------------------------------------------------------------
  // Append (reference append_event, schema.sql:336-343 + triggers)

  def appendEvent(in: EventInput): Either[AppendError, EventRow] = {
    val r = append(Seq(in))
    r.rejected.headOption.toLeft(r.accepted.head)
  }

  /** Batch append with full reference validation semantics. Rows are
    * validated *in input order per stream*, with visibility of earlier
    * accepted rows of the same batch (the reference's per-row trigger
    * visibility, SURVEY §7.4 item 2). Returns accepted rows with
    * assigned offsets plus the typed rejection channel.
    */
  def append(batch: Seq[EventInput]): AppendResult = commitLock.synchronized {
    if (batch.isEmpty) return AppendResult(Nil, Nil)
    val ts = now()
    val txn = nextTxn

    val collected =
      (if (batch.size <= EventStore.SmallBatchMax) smallBatchValidate(batch)
       else distributedValidate(batch)).sortBy(_._2)
    val rejected: Seq[AppendError] = collected.collect {
      case (e, _, code) if code.nonEmpty => code match {
        case "final"              => AppendError.StreamFinalized(e.event_id)
        case "null_prev"          => AppendError.NullPreviousOnNonFirst(e.event_id)
        case "prev_not_in_stream" => AppendError.PreviousNotInStream(e.event_id)
        case "fk"                 => AppendError.UnregisteredEvent(e.event_id)
        case "dup_event_id"       => AppendError.DuplicateEventId(e.event_id)
        case "dup_prev_id"        => AppendError.DuplicatePreviousId(e.event_id)
      }
    }.toSeq
    val acceptedInputs = collected.filter(_._3.isEmpty)

    // (4) Offset assignment: global monotonic sequence continued from
    // the committed head (SURVEY §7.4.1). Input order is the canonical
    // order, mirroring BIGSERIAL's assignment at insert time.
    val base = maxOffset()
    val accepted = acceptedInputs.zipWithIndex.map { case ((e, _, _), i) =>
      EventRow(e.event, e.event_id, e.event_version, e.decider, e.decider_id,
        e.data, e.command_id, e.previous_id, e.is_final, ts,
        base + 1 + i, txn)
    }.toSeq

    // (5) Atomic commit: the union becomes visible as one new `events`
    // value (≙ one Delta commit / one micro-batch). localCheckpoint
    // truncates the union lineage so N appends don't build an N-deep
    // plan (at rest the log is Parquet via save/load anyway).
    if (accepted.nonEmpty) {
      events = events.union(accepted.toDS()).localCheckpoint()
      headOffset = accepted.last.offset
      nextTxn += 1
      noteCommitted(accepted)
      // the disk snapshot stays live: streamSlice reads it up to
      // flushedOffset and unions the in-memory tail past it, so
      // bucket-pruned scans keep working between incremental flushes
      onCommit(accepted)
    }
    AppendResult(accepted, rejected)
  }

  // ------------------------------------------------------------------
  // OLTP fast path: membership sketches + hot-stream cache.
  //
  // The reference wins the sequential single-append shape outright
  // (µs B-tree probes vs ~100 ms of Spark job overhead per validation
  // lookup). The fix is driver state that answers the validation
  // questions withOUT a job — but ONLY when it can answer them
  // EXACTLY; anything uncertain falls back to the job path, so the
  // semantics cannot diverge:
  //
  //  - `idSketch` / `prevSketch` / `streamSketch`: Bloom filters over
  //    ALL committed event_ids, claimed previous_ids, and stream keys.
  //    While `sketchComplete` holds (fresh store, or after
  //    [[enableFastAppend]] seeds them from the log in one distributed
  //    pass) a MISS is definitive — the id/prev/stream is certainly
  //    absent — and that is the only answer the fast path trusts; a
  //    hit (present OR false positive) routes to the jobs.
  //  - `hotStreams`: exact (finalized, n, head event id) per stream
  //    touched this session — maintained under commitLock at commit,
  //    so the chained-append shape (prev = current head) resolves
  //    prev-existence exactly. Bounded LRU; eviction only costs the
  //    fast path.
  //
  // commitBulk / load() set sketchComplete = false (rows not seen by
  // the driver); enableFastAppend re-seeds. Shared-log replicas fold
  // rivals' commits through commitBulk, so the fast path self-disables
  // in shared mode — conservative, never wrong.

  private var idSketch = org.apache.spark.util.sketch.BloomFilter.create(1 << 20, 0.01)
  private var prevSketch = org.apache.spark.util.sketch.BloomFilter.create(1 << 20, 0.01)
  private var streamSketch = org.apache.spark.util.sketch.BloomFilter.create(1 << 20, 0.01)
  private var sketchComplete = true
  private final case class HotStream(finalized: Boolean, n: Long, headId: Option[String])
  private val hotStreams =
    scala.collection.mutable.LinkedHashMap.empty[(String, String), HotStream]
  private val HotStreamCap = 65536

  /** Re-seed the membership sketches from the committed log (one
    * distributed pass over three narrow columns) and re-arm the
    * zero-job append fast path after a load()/bulk ingest. Sketch
    * memory is ~1.2 MB per 10⁶ ids at 1% fpp — size `fpp` down (or
    * skip enabling) if driver memory is tighter than append latency.
    */
  def enableFastAppend(fpp: Double = 0.01): Unit = commitLock.synchronized {
    val n = math.max(1024L, headOffset * 2)
    val df = events.toDF()
    idSketch = df.stat.bloomFilter("event_id", n, fpp)
    prevSketch = df.filter($"previous_id".isNotNull).stat.bloomFilter("previous_id", n, fpp)
    streamSketch = df.select(concat_ws("|", $"decider", $"decider_id").as("sk"))
      .stat.bloomFilter("sk", n, fpp)
    hotStreams.clear()
    sketchComplete = true
  }

  /** Record an accepted commit in the fast-path state (caller holds
    * commitLock).
    */
  private def noteCommitted(accepted: Seq[EventRow]): Unit = {
    accepted.foreach { e =>
      idSketch.putString(e.event_id)
      e.previous_id.foreach(prevSketch.putString)
      streamSketch.putString(s"${e.decider}|${e.decider_id}")
    }
    accepted.groupBy(e => (e.decider, e.decider_id)).foreach { case (k, es) =>
      val prior = hotStreams.remove(k) // re-insert = LRU touch
      val fin = prior.exists(_.finalized) || es.exists(_.is_final)
      val n = prior.map(_.n).getOrElse(0L) + es.size
      hotStreams(k) = HotStream(fin, n, Some(es.last.event_id))
    }
    while (hotStreams.size > HotStreamCap) hotStreams.remove(hotStreams.head._1)
  }

  /** Zero-job validation: Some(flags) when EVERY row of the batch is
    * exactly answerable from the sketches + hot cache, None otherwise
    * (caller runs the job path). Accept decisions only ever ride on
    * definitive answers: sketch MISSES and session-exact cache hits.
    */
  private def fastValidate(batch: Seq[EventInput]): Option[Seq[(EventInput, Long, String)]] = {
    if (!sketchComplete) return None
    val flagged = batch.zipWithIndex.map { case (e, idx) =>
      val key = (e.decider, e.decider_id)
      val hot = hotStreams.get(key)
      val streamKnown = hot.isDefined || !streamSketch.mightContainString(s"${e.decider}|${e.decider_id}")
      if (!streamKnown) return None // exists in log but not cached
      val (fin, n) = hot.map(h => (h.finalized, h.n)).getOrElse((false, 0L))
      if (idSketch.mightContainString(e.event_id)) return None // maybe dup
      val (prevInStream, prevDup) = e.previous_id match {
        case None => (false, false)
        case Some(p) =>
          if (prevSketch.mightContainString(p)) return None // maybe claimed
          if (!idSketch.mightContainString(p)) (false, false) // definitely absent; intra-batch handled by replay
          else if (hot.exists(_.headId.contains(p))) (true, false) // exact: the session head
          else return None // committed somewhere, membership unknown
      }
      val rank = batch.take(idx).count(_.event_id == e.event_id) + 1
      EventStore.Flagged(e, idx.toLong,
        decidersMap.contains((e.decider, e.event, e.event_version)),
        prev_in_stream = prevInStream, dup_event_id = false,
        dup_prev_id = prevDup, finalized = fin, n_committed = n, eid_rank = rank)
    }
    Some(flagged.groupBy(f => (f.in.decider, f.in.decider_id))
      .values.toSeq.flatMap(EventStore.replayStream))
  }

  /** Driver-side fast path for bounded batches (≤ SmallBatchMax): when
    * the sketches can answer exactly, validation is pure driver work
    * ([[fastValidate]], zero jobs — the OLTP chained-append shape);
    * otherwise the committed-log facts come from TWO narrow jobs
    * against the cached log (a per-stream state aggregate and an
    * id/prev membership filter) instead of the join/window/
    * flatMapGroups pipeline. The replay itself is
    * [[EventStore.replayStream]], the same code the distributed path
    * executes, so the semantics cannot diverge.
    */
  private[store] def smallBatchValidate(batch: Seq[EventInput]): Seq[(EventInput, Long, String)] = {
    fastValidate(batch) match {
      case Some(r) => return r
      case None => ()
    }
    val inputs = batch.zipWithIndex.map { case (e, i) =>
      (e, i.toLong, decidersMap.contains((e.decider, e.event, e.event_version)))
    }
    val streams = inputs.map(t => (t._1.decider, t._1.decider_id)).distinct
    val streamPred = streams.map { case (dk, di) =>
      $"decider" === dk && $"decider_id" === di
    }.reduce(_ || _)
    // job 1: per-stream committed state (exists / finalized)
    val state: Map[(String, String), (Boolean, Long)] = events.toDF()
      .filter(streamPred)
      .groupBy($"decider", $"decider_id")
      .agg(max(when($"is_final", 1).otherwise(0)).as("fin"), count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getInt(2) == 1, r.getLong(3)))
      .toMap
    // job 2: committed id/prev membership for the batch's keys
    val batchIds = inputs.map(_._1.event_id).distinct
    val batchPrevs = inputs.flatMap(_._1.previous_id).distinct
    // event_id ∈ batchPrevs feeds the prev-existence check; event_id ∈
    // batchIds and previous_id ∈ batchPrevs feed the two dup checks.
    val idPred = $"event_id".isin((batchIds ++ batchPrevs).distinct: _*) ||
      (if (batchPrevs.nonEmpty) $"previous_id".isin(batchPrevs: _*) else lit(false))
    val hits = events.toDF().filter(idPred)
      .select($"event_id", $"previous_id", $"decider", $"decider_id").collect()
    val idsSet = batchIds.toSet
    val prevsSet = batchPrevs.toSet
    val committedIds = hits.map(_.getString(0)).filter(idsSet).toSet
    val committedPrevs = hits.flatMap(r => Option(r.getString(1))).filter(prevsSet).toSet
    // prev_in_stream: the claimed previous event exists in the SAME stream
    val inStream: Set[(String, String, String)] =
      hits.map(r => (r.getString(0), r.getString(2), r.getString(3))).toSet
    // intra-batch duplicate event_id rank (input order)
    val eidRank = scala.collection.mutable.Map.empty[String, Int]
    val flagged = inputs.map { case (e, idx, registered) =>
      val rank = eidRank.updateWith(e.event_id)(c => Some(c.getOrElse(0) + 1)).get
      val (fin, n) = state.getOrElse((e.decider, e.decider_id), (false, 0L))
      EventStore.Flagged(e, idx, registered,
        prev_in_stream = e.previous_id.exists(p => inStream((p, e.decider, e.decider_id))),
        dup_event_id = committedIds(e.event_id),
        dup_prev_id = e.previous_id.exists(committedPrevs),
        finalized = fin, n_committed = n, eid_rank = rank)
    }
    flagged.groupBy(f => (f.in.decider, f.in.decider_id))
      .values.toSeq.flatMap(EventStore.replayStream)
  }

  /** Distributed validation pipeline for large batches (the scale
    * path): set-level joins against the key-pruned log, a window for
    * intra-batch duplicate ranking, and per-stream replay inside
    * flatMapGroups.
    */
  private[store] def distributedValidate(batch: Seq[EventInput]): Seq[(EventInput, Long, String)] = {
    // (1) FK gate (J8): the registry is driver-resident (see header),
    // so the composite-FK flag is stamped onto each row up front — the
    // moral equivalent of the broadcast semi-join, without shipping a
    // dimension table that already fits in a map.
    val inputs = batch.zipWithIndex.map { case (e, i) =>
      (e, i.toLong, decidersMap.contains((e.decider, e.event, e.event_version)))
    }.toDS().toDF("in", "input_idx", "registered")

    val fkChecked = inputs.select($"in", $"input_idx", $"registered")

    // (2) Committed-log lookups, pruned to the streams the batch touches.
    val touched = inputs.select($"in.decider".as("t_decider"),
      $"in.decider_id".as("t_decider_id")).distinct()
    val logSlice = events.toDF().join(broadcast(touched),
      $"decider" === $"t_decider" && $"decider_id" === $"t_decider_id", "left_semi")

    // Per-stream committed state: does the stream exist / is it final.
    val streamState = logSlice
      .groupBy($"decider", $"decider_id")
      .agg(max(when($"is_final", 1).otherwise(0)).as("finalized"),
           count(lit(1)).as("n_committed"))
      .select($"decider".as("s_decider"), $"decider_id".as("s_decider_id"),
              ($"finalized" === 1).as("finalized"), $"n_committed")

    // previous_id resolution against the committed stream (J7): the
    // claimed previous event must exist in the SAME (decider, decider_id).
    val prevResolved = fkChecked
      .join(logSlice.select($"event_id".as("p_event_id"),
              $"decider".as("p_decider"), $"decider_id".as("p_decider_id"),
              lit(true).as("prev_in_stream")),
        $"in.previous_id" === $"p_event_id" &&
          $"in.decider" === $"p_decider" && $"in.decider_id" === $"p_decider_id",
        "left")
      .select($"in", $"input_idx", $"registered",
              coalesce($"prev_in_stream", lit(false)).as("prev_in_stream"))

    // Global uniqueness vs the committed log (M9): event_id and
    // previous_id are unique across ALL streams.
    val committedIds = events.select($"event_id".as("c_event_id"), lit(true).as("dup_event_id"))
    val committedPrevs = events.filter($"previous_id".isNotNull)
      .select($"previous_id".as("c_prev_id"), lit(true).as("dup_prev_id"))
    val uniqChecked = prevResolved
      .join(broadcast_ifsmall(committedIds), $"in.event_id" === $"c_event_id", "left")
      .join(broadcast_ifsmall(committedPrevs), $"in.previous_id" === $"c_prev_id", "left")
      .select($"in", $"input_idx", $"registered", $"prev_in_stream",
              coalesce($"dup_event_id", lit(false)).as("dup_event_id"),
              coalesce($"dup_prev_id", lit(false)).as("dup_prev_id"))
      .join(streamState,
        $"in.decider" === $"s_decider" && $"in.decider_id" === $"s_decider_id", "left")
      .select($"in", $"input_idx", $"registered", $"prev_in_stream",
              $"dup_event_id", $"dup_prev_id",
              coalesce($"finalized", lit(false)).as("finalized"),
              coalesce($"n_committed", lit(0L)).as("n_committed"))

    // Intra-batch duplicate event_id across streams: only the FIRST
    // occurrence (input order) may survive; flag the rest.
    val wDupe = org.apache.spark.sql.expressions.Window
      .partitionBy($"in.event_id").orderBy($"input_idx")
    val flagged = uniqChecked
      .withColumn("eid_rank", row_number().over(wDupe))

    // (3) Sequential replay per stream: trigger-order checks with
    // intra-batch visibility (earlier accepted rows of the same stream
    // count as existing; an accepted final event blocks later rows).
    val typed = flagged.as[EventStore.Flagged]

    // Error identities travel as string codes (a sealed ADT has no
    // Spark Encoder); the driver maps codes back to typed AppendErrors.
    val validated: Dataset[(EventInput, Long, String)] = typed
      .groupByKey(f => (f.in.decider, f.in.decider_id))
      .flatMapGroups { (_: (String, String), rows: Iterator[EventStore.Flagged]) =>
        EventStore.replayStream(rows.toSeq).iterator
      }

    validated.collect().toSeq
  }

  /** Hook for the streaming layer's lock fanout (M1). */
  @volatile var onCommit: Seq[EventRow] => Unit = _ => ()

  /** Advance the transaction counter past `t` (SharedLog rebuild: a
    * compacted base folds many commits into one [[commitBulk]] bump,
    * so the counter must be re-seated from the data's max).
    */
  private[store] def ensureTxnPast(t: Long): Unit = commitLock.synchronized {
    nextTxn = math.max(nextTxn, t + 1)
  }

  /** Bulk commit for the distributed ingest path (BulkIngest): rows
    * arrive already validated and offset-assigned; the commit counts
    * and appends them without a driver round-trip of the data. The
    * lock fanout gets only the per-partition HEADS (control-plane
    * cardinality), not the rows.
    */
  private[store] def commitBulk(rows: Dataset[EventRow]): Long = commitLock.synchronized {
    // rows never pass through the driver: the membership sketches can
    // no longer claim completeness (re-seed with enableFastAppend)
    sketchComplete = false
    hotStreams.clear()
    val staged = rows.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = staged.count()
    if (n > 0) {
      events = events.union(staged).localCheckpoint()
      headOffset = math.max(headOffset,
        staged.agg(max($"offset")).collect().head.getLong(0))
      nextTxn += 1
      val heads = staged.groupBy($"decider_id")
        .agg(max_by(struct($"offset", $"is_final"), $"offset").as("h"))
        .select($"decider_id", $"h.offset", $"h.is_final")
        .collect()
      if (heads.nonEmpty) {
        val ts = now()
        onCommit(heads.map(r => EventRow("", "", 0L, "", r.getString(0), "",
          None, None, r.getBoolean(2), ts, r.getLong(1), -1L)).toSeq)
      }
    }
    staged.unpersist()
    n
  }

  /** Fold rows ALREADY validated and offset-assigned by another
    * process's store (SharedLog resync, driver-bounded commits): like
    * [[commitBulk]] but driver-resident, so the membership sketches
    * stay complete and the append fast path survives shared mode.
    * Rows must arrive in their committed order.
    */
  private[store] def commitReplicated(rows: Seq[EventRow]): Unit = commitLock.synchronized {
    if (rows.isEmpty) return
    events = events.union(rows.toDS()).localCheckpoint()
    headOffset = math.max(headOffset, rows.map(_.offset).max)
    nextTxn += 1
    noteCommitted(rows)
    onCommit(rows)
  }

  /** Broadcast only when the build side is known-bounded; the committed
    * id sets grow with the log, so leave join-strategy choice to
    * Catalyst/AQE there (it will pick SMJ once they exceed the
    * broadcast threshold).
    */
  private def broadcast_ifsmall(df: DataFrame): DataFrame = df

  // ------------------------------------------------------------------
  // Scans (reference get_events/get_last_event, schema.sql:348-367)

  /** Ordered scan of one entity's stream — partition-pruned when the
    * log is Parquet-partitioned by decider bucket.
    */
  /** One stream's slice of the log. When the log is parquet-at-rest,
    * the scan routes through the bucketed layout: the hash-bucket
    * predicate prunes partition DIRECTORIES (PartitionFilters), so the
    * scan touches 1/buckets of the files before the row-group filter
    * even runs — the Spark analogue of the reference's
    * (decider_id, decider) index (schema.sql:56; SURVEY X1).
    */
  private def streamSlice(deciderId: String): DataFrame = {
    val base = diskLayout match {
      case Some((dir, buckets)) =>
        // disk holds offsets <= flushedOffset; anything appended since
        // the last save/saveIncrement only exists in the in-memory log,
        // so union the unflushed tail — but ONLY when one exists:
        // after save() rebased `events` onto the disk files, a
        // vacuous tail filter would re-scan those same files without
        // the bucket pruning this path exists to provide
        val disk = readEventsDir(eventsPath(dir))
          .filter($"bucket" === pmod(hash(lit(deciderId)), lit(buckets)))
          .drop("bucket", "day")
        if (flushedOffset < headOffset)
          disk.unionByName(events.filter($"offset" > flushedOffset).toDF())
        else disk
      case None => events.toDF()
    }
    base.filter($"decider_id" === deciderId)
  }

  def getEvents(deciderId: String, decider: String): Dataset[EventRow] =
    streamSlice(deciderId).filter($"decider" === decider)
      .orderBy($"offset").as[EventRow]

  /** All events with `created_at >= from` — the view-backfill access
    * path (register_view's event-time seek, schema.sql:376-393). At
    * rest the scan prunes whole `day=` partition DIRECTORIES before
    * the row-group filter runs (yyyy-MM-dd strings compare in date
    * order), so a backfill from yesterday touches 1/history of a
    * year-deep log; the unflushed in-memory tail is unioned like every
    * other read.
    */
  def eventsSince(from: Timestamp): Dataset[EventRow] = {
    // the day= partition values were written by date_format under the
    // SESSION timezone — derive the cutoff day under the same zone, or
    // pruning would silently drop qualifying events on non-UTC sessions
    val zone = java.time.ZoneId.of(spark.conf.get("spark.sql.session.timeZone"))
    val fromDay = java.time.Instant.ofEpochMilli(from.getTime)
      .atZone(zone).toLocalDate.toString
    val base = diskLayout match {
      case Some((dir, _)) =>
        val disk = readEventsDir(eventsPath(dir))
          .filter($"day" >= fromDay)
          .drop("bucket", "day")
        // tail only when unflushed events exist (see streamSlice)
        if (flushedOffset < headOffset)
          disk.unionByName(events.filter($"offset" > flushedOffset).toDF())
        else disk
      case None => events.toDF()
    }
    base.filter($"created_at" >= lit(from)).as[EventRow]
  }

  /** Latest event by global offset — same bucket-pruned path as
    * getEvents. QUIRK preserved from the reference (schema.sql:364):
    * filters only decider_id, NOT decider — two deciders sharing an id
    * return the globally latest of either.
    */
  def getLastEvent(deciderId: String): Option[EventRow] =
    streamSlice(deciderId)
      .orderBy($"offset".desc).limit(1).as[EventRow].collect().headOption

  def allEvents: Dataset[EventRow] = events

  def maxOffset(): Long = headOffset

  /** Immutability (M7, reference schema.sql:59-72): mutation APIs exist
    * but are silent no-ops returning 0 affected rows — the reference's
    * tests distinguish this from an error.
    */
  def updateEvents(): Long = 0L
  def deleteEvents(): Long = 0L

  // ------------------------------------------------------------------
  // Persistence: Parquet at rest, hash-bucketed by decider_id so
  // stream scans prune and the streaming join co-locates (SURVEY X1/X2).

  /** (dir, buckets) when the log was loaded from / saved to parquet —
    * enables partition-pruned stream scans in getEvents.
    */
  @volatile private var diskLayout: Option[(String, Int)] = None

  /** Optional at-rest-log writer lease (an [[FsMutex]] with `_writer-`
    * claims, failing fast like [[ControlJournal]]'s): without it, two
    * PROCESSES calling save() or compact() on the same dir race the
    * `_current` pointer flip — the manifest serializes readers against
    * ONE writer, not writers against each other. With it, the second
    * live writer is rejected at [[acquireLogWriter]], and every publish
    * re-verifies the lease ([[FsMutex.refresh]] throws if a higher
    * epoch fenced us after a crash-length pause).
    */
  @volatile private var logLease: Option[FsMutex] = None

  /** Claim exclusive write ownership of the log at `dir`, or throw
    * [[ControlJournal.OwnershipHeldException]] while another live
    * writer holds it. A crashed writer's lease expires and the next
    * claimant takes over atomically (epoch-file create-exclusive).
    */
  def acquireLogWriter(dir: String,
                       ownerId: String = java.util.UUID.randomUUID().toString,
                       leaseMs: Long = 60000L): Unit = commitLock.synchronized {
    require(logLease.isEmpty, "log writer lease already held; release it first")
    val p = new HPath(dir)
    val lease = new FsMutex(p, FileSystem.get(p.toUri, spark.sparkContext.hadoopConfiguration),
      ownerId, () => now(), leaseMs, prefix = "_writer-", acquireDeadlineMs = 0L)
    lease.acquire()
    logLease = Some(lease)
  }

  def releaseLogWriter(): Unit = commitLock.synchronized {
    logLease.foreach(_.release())
    logLease = None
  }

  /** Called at the top of every publishing mutation: re-verify (and
    * refresh) the lease so a stale writer fails fast before paying for
    * the write job. NOT sufficient on its own — the job may outlast
    * the lease — hence [[fenceLogWriter]] right before publication.
    */
  private def verifyLogWriter(): Unit = logLease.foreach(_.refresh())

  /** Called immediately BEFORE the `_current` pointer flip (or an
    * in-place append): an unconditional epoch listing, so a writer
    * whose lease expired during the preceding (arbitrarily long) write
    * job throws instead of clobbering a successor's publish. The
    * half-life-gated [[verifyLogWriter]] cannot catch that case.
    */
  private def fenceLogWriter(): Unit = logLease.foreach(_.assertHeld())

  /** Offset up to which the log at `diskLayout` already holds our
    * events — the watermark [[saveIncrement]] flushes from.
    */
  @volatile private var flushedOffset: Long = 0L

  /** Partition columns of the at-rest layout: hash bucket of the
    * stream key (identity scans prune it) × UTC day of created_at
    * (time-range scans prune it) — the two access paths the reference
    * serves with its (decider_id, decider) and offset btrees
    * (schema.sql:56). Day is derived, never stored in the row.
    */
  private def withLayoutCols(df: DataFrame, buckets: Int): DataFrame =
    df.withColumn("bucket", pmod(hash($"decider_id"), lit(buckets)))
      .withColumn("day", date_format($"created_at", "yyyy-MM-dd"))

  /** Resolve the live events directory through the `_current` manifest
    * pointer (see [[EventStore.resolveEventsPath]]).
    */
  private def eventsPath(dir: String): String =
    EventStore.resolveEventsPath(dir, spark.sparkContext.hadoopConfiguration)

  /** At-rest schema = row columns + the two partition columns. Every
    * read of an event directory passes it EXPLICITLY: an EMPTY log's
    * published version holds no files at all, and schema inference on
    * it throws — save() of a fresh store, or a reader loading it,
    * would crash (the lifecycle property caught this on its first
    * step). With the schema supplied, empty reads are just empty.
    */
  private lazy val atRestSchema = org.apache.spark.sql.Encoders.product[EventRow]
    .schema.add("bucket", "int").add("day", "string")

  private def readEventsDir(path: String): DataFrame =
    spark.read.schema(atRestSchema).parquet(path)

  /** Full snapshots publish MVCC-style: write a NEW `events_v<N>`
    * directory, then atomically flip the `_current` pointer — a reader
    * resolving the pointer never observes a half-written or absent
    * directory (the reference's readers never see a vacuum mid-swap
    * either; this is the manifest-indirection analogue). The
    * immediately-previous version is RETAINED so in-flight scans that
    * already listed its files finish; versions older than that are
    * deleted.
    */
  def save(dir: String, buckets: Int = 32, retainDepth: Int = 1): Unit = commitLock.synchronized {
    verifyLogWriter()
    val newVer = EventStore.nextVersionName(dir, spark.sparkContext.hadoopConfiguration)
    withLayoutCols(events.toDF(), buckets)
      .write.partitionBy("bucket", "day").mode("overwrite").parquet(s"$dir/$newVer")
    deciderRegistry.write.mode("overwrite").parquet(s"$dir/deciders")
    decidersSavedAt = Some((dir, decidersVersion))
    fenceLogWriter()
    EventStore.publishVersion(dir, newVer, spark.sparkContext.hadoopConfiguration, retainDepth)
    // rebase the in-memory plan onto the just-published version: the
    // plan may still lazily reference files of an OLDER version that
    // the next rewrite retires — exactly the compact() hazard, so the
    // same rebase (also truncates the union lineage for free)
    events = readEventsDir(s"$dir/$newVer").drop("bucket", "day").as[EventRow]
    diskLayout = Some((dir, buckets))
    flushedOffset = headOffset
  }

  /** Incremental flush: append only events past the flushed watermark
    * into the same bucketed layout. At 100 TB a full-log rewrite per
    * checkpoint is impossible — the flush must be proportional to the
    * NEW data, which this is (one filtered scan of the in-memory tail,
    * appended under `bucket=`-partitioned dirs). The cost is small
    * files accumulating per bucket — [[compact]] is the repair.
    * Falls back to a full [[save]] when `dir` was never initialized.
    * Returns the number of events flushed.
    */
  def saveIncrement(dir: String, buckets: Int = 32): Long = commitLock.synchronized {
    verifyLogWriter()
    if (!diskLayout.exists(_._1 == dir)) { save(dir, buckets); return headOffset }
    val since = flushedOffset
    val tail = events.filter($"offset" > since)
    val n = tail.count()
    if (n > 0) {
      // appends land INSIDE the current version dir (additive — new
      // files appearing mid-listing is benign); only full rewrites
      // (save/compact) bump the version pointer. Fence first: a fenced
      // writer appending into a dir a successor already retired would
      // silently lose those events.
      fenceLogWriter()
      // size the write to the TAIL, not the lineage: the tail's plan
      // inherits partitions from the parquet read + every appended
      // batch (mostly empty at flush time), and each non-empty task
      // writes a file per (bucket, day) it holds — guide §6 output
      // sizing. n is known; one task per `incrementRowsPerTask` rows
      // (conf `spark.graft.store.incrementRowsPerTask`) keeps flush
      // files at target size at ANY tail size, and coalesce never
      // increases partitions, so a huge tail keeps its parallelism.
      val rowsPerTask = spark.conf
        .getOption("spark.graft.store.incrementRowsPerTask")
        .map(_.toLong).getOrElse(262144L)
      val tasks = math.max(1L, (n + rowsPerTask - 1) / rowsPerTask).toInt
      withLayoutCols(tail.toDF(), diskLayout.get._2).coalesce(tasks)
        .write.partitionBy("bucket", "day").mode("append").parquet(eventsPath(dir))
      // the registry rewrite is skipped when THIS writer already wrote
      // this exact registry version to this dir (registrations are
      // rare; the flush loop is not)
      if (!decidersSavedAt.contains((dir, decidersVersion))) {
        deciderRegistry.write.mode("overwrite").parquet(s"$dir/deciders")
        decidersSavedAt = Some((dir, decidersVersion))
      }
      flushedOffset = headOffset
    }
    n
  }

  /** Compact the on-disk log: rewrite each bucket partition as one
    * parquet file, rows sorted by (decider_id, offset) so row-group
    * min/max stats make decider_id predicates skip inside the bucket
    * too (the scan prunes twice: directory-level on the hash bucket,
    * row-group-level on the sorted key). The rewrite is
    * shuffle-bounded by the log size, runs fully distributed, and
    * publishes MVCC-style through the `_current` manifest pointer:
    * the compacted copy lands in a fresh `events_v<N>` directory and
    * one atomic pointer flip makes it live — there is NO window where
    * a new reader's listing can fail, and in-flight scans on the
    * previous version finish against its retained files (deleted only
    * by the NEXT rewrite). `retainDepth` widens that window: the N
    * youngest superseded versions survive, so a reader's scan is safe
    * as long as it finishes within N rewrites of resolving its version
    * — size it to (max scan duration / min rewrite interval).
    */
  def compact(dir: String, retainDepth: Int = 1): Unit = commitLock.synchronized {
    verifyLogWriter()
    require(diskLayout.exists(_._1 == dir), s"no saved log at $dir")
    val conf = spark.sparkContext.hadoopConfiguration
    val curPath = eventsPath(dir)
    val newVer = EventStore.nextVersionName(dir, conf)
    readEventsDir(curPath)
      .repartition(col("bucket"), col("day"))
      .sortWithinPartitions($"bucket", $"day", $"decider_id", $"offset")
      .write.partitionBy("bucket", "day").mode("overwrite").parquet(s"$dir/$newVer")
    // after load(), the in-memory `events` plan lazily READS the files
    // of the version being retired — materialize the (bounded)
    // unflushed tail now, then rebase `events` onto the compacted copy,
    // so post-compact reads never depend on retired files
    val tail = events.filter($"offset" > flushedOffset).localCheckpoint(true)
    fenceLogWriter()
    EventStore.publishVersion(dir, newVer, conf, retainDepth)
    events = readEventsDir(s"$dir/$newVer").drop("bucket", "day").as[EventRow]
      .union(tail)
  }

  def load(dir: String, buckets: Int = 32): Unit = commitLock.synchronized {
    sketchComplete = false // history not seen by the driver
    hotStreams.clear()
    events = readEventsDir(eventsPath(dir)).drop("bucket", "day")
      .as[EventRow]
    diskLayout = Some((dir, buckets))
    decidersMap.clear()
    spark.read.parquet(s"$dir/deciders").as[DeciderRegistration]
      .collect().foreach(d =>
        decidersMap((d.decider, d.event, d.event_version)) = d)
    // in-memory registry now equals the on-disk copy of THIS dir
    decidersSavedAt = Some((dir, decidersVersion))
    val heads = events.agg(max($"offset"), max($"transaction_id")).collect().headOption
    headOffset = heads.flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Long])).getOrElse(0L)
    nextTxn = heads.flatMap(r => Option(r.get(1)).map(_.asInstanceOf[Long])).getOrElse(0L) + 1
    flushedOffset = headOffset
  }
}

object EventStore {
  // ------------------------------------------------------------------
  // Manifest-pointer publication for the at-rest log. `_current` names
  // the live `events_v<N>` directory; rewrites publish a new version
  // and flip the pointer atomically (temp-file + rename). External
  // readers resolve through [[resolveEventsPath]] too, so the same
  // no-vacuum guarantee holds outside this class.

  private val PointerFile = "_current"
  private val VersionName = """events_v(\d+)""".r

  /** The live events directory under `dir`: the version the `_current`
    * pointer names; with no pointer, the highest on-disk `events_v<N>`
    * (covers a crash that lost the pointer mid-flip), else the legacy
    * unversioned `$dir/events` (pre-versioning logs read unchanged).
    */
  def resolveEventsPath(dir: String, conf: Configuration): String =
    readPointer(dir, conf).map(v => s"$dir/$v")
      .orElse(latestVersionOnDisk(dir, conf).map(v => s"$dir/$v"))
      .getOrElse(s"$dir/events")

  private def latestVersionOnDisk(dir: String, conf: Configuration): Option[String] = {
    val fs = FileSystem.get(new java.net.URI(dir), conf)
    val d = new HPath(dir)
    if (!fs.exists(d)) None
    else fs.listStatus(d).toSeq.map(_.getPath.getName)
      .collect { case v @ VersionName(n) => (n.toLong, v) }
      .sortBy(_._1).lastOption.map(_._2)
  }

  private def readPointer(dir: String, conf: Configuration): Option[String] = {
    val fs = FileSystem.get(new java.net.URI(dir), conf)
    val p = new HPath(s"$dir/$PointerFile")
    var attempt = 0
    while (true) {
      try {
        if (!fs.exists(p)) return None
        val in = fs.open(p)
        try return Some(
          new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim)
        finally in.close()
      } catch {
        // Transient by construction: the pointer flip renames the data
        // file and (on ChecksumFileSystem, i.e. local FS) its .crc
        // sidecar in two non-atomic steps, so a concurrent reader can
        // catch the window where they mismatch (ChecksumException) or
        // the file is mid-replace (FileNotFoundException after the
        // exists check). The flip completes in microseconds — retry
        // briefly; a PERSISTENT error is real and rethrows.
        case e @ (_: org.apache.hadoop.fs.ChecksumException
                  | _: java.io.FileNotFoundException) =>
          attempt += 1
          if (attempt > 50) throw e
          Thread.sleep(2)
      }
    }
    None // unreachable
  }

  /** Next version to write: one past the max of the pointer's version
    * and the highest on-disk `events_v<N>`. The disk fallback matters
    * when the pointer was lost (the crash case [[resolveEventsPath]]'s
    * own fallback exists for): numbering must continue PAST the
    * version concurrent readers are actively resolving to, or the next
    * rewrite would restart at v1 and immediately delete the live
    * fallback version out from under them.
    */
  private[store] def nextVersionName(dir: String, conf: Configuration): String = {
    val fromPtr = readPointer(dir, conf).collect { case VersionName(d) => d.toLong }
    val fromDisk = latestVersionOnDisk(dir, conf).collect { case VersionName(d) => d.toLong }
    s"events_v${(fromPtr ++ fromDisk).maxOption.getOrElse(0L) + 1}"
  }

  /** Atomically flip `_current` to `newVer`, then delete every version
    * directory except the new one and its `retainDepth` youngest
    * predecessors (kept for scans that listed files before the flip —
    * the reader-lifetime contract: a scan must finish within
    * `retainDepth` subsequent rewrites of the version it resolved, or
    * its files may be deleted mid-scan). The legacy unversioned
    * `$dir/events` directory counts as the OLDEST predecessor: it is
    * retained through the rewrite that republishes its data and
    * retired by a later one, like any superseded version — never kept
    * forever, never silently resurrectable. The flip uses FileContext's
    * rename-with-OVERWRITE — one atomic replace, no deleted-pointer
    * window (a plain FileSystem.rename cannot replace, which would
    * force delete-then-rename and a vacuum a concurrent
    * [[resolveEventsPath]] could fall into; the max-version fallback
    * there additionally covers a crash that loses the pointer — and
    * predecessors are computed from DISK, not the pointer, so that
    * fallback-live version stays retained too).
    */
  private[store] def publishVersion(dir: String, newVer: String,
                                    conf: Configuration,
                                    retainDepth: Int = 1): Unit = {
    val fs = FileSystem.get(new java.net.URI(dir), conf)
    // Read the pointer BEFORE the flip: the version readers are
    // actively resolving to MUST survive this rewrite regardless of
    // how the on-disk dirs sort. A crash-orphaned higher-numbered dir
    // (a save that wrote events_vN but died before flipping) would
    // otherwise rank as the youngest predecessor and, at retainDepth=1,
    // push the pointer-live previous version out of the keep set —
    // deleting it out from under in-flight scans.
    val pointerPrev = readPointer(dir, conf)
    val tmp = new HPath(s"$dir/.tmp-$PointerFile")
    val out = fs.create(tmp, true)
    try out.write(newVer.getBytes("UTF-8")) finally out.close()
    val ptr = new HPath(s"$dir/$PointerFile")
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      fs.makeQualified(ptr).toUri, conf)
    fc.rename(fs.makeQualified(tmp), fs.makeQualified(ptr),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    val legacy = new HPath(s"$dir/events")
    val predecessors = // youngest-first, legacy oldest
      (fs.listStatus(new HPath(dir)).toSeq.map(_.getPath.getName)
        .collect { case v @ VersionName(n) if v != newVer => (n.toLong, v) }
        ++ (if (fs.exists(legacy)) Seq((0L, "events")) else Nil))
        .sortBy(-_._1).map(_._2)
    val keep = Set(newVer) ++ pointerPrev ++ predecessors.take(math.max(retainDepth, 0))
    fs.listStatus(new HPath(dir)).foreach { st =>
      st.getPath.getName match {
        case v @ VersionName(_) if !keep(v) => fs.delete(st.getPath, true)
        case "events" if !keep("events") => fs.delete(st.getPath, true)
        case _ => ()
      }
    }
  }

  /** Row shape after the join-based validation stages, consumed by the
    * per-stream sequential replay. Top-level so Spark can derive an
    * Encoder (local case classes cannot get TypeTags).
    */
  final case class Flagged(in: EventInput, input_idx: Long, registered: Boolean,
                           prev_in_stream: Boolean, dup_event_id: Boolean,
                           dup_prev_id: Boolean, finalized: Boolean,
                           n_committed: Long, eid_rank: Int)

  /** Batches at or below this size validate through the driver-side
    * fast path (two narrow lookup jobs + [[replayStream]] locally);
    * larger batches run the distributed join/window pipeline. The
    * semantics are identical — replayStream IS the shared replay — the
    * fast path only changes where the (bounded) flag computation runs.
    */
  val SmallBatchMax = 64

  /** Per-stream sequential replay: the reference's trigger pipeline in
    * alphabetical firing order (t_check_final..., t_check_first...,
    * t_check_previous..., schema.sql:91-146), then constraints, with
    * intra-batch visibility (earlier accepted rows of the same stream
    * count as existing; an accepted final blocks later rows). Pure —
    * executed inside flatMapGroups on executors for large batches and
    * directly on the driver for small ones (same code = same
    * semantics).
    */
  def replayStream(rows: Seq[Flagged]): Seq[(EventInput, Long, String)] = {
    val sorted = rows.sortBy(_.input_idx)
    var exists = sorted.headOption.exists(_.n_committed > 0)
    var finalized = sorted.headOption.exists(_.finalized)
    val localIds = scala.collection.mutable.Set.empty[String]
    val localPrevs = scala.collection.mutable.Set.empty[String]
    sorted.map { f =>
      val e = f.in
      val err: String =
        if (finalized) "final"
        else if (e.previous_id.isEmpty && exists) "null_prev"
        else if (e.previous_id.nonEmpty &&
                 !f.prev_in_stream && !e.previous_id.exists(localIds.contains))
          "prev_not_in_stream"
        else if (!f.registered) "fk"
        else if (f.dup_event_id || f.eid_rank > 1 || localIds.contains(e.event_id))
          "dup_event_id"
        else if (f.dup_prev_id || e.previous_id.exists(localPrevs.contains))
          "dup_prev_id"
        else ""
      if (err.isEmpty) {
        exists = true
        if (e.is_final) finalized = true
        localIds += e.event_id
        e.previous_id.foreach(localPrevs += _)
      }
      (e, f.input_idx, err)
    }
  }
}
