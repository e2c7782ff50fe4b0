package graft.store

import java.sql.Timestamp
import scala.reflect.ClassTag
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

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
  *    (schema.sql:32,44) become ONE per-stream sequential replay
  *    ([[EventStore.replayStream]]) that checks the batch's rows in
  *    input order per stream, over facts looked up in the committed
  *    log: for a batch of up to [[EventStore.SmallBatchMax]] rows, the
  *    driver's membership sketches or one per-task probe fold; above
  *    it, broadcast semi-/anti-joins plus ONE `flatMapGroups` over
  *    `(decider, decider_id)`. Either way: distributed across streams,
  *    sequential within a stream, which is exactly the guarantee the
  *    reference documents (ordering per partition, parallelism across
  *    partitions).
  *  - The global BIGSERIAL offset is a per-commit sequence continued
  *    from the committed head (SURVEY §7.4.1): client append batches
  *    are driver-bounded, so assignment happens with the (already
  *    driver-resident) validated batch; the bulk-ingest path for
  *    unbounded input uses `GlobalIndex.withOrderedIndex`
  *    (range-partitioned parallel sort + partition prefix sums).
  *
  * Commit model: the log is `base ∪ tail`.
  *  - The BASE is an in-memory checkpoint, hash-partitioned by stream:
  *    `partitions` partitions (the session's default parallelism,
  *    fixed per store), and stream `d` in partition
  *    `pmod(murmur3(d), partitions)` — Spark's own `HashPartitioning`
  *    expression, which [[EventStore.bucketOf]] evaluates on the
  *    driver. `load` builds it in the job that checkpoints the version;
  *    a bulk commit or a tail fold zips the new rows, partitioned the
  *    same way, onto it, so base rows never move. It depends on no
  *    version's files, so `save`/`compact` keep it.
  *  - The TAIL is the driver-resident rows committed since, shown to
  *    Spark as a LocalRelation. A commit appends to it and copies
  *    nothing, so a single-event append costs its validation alone
  *    and adds no partition to later scans. The tail folds into the
  *    base when it reaches [[EventStore.TailMaxRows]].
  *
  * A read of one stream ([[getEvents]], [[getLastEvent]]) and the
  * delivery fetch ([[ViewStreams.streamEvents]]) run on the base
  * partitions of their streams alone, one task each, decoding only
  * those streams' rows, plus the matching tail rows on the driver
  * ([[foldStreams]]): no file listing, no plan over the log, and work
  * proportional to one partition — the Spark analogue of the
  * reference's (decider_id, decider) index probe (schema.sql:56). A
  * stream whose base rows an earlier read has bounded needs no task
  * for the rows past that bound, so delivering an event appended
  * since the base to a stream read or appended before runs no job.
  * Validating a single append is driver work over Bloom sketches of
  * the log (which [[load]] builds) and the stream's exact state (see
  * the fast-path block): the OLTP command, read a stream and append
  * on its head, runs one job of one task in all.
  *
  * Scale notes (100 TB): validation joins against the committed log are
  * key-pruned — the batch's distinct `(decider, decider_id)` pairs are
  * joined (broadcast, they are bounded by batch size) against the log
  * first, so the per-stream state aggregation scans only the touched
  * partitions' data, not the whole log. Nothing here collects event
  * data to the driver beyond one stream's rows for a read; otherwise
  * only per-partition counts and the rejected-row channel (bounded by
  * batch size) leave the executors.
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

  /** Partitions of the base, fixed per store instance. */
  private val partitions: Int = spark.sparkContext.defaultParallelism

  /** The base partition holding stream `deciderId`. */
  private def partitionOf(deciderId: String): Int = EventStore.bucketOf(deciderId, partitions)

  /** The committed log `base ∪ tail` (see the class doc) as ONE
    * immutable snapshot, so lock-free readers see a consistent base,
    * tail and flush watermark.
    *  - `baseHead`: the highest offset in the base; 0 for an empty base
    *    (offsets start at 1), which has no partition worth a job. The
    *    unflushed rows sit in the tail alone whenever `baseHead <= flushed`.
    *  - `flushed`: offsets up to it are on disk under `diskLayout` —
    *    the watermark [[saveIncrement]] flushes from.
    */
  private final class Log(val base: Dataset[EventRow], val baseHead: Long,
                          val tail: Vector[EventRow], val flushed: Long) {
    lazy val all: Dataset[EventRow] = if (tail.isEmpty) base else base.union(tail.toDS())

    /** Unflushed rows: the driver-held tail alone, unless a bulk commit
      * or a tail fold since the last flush left unflushed rows in the
      * base.
      */
    def unflushed: Option[DataFrame] = {
      val fromTail = tail.filter(_.offset > flushed)
      val fromBase = Option.when(baseHead > flushed)(base.toDF().filter($"offset" > flushed))
      (fromBase ++ Option.when(fromTail.nonEmpty)(fromTail.toDS().toDF())).reduceOption(_ union _)
    }
  }
  @volatile private var log: Log =
    new Log(spark.emptyDataset[EventRow], 0L, Vector.empty, 0L)
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
    * Readers are lock-free — `log` is a @volatile immutable
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

    // (5) Atomic commit: the rows join the tail and become visible as
    // one new `log` snapshot (≙ one Delta commit / one micro-batch).
    if (accepted.nonEmpty) {
      commitToTail(accepted)
      headOffset = accepted.last.offset
      nextTxn += 1
      noteCommitted(accepted)
      onCommit(accepted)
    }
    AppendResult(accepted, rejected)
  }

  /** Append driver-resident committed rows to the tail: no job, no copy
    * of the log. At [[EventStore.TailMaxRows]] the tail folds into the
    * base ([[grownBase]]). Caller holds commitLock.
    */
  private def commitToTail(rows: Seq[EventRow]): Unit = {
    val l = log
    val tail = l.tail ++ rows
    log =
      if (tail.size < EventStore.TailMaxRows) new Log(l.base, l.baseHead, tail, l.flushed)
      else new Log(grownBase(l, byPartition(tail)),
        math.max(l.baseHead, tail.map(_.offset).max), Vector.empty, l.flushed)
  }

  /** Driver-resident rows as an RDD in the base's partitioning, built on
    * the driver: partition i holds the rows of the streams in base
    * partition i.
    */
  private def byPartition(rows: Seq[EventRow]): RDD[EventRow] = {
    val groups = rows.groupBy(e => partitionOf(e.decider_id))
    spark.sparkContext
      .parallelize((0 until partitions).map(i => groups.getOrElse(i, Nil)), partitions)
      .flatMap(identity)
  }

  /** The base of `l` plus `added` (in the base's partitioning), as a new
    * checkpoint in one job: the two are zipped partition by partition,
    * so base rows never reshuffle. Caller holds commitLock.
    */
  private def grownBase(l: Log, added: RDD[EventRow]): Dataset[EventRow] =
    spark.createDataset(
      if (l.baseHead == 0L) added else l.base.rdd.zipPartitions(added)(_ ++ _)
    ).localCheckpoint()

  /** The base as an RDD: partition i holds exactly the streams `d` with
    * `partitionOf(d) == i`.
    */
  private[store] def baseRdd: RDD[EventRow] = log.base.rdd

  /** Decodes a base row into an [[EventRow]]. Every base has the
    * encoder's column order (`load` reads the version with the
    * encoder's schema; the other bases are built from `EventRow`s).
    */
  private val decodeRow = ExpressionEncoder[EventRow]().resolveAndBind().createDeserializer()

  /** `f` over the base rows of partitions `parts` that pass `keep`, one
    * task per partition, in one job. `keep` reads the undecoded row, so
    * only the rows it passes pay the decoding into [[EventRow]]s (each
    * task decodes with its own copy of [[decodeRow]]).
    */
  private def foldBase[U: ClassTag](l: Log, parts: Seq[Int])(keep: InternalRow => Boolean)
                                  (f: Iterator[EventRow] => U): Seq[U] = {
    val decode = decodeRow
    spark.sparkContext.runJob(l.base.queryExecution.toRdd,
      (it: Iterator[InternalRow]) => f(it.filter(keep).map(decode)), parts).toSeq
  }

  /** What the reads of one base have learned of its streams: per
    * stream, an upper bound on its highest offset in that base
    * (`Long.MinValue`: no row there). A read that wants only the rows
    * past the bound needs no task ([[foldStreamsOf]]). A base never
    * changes, so the bounds hold for as long as it is the live one.
    * Bounded LRU; eviction only costs a task.
    */
  private final class BaseHeads(val base: Dataset[EventRow]) {
    private val bound = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    def get(id: String): Option[Long] = synchronized(bound.get(id))
    def note(id: String, head: Long): Unit = synchronized {
      bound.remove(id) // re-insert = LRU touch
      bound(id) = head
      while (bound.size > HotStreamCap) bound.remove(bound.head._1)
    }
  }
  @volatile private var baseHeads = new BaseHeads(log.base)

  private def baseHeadsOf(l: Log): BaseHeads = {
    val h = baseHeads
    if (h.base eq l.base) h else { val fresh = new BaseHeads(l.base); baseHeads = fresh; fresh }
  }

  /** `f` over the committed rows of snapshot `l` of the streams keyed
    * in `after` whose offset exceeds the stream's value there
    * (`Long.MinValue`: the whole stream, [[EventStore.wholeStreams]]):
    * once per base partition holding such rows — one task each, in one
    * job, on the partitions computed on the driver, decoding only those
    * rows — and once, on the driver, over the tail's (the last result).
    * A stream whose base rows a read of this base has shown to lie at
    * or below its value ([[BaseHeads]]) needs no task, so a delivery
    * fetch of rows committed since the base, of streams read before, is
    * driver work alone. No file is listed or read and no query is
    * planned; an empty base runs no job. Shared by the single-stream
    * reads, the delivery fetch and append validation.
    */
  private def foldStreamsOf[U: ClassTag](l: Log, after: Map[String, Long])(f: Iterator[EventRow] => U): Seq[U] = {
    val heads = baseHeadsOf(l)
    val read =
      if (l.baseHead == 0L) Map.empty[String, Long]
      else after.filterNot { case (id, from) => heads.get(id).exists(_ <= from) }
    val fromBase =
      if (read.isEmpty) Nil
      else {
        val readUtf8 = read.map { case (id, from) => UTF8String.fromString(id) -> from }
        val parts = foldBase(l, read.keys.toSeq.map(partitionOf).distinct.sorted)(r =>
          readUtf8.get(r.getUTF8String(EventStore.DeciderIdCol)).exists(r.getLong(EventStore.OffsetCol) > _)) { it =>
          val rows = it.toVector
          (f(rows.iterator), rows.groupMapReduce(_.decider_id)(_.offset)(math.max))
        }
        // no row past `from` bounds the stream's base rows by `from`
        val highest = parts.flatMap(_._2).toMap
        read.foreach { case (id, from) => heads.note(id, highest.getOrElse(id, from)) }
        parts.map(_._1)
      }
    fromBase :+ f(l.tail.iterator.filter(e => after.get(e.decider_id).exists(e.offset > _)))
  }

  /** [[foldStreamsOf]] on the live log. */
  private[store] def foldStreams[U: ClassTag](after: Map[String, Long])(f: Iterator[EventRow] => U): Seq[U] =
    foldStreamsOf(log, after)(f)

  // ------------------------------------------------------------------
  // OLTP fast path: membership sketches + exact stream states.
  //
  // The reference wins the sequential single-append shape outright
  // (µs B-tree probes vs ~100 ms of Spark job overhead per validation
  // lookup). The fix is driver state that answers the validation
  // questions withOUT a job — but ONLY when it can answer them
  // EXACTLY; anything uncertain falls back to a job, so the semantics
  // cannot diverge:
  //
  //  - `sketch`: Bloom filters over ALL committed event_ids, claimed
  //    previous_ids, and stream keys. While `sketchComplete` holds
  //    (fresh store; after `load`, which builds them in the job that
  //    finds the heads; after [[enableFastAppend]]) a MISS is
  //    definitive — the id/prev/stream is certainly absent — and that
  //    is the only answer the fast path trusts; an id or prev hit
  //    (present OR false positive) routes to the whole-log probe job.
  //  - `hotStreams`: exact (finalized, n > 0, head event id) per stream
  //    — maintained under commitLock at commit, so the chained-append
  //    shape (prev = current head) resolves prev-existence exactly.
  //    A stream that is not hot takes its state from the last
  //    [[getEvents]] while the log it read is still the live one, or
  //    else from one [[foldStreams]] task on its own partition. Bounded
  //    LRU; eviction only costs that task.
  //
  // commitBulk sets sketchComplete = false (rows not seen by the
  // driver); enableFastAppend re-seeds. Shared-log replicas fold small
  // rival commits through commitReplicated, which keeps the sketches;
  // a big one goes through commitBulk and disables the fast path —
  // conservative, never wrong.

  private var sketch = new EventStore.LogSketch(EventStore.SketchItems, 0.01)
  private var sketchComplete = true
  private final case class HotStream(finalized: Boolean, n: Long, headId: Option[String])
  private object HotStream {
    /** The state of one stream from all its committed rows. */
    def of(rows: Seq[EventRow]): HotStream =
      HotStream(rows.exists(_.is_final), rows.size.toLong, rows.maxByOption(_.offset).map(_.event_id))
  }
  private val hotStreams =
    scala.collection.mutable.LinkedHashMap.empty[(String, String), HotStream]
  private val HotStreamCap = 65536

  /** The state [[getEvents]] last read, with the snapshot it read (held
    * weakly, so a stale read keeps no base alive).
    */
  private final class StreamRead(val at: java.lang.ref.WeakReference[Log],
                                 val key: (String, String), val state: HotStream)
  @volatile private var lastRead: Option[StreamRead] = None

  /** Sketch `base` in one job: each partition sketches its
    * rows ([[EventStore.LogSketch]]), and the driver merges each
    * partition's sketch as it arrives.
    */
  private def sketchBase(base: Dataset[EventRow], items: Long, fpp: Double): EventStore.LogSketch = {
    val merged = new EventStore.LogSketch(items, fpp)
    spark.sparkContext.runJob(base.queryExecution.toRdd,
      (it: Iterator[InternalRow]) => { val s = new EventStore.LogSketch(items, fpp); it.foreach(s.add); s },
      (_: Int, s: EventStore.LogSketch) => merged.merge(s))
    merged
  }

  /** Re-seed the membership sketches from the committed log (one job
    * over the base, the tail on the driver) and re-arm the zero-job
    * append fast path after a bulk ingest. Sketch memory is ~1.2 MB
    * per 10⁶ ids at 1% fpp — size `fpp` down (or skip enabling) if
    * driver memory is tighter than append latency.
    */
  def enableFastAppend(fpp: Double = 0.01): Unit = commitLock.synchronized {
    val l = log
    sketch = sketchBase(l.base, math.max(1024L, headOffset * 2), fpp)
    l.tail.foreach(sketch.add)
    hotStreams.clear()
    sketchComplete = true
  }

  /** Record an accepted commit in the fast-path state (caller holds
    * commitLock).
    */
  private def noteCommitted(accepted: Seq[EventRow]): Unit = {
    accepted.foreach(sketch.add)
    accepted.groupBy(e => (e.decider, e.decider_id)).foreach { case (k, es) =>
      val prior = hotStreams.remove(k) // re-insert = LRU touch
      val fin = prior.exists(_.finalized) || es.exists(_.is_final)
      val n = prior.map(_.n).getOrElse(0L) + es.size
      remember(k, HotStream(fin, n, Some(es.last.event_id)))
    }
  }

  private def remember(k: (String, String), h: HotStream): Unit = {
    hotStreams(k) = h
    while (hotStreams.size > HotStreamCap) hotStreams.remove(hotStreams.head._1)
  }

  /** Make every stream of `keys` that the sketch may hold hot: from the
    * last read when it read the live log, else from one [[foldStreams]]
    * job over their partitions. Either state is exact for the live log,
    * which cannot change under commitLock (caller holds it).
    */
  private def makeHot(keys: Seq[(String, String)]): Unit = {
    val cold = keys.filter(k => !hotStreams.contains(k) &&
      sketch.streams.mightContainString(EventStore.streamKey(k._1, k._2)))
    val l = log
    val read = lastRead.filter(r => (r.at.get eq l) && cold.contains(r.key))
    read.foreach(r => remember(r.key, r.state))
    val rest = cold.filterNot(k => read.exists(_.key == k)).toSet
    if (rest.nonEmpty) {
      val rows = foldStreamsOf(l, EventStore.wholeStreams(rest.map(_._2)))(
        _.filter(e => rest((e.decider, e.decider_id))).toVector).flatten
      val byStream = rows.groupBy(e => (e.decider, e.decider_id))
      rest.foreach(k => remember(k, HotStream.of(byStream.getOrElse(k, Nil))))
    }
  }

  /** Validation with no job, or at most one task per stream partition:
    * Some(flags) when EVERY row of the batch is exactly answerable from
    * the sketches + exact stream states, None otherwise (caller runs
    * the whole-log probe). Accept decisions only ever ride on definitive
    * answers: sketch MISSES and exact stream states.
    */
  private def fastValidate(batch: Seq[EventInput]): Option[Seq[(EventInput, Long, String)]] = {
    if (!sketchComplete) return None
    // maybe a duplicate id, or maybe a claimed previous id
    if (batch.exists(e => sketch.ids.mightContainString(e.event_id) ||
          e.previous_id.exists(sketch.prevs.mightContainString))) return None
    makeHot(batch.map(e => (e.decider, e.decider_id)).distinct)
    val flagged = batch.zipWithIndex.map { case (e, idx) =>
      // a stream the sketch misses is certainly absent: (false, 0)
      val hot = hotStreams.get((e.decider, e.decider_id))
      val (fin, n) = hot.map(h => (h.finalized, h.n)).getOrElse((false, 0L))
      val prevInStream = e.previous_id.exists { p =>
        if (!sketch.ids.mightContainString(p)) false // definitely absent; intra-batch handled by replay
        else if (hot.exists(_.headId.contains(p))) true // exact: the stream's head
        else return None // committed somewhere, membership unknown
      }
      val rank = batch.take(idx).count(_.event_id == e.event_id) + 1
      EventStore.Flagged(e, idx.toLong,
        decidersMap.contains((e.decider, e.event, e.event_version)),
        prev_in_stream = prevInStream, dup_event_id = false,
        dup_prev_id = false, finalized = fin, n_committed = n, eid_rank = rank)
    }
    Some(flagged.groupBy(f => (f.in.decider, f.in.decider_id))
      .values.toSeq.flatMap(EventStore.replayStream))
  }

  /** Driver-side fast path for bounded batches (≤ SmallBatchMax): when
    * the sketches and the exact stream states can answer, validation is
    * pure driver work ([[fastValidate]], zero jobs — the OLTP
    * chained-append shape — or one task per cold stream); otherwise the
    * committed-log facts come from ONE job, one scan and no exchange: a
    * per-task fold over the whole base (the [[ViewStreams.streamEvents]]
    * stage 3+4 pattern), decoding only the rows of the batch's streams,
    * ids and previous ids, returns per task one state row per batch
    * stream and the id/prev hits; the tail folds on the driver and the
    * driver merges them. The replay itself is
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
    val batchIds = inputs.map(_._1.event_id).distinct
    val batchPrevs = inputs.flatMap(_._1.previous_id).distinct
    val streams = inputs.map(t => (t._1.decider, t._1.decider_id)).toSet
    val probed = (batchIds ++ batchPrevs).toSet
    val prevs = batchPrevs.toSet
    val fold = EventStore.probeFold(streams, probed, prevs)
    val l = log
    val streamIds = streams.map(_._2)
    val fromBase =
      if (l.baseHead == 0L) Nil
      else foldBase(l, 0 until partitions)(r =>
        streamIds(r.getUTF8String(EventStore.DeciderIdCol).toString) ||
          probed(r.getUTF8String(EventStore.EventIdCol).toString) ||
          (!r.isNullAt(EventStore.PreviousIdCol) &&
            prevs(r.getUTF8String(EventStore.PreviousIdCol).toString)))(fold)
    val partials = fromBase :+ fold(l.tail.iterator)
    // per-stream committed state (exists / finalized)
    val state: Map[(String, String), (Boolean, Long)] = partials.toSeq.flatMap(_._1)
      .groupMapReduce(_._1)(_._2) { case ((f1, n1), (f2, n2)) => (f1 || f2, n1 + n2) }
    // committed id/prev membership: event_id ∈ batchPrevs feeds the
    // prev-existence check; event_id ∈ batchIds and previous_id ∈
    // batchPrevs feed the two dup checks
    val hits = partials.toSeq.flatMap(_._2)
    val idsSet = batchIds.toSet
    val prevsSet = batchPrevs.toSet
    val committedIds = hits.map(_.event_id).filter(idsSet).toSet
    val committedPrevs = hits.flatMap(_.previous_id).filter(prevsSet).toSet
    // prev_in_stream: the claimed previous event exists in the SAME stream
    val inStream: Set[(String, String, String)] =
      hits.map(h => (h.event_id, h.decider, h.decider_id)).toSet
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
    val events = log.all
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
      .join(committedIds, $"in.event_id" === $"c_event_id", "left")
      .join(committedPrevs, $"in.previous_id" === $"c_prev_id", "left")
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
      // a bulk is not driver-resident: it folds the tail and lands in a
      // new checkpointed base, exchanged into the base's partitioning
      val l = log
      headOffset = math.max(headOffset,
        staged.agg(max($"offset")).collect().head.getLong(0))
      val added = l.tail.toDS().union(staged).repartition(partitions, $"decider_id")
      log = new Log(grownBase(l, added.rdd), headOffset, Vector.empty, l.flushed)
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
    commitToTail(rows)
    headOffset = math.max(headOffset, rows.map(_.offset).max)
    nextTxn += 1
    noteCommitted(rows)
    onCommit(rows)
  }

  // ------------------------------------------------------------------
  // Scans (reference get_events/get_last_event, schema.sql:348-367)

  /** The stream in offset order: its base partition's rows, read by one
    * task that decodes only the stream's rows ([[foldStreams]]), plus
    * its tail rows, sorted on the driver — a stream is small. The result
    * is driver-resident, so collecting it runs no further job. The read
    * also leaves the stream's exact state for validation: an append to
    * it before the log changes runs no job ([[fastValidate]]).
    */
  def getEvents(deciderId: String, decider: String): Dataset[EventRow] = {
    val l = log
    val rows = foldStreamsOf(l, EventStore.wholeStreams(Seq(deciderId)))(_.filter(_.decider == decider).toVector)
      .flatten.sortBy(_.offset)
    lastRead = Some(new StreamRead(new java.lang.ref.WeakReference(l), (decider, deciderId), HotStream.of(rows)))
    rows.toDS()
  }

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
    val l = log
    val slice = diskLayout match {
      case Some((dir, _)) =>
        val disk = readEventsDir(eventsPath(dir))
          .filter($"day" >= fromDay)
          .drop("bucket", "day")
        l.unflushed.fold(disk)(disk.unionByName(_))
      case None => l.all.toDF()
    }
    slice.filter($"created_at" >= lit(from)).as[EventRow]
  }

  /** Latest event by global offset — the same one-partition path as
    * getEvents, each task keeping only its latest row. QUIRK preserved
    * from the reference (schema.sql:364): filters only decider_id, NOT
    * decider — two deciders sharing an id return the globally latest of
    * either.
    */
  def getLastEvent(deciderId: String): Option[EventRow] =
    foldStreams(EventStore.wholeStreams(Seq(deciderId)))(_.maxByOption(_.offset)).flatten.maxByOption(_.offset)

  def allEvents: Dataset[EventRow] = log.all

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
    * the target of [[saveIncrement]]/[[compact]] and the source of
    * [[eventsSince]]'s day-pruned scan.
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
    * deleted. The version records its bucket count (`_buckets`), which
    * [[load]] and [[compact]] use from then on.
    */
  def save(dir: String, buckets: Int = 32, retainDepth: Int = 1): Unit = commitLock.synchronized {
    verifyLogWriter()
    val conf = spark.sparkContext.hadoopConfiguration
    val newVer = VersionedDir.EventLog.nextVersionName(dir, conf)
    withLayoutCols(log.all.toDF(), buckets)
      .write.partitionBy("bucket", "day").mode("overwrite").parquet(s"$dir/$newVer")
    EventStore.writeBuckets(s"$dir/$newVer", buckets, conf)
    deciderRegistry.write.mode("overwrite").parquet(s"$dir/deciders")
    decidersSavedAt = Some((dir, decidersVersion))
    fenceLogWriter()
    EventStore.publishVersion(dir, newVer, conf, retainDepth)
    // the in-memory log reads no version's files: it stays as it is,
    // now flushed up to the head
    val l = log
    log = new Log(l.base, l.baseHead, l.tail, headOffset)
    diskLayout = Some((dir, buckets))
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
    val l = log
    val pending = l.unflushed
    // the unflushed rows are usually all in the driver-held tail, which
    // counts them without a job
    val n = if (l.baseHead > l.flushed) pending.fold(0L)(_.count())
      else l.tail.count(_.offset > l.flushed).toLong
    if (n > 0) {
      // appends land INSIDE the current version dir (additive — new
      // files appearing mid-listing is benign); only full rewrites
      // (save/compact) bump the version pointer. Fence first: a fenced
      // writer appending into a dir a successor already retired would
      // silently lose those events.
      fenceLogWriter()
      // size the write to the unflushed rows, not the lineage: their
      // plan may inherit partitions from the base, and each non-empty task
      // writes a file per (bucket, day) it holds — guide §6 output
      // sizing. n is known; one task per `incrementRowsPerTask` rows
      // (conf `spark.graft.store.incrementRowsPerTask`) keeps flush
      // files at target size at ANY tail size, and coalesce never
      // increases partitions, so a huge tail keeps its parallelism.
      val rowsPerTask = spark.conf
        .getOption("spark.graft.store.incrementRowsPerTask")
        .map(_.toLong).getOrElse(262144L)
      val tasks = math.max(1L, (n + rowsPerTask - 1) / rowsPerTask).toInt
      withLayoutCols(pending.get, diskLayout.get._2).coalesce(tasks)
        .write.partitionBy("bucket", "day").mode("append").parquet(eventsPath(dir))
      // the registry rewrite is skipped when THIS writer already wrote
      // this exact registry version to this dir (registrations are
      // rare; the flush loop is not)
      if (!decidersSavedAt.contains((dir, decidersVersion))) {
        deciderRegistry.write.mode("overwrite").parquet(s"$dir/deciders")
        decidersSavedAt = Some((dir, decidersVersion))
      }
      log = new Log(l.base, l.baseHead, l.tail, headOffset)
    }
    n
  }

  /** Compact the on-disk log: rewrite each bucket partition as one
    * parquet file, rows sorted by (decider_id, offset) so row-group
    * min/max stats make decider_id predicates skip inside the bucket
    * too (a scan of the files prunes twice: directory-level on the hash
    * bucket, row-group-level on the sorted key). The rewrite is
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
    val newVer = VersionedDir.EventLog.nextVersionName(dir, conf)
    readEventsDir(curPath)
      .repartition(col("bucket"), col("day"))
      .sortWithinPartitions($"bucket", $"day", $"decider_id", $"offset")
      .write.partitionBy("bucket", "day").mode("overwrite").parquet(s"$dir/$newVer")
    EventStore.writeBuckets(s"$dir/$newVer", diskLayout.get._2, conf)
    // the in-memory log reads no version's files, so it outlives the
    // version this retires unchanged
    fenceLogWriter()
    EventStore.publishVersion(dir, newVer, conf, retainDepth)
  }

  /** Load the log at `dir` and checkpoint it as the base, partitioned by
    * stream, in one job; a second job over the checkpoint finds the
    * heads and builds the membership sketches, so appends after a
    * restart keep the zero-job fast path. The sketches have the size a
    * fresh store's have ([[EventStore.SketchItems]]): past that many
    * rows they saturate, which only sends appends to the probe job. Its
    * bucket count is the one recorded with the version; `buckets` only
    * serves logs written without that record.
    */
  def load(dir: String, buckets: Int = 32): Unit = commitLock.synchronized {
    hotStreams.clear()
    val path = eventsPath(dir)
    // a restarted store decodes the version once, here: the head scan
    // below, every stream read and every whole-log job (validation
    // folds) read the checkpoint, so no client command pays that decode
    val base = readEventsDir(path).drop("bucket", "day").as[EventRow]
      .repartition(partitions, $"decider_id").localCheckpoint()
    diskLayout = Some((dir,
      EventStore.storedBuckets(path, spark.sparkContext.hadoopConfiguration).getOrElse(buckets)))
    decidersMap.clear()
    spark.read.parquet(s"$dir/deciders").as[DeciderRegistration]
      .collect().foreach(d =>
        decidersMap((d.decider, d.event, d.event_version)) = d)
    // in-memory registry now equals the on-disk copy of THIS dir
    decidersSavedAt = Some((dir, decidersVersion))
    sketch = sketchBase(base, EventStore.SketchItems, 0.01)
    sketchComplete = true
    headOffset = sketch.head
    nextTxn = sketch.txn + 1
    log = new Log(base, headOffset, Vector.empty, headOffset)
  }
}

object EventStore {
  // ------------------------------------------------------------------
  // Manifest-pointer publication for the at-rest log: `_current` names
  // the live `events_v<N>` directory ([[VersionedDir.EventLog]]).
  // External readers resolve through [[resolveEventsPath]] too, so the
  // same no-vacuum guarantee holds outside this class.

  /** Bucket count of a version directory; Spark's reader skips `_` files. */
  private val BucketsFile = "_buckets"

  /** The `bucket=` directory, or the base partition, a stream key lands
    * in among `buckets`: the expression of the writer's `bucket` column
    * and of Spark's `HashPartitioning`, `pmod(hash(decider_id),
    * buckets)`, evaluated on the driver.
    */
  private[store] def bucketOf(deciderId: String, buckets: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash, Pmod}
    Pmod(new Murmur3Hash(Seq(Literal(deciderId))), Literal(buckets)).eval().asInstanceOf[Int]
  }

  private def writeBuckets(versionDir: String, buckets: Int, conf: Configuration): Unit = {
    val p = new HPath(s"$versionDir/$BucketsFile")
    AtomicFs.atomicWrite(p.getFileSystem(conf), conf, p, buckets.toString.getBytes("UTF-8"))
  }

  private def storedBuckets(versionDir: String, conf: Configuration): Option[Int] = {
    val p = new HPath(s"$versionDir/$BucketsFile")
    AtomicFs.read(p.getFileSystem(conf), p).map(new String(_, "UTF-8").trim.toInt)
  }

  /** The live events directory under `dir` ([[VersionedDir]]'s
    * resolution rule): the version `_current` names; with no pointer,
    * the legacy unversioned `$dir/events` if present (pre-versioning
    * logs read unchanged), else the highest complete `events_v<N>`
    * (covers a lost pointer).
    */
  def resolveEventsPath(dir: String, conf: Configuration): String =
    VersionedDir.EventLog.resolve(dir, conf)

  /** Atomically flip `_current` to `newVer`, then delete every version
    * directory except the new one, its `retainDepth` youngest
    * predecessors (kept for scans that listed files before the flip)
    * and the version live before the flip ([[VersionedDir.publish]]). The legacy unversioned `$dir/events`
    * directory counts as the OLDEST predecessor: it is retained through
    * the rewrite that republishes its data and retired by a later one.
    */
  private[store] def publishVersion(dir: String, newVer: String,
                                    conf: Configuration,
                                    retainDepth: Int = 1): Unit =
    VersionedDir.EventLog.publish(dir, newVer, conf, retainDepth)

  /** Row shape after the join-based validation stages, consumed by the
    * per-stream sequential replay. Top-level so Spark can derive an
    * Encoder (local case classes cannot get TypeTags).
    */
  final case class Flagged(in: EventInput, input_idx: Long, registered: Boolean,
                           prev_in_stream: Boolean, dup_event_id: Boolean,
                           dup_prev_id: Boolean, finalized: Boolean,
                           n_committed: Long, eid_rank: Int)

  /** Batches at or below this size validate through the driver-side
    * fast path (the membership sketches, or one probe-fold job, then
    * [[replayStream]] locally); larger batches run the distributed
    * join/window pipeline. The
    * semantics are identical — replayStream IS the shared replay — the
    * fast path only changes where the (bounded) flag computation runs.
    */
  val SmallBatchMax = 64

  /** Tail rows at which a commit folds the tail into a freshly
    * checkpointed base: bounds the driver-held rows and the
    * LocalRelation every query over the log carries, at one whole-log
    * copy per this many committed rows.
    */
  private[store] val TailMaxRows = 1024

  /** Items each membership sketch is sized for: a fresh store's, and
    * the cap of the sketches `load` builds.
    */
  private[store] val SketchItems: Long = 1L << 20

  private val RowSchema = Encoders.product[EventRow].schema
  /** Ordinals of the columns a base row is tested on before decoding. */
  private[store] val DeciderCol = RowSchema.fieldIndex("decider")
  private[store] val DeciderIdCol = RowSchema.fieldIndex("decider_id")
  private[store] val EventIdCol = RowSchema.fieldIndex("event_id")
  private[store] val PreviousIdCol = RowSchema.fieldIndex("previous_id")
  private val OffsetCol = RowSchema.fieldIndex("offset")
  private val TxnCol = RowSchema.fieldIndex("transaction_id")

  private[store] def streamKey(decider: String, deciderId: String): String = s"$decider|$deciderId"

  /** [[EventStore.foldStreams]]'s bounds for every row of the streams `ids`. */
  private[store] def wholeStreams(ids: Iterable[String]): Map[String, Long] = ids.map(_ -> Long.MinValue).toMap

  /** What the append fast path knows of a set of committed rows: their
    * highest offset and transaction id, and Bloom filters over their
    * event ids, claimed previous ids and stream keys, sized for `items`
    * at `fpp`. Built per partition on the executors and merged on the
    * driver, or grown row by row at commit.
    */
  private[store] final class LogSketch(items: Long, fpp: Double) extends Serializable {
    var head = 0L
    var txn = 0L
    val ids: BloomFilter = BloomFilter.create(items, fpp)
    val prevs: BloomFilter = BloomFilter.create(items, fpp)
    val streams: BloomFilter = BloomFilter.create(items, fpp)

    def add(r: InternalRow): Unit = {
      head = math.max(head, r.getLong(OffsetCol))
      txn = math.max(txn, r.getLong(TxnCol))
      ids.putString(r.getUTF8String(EventIdCol).toString)
      if (!r.isNullAt(PreviousIdCol)) prevs.putString(r.getUTF8String(PreviousIdCol).toString)
      streams.putString(streamKey(r.getUTF8String(DeciderCol).toString, r.getUTF8String(DeciderIdCol).toString))
    }

    def add(e: EventRow): Unit = {
      head = math.max(head, e.offset)
      txn = math.max(txn, e.transaction_id)
      ids.putString(e.event_id)
      e.previous_id.foreach(prevs.putString)
      streams.putString(streamKey(e.decider, e.decider_id))
    }

    def merge(o: LogSketch): Unit = {
      head = math.max(head, o.head)
      txn = math.max(txn, o.txn)
      ids.mergeInPlace(o.ids)
      prevs.mergeInPlace(o.prevs)
      streams.mergeInPlace(o.streams)
    }
  }

  /** A committed row the small-batch validation probe matched. */
  private[store] final case class Hit(event_id: String, previous_id: Option[String],
                       decider: String, decider_id: String)

  /** Per-task fold of the small-batch validation probe: the committed
    * (finalized, count) state of each batch stream, and every row whose
    * event_id is probed or whose previous_id is a batch previous_id.
    * Output is bounded by the batch: one state row per stream per task,
    * and unique ids/prevs allow at most two hits per probed value.
    */
  private[store] def probeFold(streams: Set[(String, String)], ids: Set[String], prevs: Set[String])
      : Iterator[EventRow] => (Map[(String, String), (Boolean, Long)], Vector[Hit]) = { it =>
    val state = scala.collection.mutable.HashMap.empty[(String, String), (Boolean, Long)]
    val hits = Vector.newBuilder[Hit]
    it.foreach { e =>
      val k = (e.decider, e.decider_id)
      if (streams(k)) {
        val (fin, n) = state.getOrElse(k, (false, 0L))
        state(k) = (fin || e.is_final, n + 1)
      }
      if (ids(e.event_id) || e.previous_id.exists(prevs))
        hits += Hit(e.event_id, e.previous_id, e.decider, e.decider_id)
    }
    (state.toMap, hits.result())
  }

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
