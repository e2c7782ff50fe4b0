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
  *    log ([[validate]]): from the driver's membership sketches and
  *    exact stream states when they answer exactly, else from one
  *    per-task probe fold over the log. Either way the replay is
  *    sequential within a stream and independent across streams, which
  *    is exactly the guarantee the reference documents (ordering per
  *    partition, parallelism across partitions).
  *  - The global BIGSERIAL offset is a per-commit sequence continued
  *    from the committed head (SURVEY §7.4.1): client append batches
  *    are driver-resident `Seq`s, so assignment happens with the
  *    validated batch; the bulk-ingest path for unbounded input uses
  *    `GlobalIndex.withOrderedIndex` (range-partitioned parallel sort +
  *    partition prefix sums).
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
  * the log (which every commit, [[load]] and [[commitBulk]] keep
  * complete) and the stream's exact state (see the append validation
  * block): the OLTP command, read a stream and append on its head,
  * runs one job of one task in all.
  *
  * Scale notes (100 TB): validation that the sketches cannot answer is
  * one scan of the log with no exchange, whose tasks decode only the
  * rows of the batch's streams, ids and previous ids and return facts
  * bounded by the batch. Nothing here collects event data to the driver
  * beyond one stream's rows for a read; otherwise only per-partition
  * counts, sketches and those facts leave the executors.
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
    * lives INSIDE the batch (the validation probe runs across Spark
    * tasks), not across concurrent driver calls, and the
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

    val collected = validate(batch).sortBy(_._2)
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
    commitReplicated(accepted)
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
  // Append validation: membership sketches + exact stream states.
  //
  // The reference wins the sequential single-append shape outright
  // (µs B-tree probes vs ~100 ms of Spark job overhead per validation
  // lookup). The fix is driver state that answers the validation
  // questions withOUT a job — but ONLY when it can answer them
  // EXACTLY; anything uncertain falls back to the probe job, so the
  // semantics cannot diverge:
  //
  //  - `sketch`: Bloom filters over ALL committed event_ids, claimed
  //    previous_ids, and stream keys. Every commit keeps them complete:
  //    an append or a replicated commit adds its rows on the driver,
  //    and [[load]] and [[commitBulk]] sketch their rows in a job that
  //    reads them anyway. A MISS is therefore definitive — the
  //    id/prev/stream is certainly absent — and that is the only answer
  //    the driver path trusts; an id or prev hit (present OR false
  //    positive) routes to the probe job.
  //  - `hotStreams`: exact [[EventStore.StreamState]] per stream
  //    — maintained under commitLock at commit, so the chained-append
  //    shape (prev = current head) resolves prev-existence exactly.
  //    A stream that is not hot takes its state from the last
  //    [[getEvents]] while the log it read is still the live one, or
  //    else from one [[foldStreams]] task on its own partition. Bounded
  //    LRU; eviction only costs that task.

  private var sketch = new EventStore.LogSketch
  private val hotStreams =
    scala.collection.mutable.LinkedHashMap.empty[(String, String), EventStore.StreamState]
  private val HotStreamCap = 65536

  /** The state [[getEvents]] last read, with the snapshot it read (held
    * weakly, so a stale read keeps no base alive).
    */
  private final class StreamRead(val at: java.lang.ref.WeakReference[Log],
                                 val key: (String, String), val state: EventStore.StreamState)
  @volatile private var lastRead: Option[StreamRead] = None

  /** Sketch `rows` (with [[EventRow]]'s columns) in one job: each
    * partition ships its share ([[EventStore.LogSketch.partial]]: its
    * rows' sketched columns while they ship smaller than a sketch, else
    * its sketch of about 3.8 MB), and the driver adds it as it arrives.
    */
  private def sketchBase(rows: DataFrame): EventStore.LogSketch = {
    val merged = new EventStore.LogSketch
    spark.sparkContext.runJob(rows.select(EventStore.SketchCols.map(col): _*).queryExecution.toRdd,
      EventStore.LogSketch.partial _,
      (_: Int, p: Either[Vector[InternalRow], EventStore.LogSketch]) => p.fold(_.foreach(merged.add), merged.merge))
    merged
  }

  /** Record an accepted commit in the driver's validation state (caller
    * holds commitLock).
    */
  private def noteCommitted(accepted: Seq[EventRow]): Unit = {
    accepted.foreach(sketch.add)
    accepted.groupBy(e => (e.decider, e.decider_id)).foreach { case (k, es) =>
      val prior = hotStreams.remove(k) // re-insert = LRU touch
      remember(k, es.foldLeft(prior.getOrElse(EventStore.StreamState.Empty))(_ + _))
    }
  }

  private def remember(k: (String, String), h: EventStore.StreamState): Unit = {
    hotStreams(k) = h
    while (hotStreams.size > HotStreamCap) hotStreams.remove(hotStreams.head._1)
  }

  /** The exact state of every stream of `keys` that the sketch may hold,
    * made hot: from [[hotStreams]], from the last read when it read the
    * live log, else from one [[foldStreams]] job over their partitions
    * whose tasks fold each stream's rows into its state
    * ([[EventStore.probeFold]] with nothing to probe), so only the
    * states leave the executors. Each state is exact for the live log,
    * which cannot change under commitLock (caller holds it). Returned
    * rather than read back from the LRU, which a batch of many streams
    * could overflow.
    */
  private def makeHot(keys: Seq[(String, String)]): Map[(String, String), EventStore.StreamState] = {
    val maybe = keys.filter(k => sketch.streams.mightContainString(EventStore.streamKey(k._1, k._2)))
    val hot = maybe.flatMap(k => hotStreams.get(k).map(k -> _)).toMap
    val l = log
    val read = lastRead.filter(r => (r.at.get eq l) && !hot.contains(r.key) && maybe.contains(r.key))
      .map(r => r.key -> r.state).toMap
    val rest = maybe.filterNot(k => hot.contains(k) || read.contains(k)).toSet
    // with no stream left to fetch, the fold runs no job
    val fold = EventStore.probeFold(rest, Set.empty, Set.empty)
    val states = foldStreamsOf(l, EventStore.wholeStreams(rest.map(_._2)))(it => fold(it)._1)
      .flatten.groupMapReduce(_._1)(_._2)(_ merge _)
    val fetched = rest.map(k => k -> states.getOrElse(k, EventStore.StreamState.Empty)).toMap
    (read ++ fetched).foreach { case (k, h) => remember(k, h) }
    hot ++ read ++ fetched
  }

  /** The batch's [[EventStore.LogFacts]] from driver state alone, or
    * None when it cannot answer exactly. It answers when the sketches
    * miss every batch id and previous id, and every previous id the id
    * sketch may hold is the head of its row's stream; stream states
    * come from [[makeHot]]: no job, or one task per cold stream
    * partition.
    */
  private def driverFacts(batch: Seq[EventInput]): Option[EventStore.LogFacts] = {
    // maybe a duplicate id, or maybe a claimed previous id
    if (batch.exists(e => sketch.ids.mightContainString(e.event_id) ||
          e.previous_id.exists(sketch.prevs.mightContainString))) return None
    val streams = batch.map(e => (e.decider, e.decider_id)).distinct
    val hot = makeHot(streams)
    // a previous id the id sketch misses is certainly not committed
    // (the replay resolves it within the batch); one it may hold is
    // known only as the head of its row's stream
    val committedPrevs = batch.flatMap(e =>
      e.previous_id.filter(sketch.ids.mightContainString).map(p => (p, e.decider, e.decider_id)))
    if (!committedPrevs.forall { case (p, d, id) => hot.get((d, id)).exists(_.headId.contains(p)) }) None
    else Some(EventStore.LogFacts(hot, Set.empty, Set.empty, committedPrevs.toSet))
  }

  /** The batch's [[EventStore.LogFacts]] from ONE job, one scan and no
    * exchange: a per-task fold over the whole base
    * ([[EventStore.probeFold]], the [[ViewStreams.streamEvents]] stage
    * 3+4 pattern) decodes only the rows of the batch's streams, ids and
    * previous ids, and returns per task one state row per batch stream
    * and the id/prev hits, both bounded by the batch; the tail folds on
    * the driver, and the driver merges them.
    */
  private def probeFacts(batch: Seq[EventInput]): EventStore.LogFacts = {
    val streams = batch.map(e => (e.decider, e.decider_id)).toSet
    val prevs = batch.flatMap(_.previous_id).toSet
    val probed = batch.map(_.event_id).toSet ++ prevs
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
    // every committed row holding a batch id, or claiming a batch
    // previous id, is a hit
    val hits = partials.flatMap(_._2)
    EventStore.LogFacts(
      partials.flatMap(_._1).groupMapReduce(_._1)(_._2)(_ merge _),
      hits.map(_.event_id).toSet, hits.flatMap(_.previous_id).toSet,
      hits.map(h => (h.event_id, h.decider, h.decider_id)).toSet)
  }

  /** Validate `batch` against the committed log and itself, for any
    * batch size: the log facts come from driver state when it answers
    * exactly ([[driverFacts]]: no job for the OLTP chained append, or
    * one task per cold stream partition), else from the probe job
    * ([[probeFacts]]); one pass flags each row, and
    * [[EventStore.replayStream]] checks each stream's rows in input
    * order. Returns (input, input index, error code; "" = accepted).
    * [[append]] calls it under commitLock.
    */
  private[store] def validate(batch: Seq[EventInput]): Seq[(EventInput, Long, String)] = {
    val facts = driverFacts(batch).getOrElse(probeFacts(batch))
    // intra-batch duplicate event_id rank (input order)
    val eidRank = scala.collection.mutable.Map.empty[String, Int]
    val flagged = batch.zipWithIndex.map { case (e, idx) =>
      val rank = eidRank.updateWith(e.event_id)(c => Some(c.getOrElse(0) + 1)).get
      val st = facts.state.getOrElse((e.decider, e.decider_id), EventStore.StreamState.Empty)
      EventStore.Flagged(e, idx.toLong, decidersMap.contains((e.decider, e.event, e.event_version)),
        prev_in_stream = e.previous_id.exists(p => facts.inStream((p, e.decider, e.decider_id))),
        dup_event_id = facts.ids(e.event_id),
        dup_prev_id = e.previous_id.exists(facts.prevs),
        finalized = st.finalized, n_committed = st.n, eid_rank = rank)
    }
    flagged.groupBy(f => (f.in.decider, f.in.decider_id))
      .values.toSeq.flatMap(EventStore.replayStream)
  }

  /** Hook for the streaming layer's lock fanout (M1). */
  @volatile var onCommit: Seq[EventRow] => Unit = _ => ()

  /** Bulk commit of rows that arrive already validated and
    * offset-assigned and never pass through the driver: BulkIngest, a
    * SharedLog base or large commit, a shared-delivery micro-batch. One
    * job counts them; one sketches them, in one task per
    * [[EventStore.IncrementRowsPerTask]] rows (so a small bulk ships
    * only its rows' sketched columns), which keeps the membership sketches
    * complete and gives the new head and the highest transaction id;
    * one lands them in a new base; and one finds the per-stream HEADS
    * for the lock fanout (control-plane cardinality), not the rows.
    */
  private[store] def commitBulk(rows: Dataset[EventRow]): Long = commitLock.synchronized {
    // bulk rows may extend any stream: the hot states go stale
    hotStreams.clear()
    val staged = rows.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = staged.count()
    if (n > 0) {
      val added = sketchBase(staged.toDF().coalesce(EventStore.tasksFor(n)))
      sketch.merge(added)
      headOffset = math.max(headOffset, added.head)
      nextTxn = math.max(nextTxn + 1, added.txn + 1)
      // a bulk is not driver-resident: it folds the tail and lands in a
      // new checkpointed base, exchanged into the base's partitioning
      val l = log
      val grown = l.tail.toDS().union(staged).repartition(partitions, $"decider_id")
      log = new Log(grownBase(l, grown.rdd), headOffset, Vector.empty, l.flushed)
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

  /** Fold rows ALREADY validated and offset-assigned, by [[append]] or
    * by another process's store (a SharedLog commit of at most
    * [[SharedLog.SmallBatchMax]] rows): like [[commitBulk]], but the
    * rows are driver-resident, so they join the tail, the sketches and
    * the hot stream states with no job. Rows must arrive in their
    * committed order.
    */
  private[store] def commitReplicated(rows: Seq[EventRow]): Unit = commitLock.synchronized {
    if (rows.isEmpty) return
    commitToTail(rows)
    headOffset = math.max(headOffset, rows.map(_.offset).max)
    nextTxn = math.max(nextTxn + 1, rows.map(_.transaction_id).max + 1)
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
    * it before the log changes runs no job ([[validate]]).
    */
  def getEvents(deciderId: String, decider: String): Dataset[EventRow] = {
    val l = log
    val rows = foldStreamsOf(l, EventStore.wholeStreams(Seq(deciderId)))(_.filter(_.decider == decider).toVector)
      .flatten.sortBy(_.offset)
    lastRead = Some(new StreamRead(new java.lang.ref.WeakReference(l), (decider, deciderId),
      rows.foldLeft(EventStore.StreamState.Empty)(_ + _)))
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
      // sizing. n is known; one task per
      // [[EventStore.IncrementRowsPerTask]] rows keeps flush files at
      // target size at ANY tail size, and coalesce never increases
      // partitions, so a huge tail keeps its parallelism.
      withLayoutCols(pending.get, diskLayout.get._2).coalesce(EventStore.tasksFor(n))
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
    * stream, in one job; a second job over the checkpoint sketches it
    * (the committed head, the highest transaction id and the membership
    * sketches), so appends after a restart validate on the driver as
    * they do on a fresh store. Every sketch is sized for
    * [[EventStore.SketchItems]] items: past that many rows they
    * saturate, which only sends appends to the probe job. Its bucket
    * count is the one recorded with the version; `buckets` only serves
    * logs written without that record.
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
    sketch = sketchBase(base.toDF())
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

  /** A batch row with the committed-log facts [[EventStore.validate]]
    * flagged it with, consumed by the per-stream sequential replay.
    * A top-level case class, so Spark can derive an Encoder for it.
    */
  final case class Flagged(in: EventInput, input_idx: Long, registered: Boolean,
                           prev_in_stream: Boolean, dup_event_id: Boolean,
                           dup_prev_id: Boolean, finalized: Boolean,
                           n_committed: Long, eid_rank: Int)

  /** Tail rows at which a commit folds the tail into a freshly
    * checkpointed base: bounds the driver-held rows and the
    * LocalRelation every query over the log carries, at one whole-log
    * copy per this many committed rows.
    */
  private[store] val TailMaxRows = 1024

  /** Items every membership sketch is sized for, at 1% fpp: a fresh
    * store's, and the ones `load` and a bulk commit build, so any two
    * merge.
    */
  private[store] val SketchItems: Long = 1L << 20

  /** The columns a [[LogSketch]] reads, in the order it reads them. */
  private val SketchCols = Seq("offset", "transaction_id", "event_id", "previous_id", "decider", "decider_id")

  /** Rows up to which a partition ships its [[SketchCols]] rather than
    * a sketch: well under a sketch's size, and under Spark's 1 MiB
    * direct task result.
    */
  private val InlineSketchRows = 4096

  /** Rows per task of a job sized to a row count it already knows: a
    * [[EventStore.saveIncrement]] write and a [[EventStore.commitBulk]]
    * sketch.
    */
  private[store] val IncrementRowsPerTask = 262144L

  /** Tasks for `n` rows at [[IncrementRowsPerTask]] rows each, at least one. */
  private def tasksFor(n: Long): Int =
    math.max(1L, (n + IncrementRowsPerTask - 1) / IncrementRowsPerTask).toInt

  private val RowSchema = Encoders.product[EventRow].schema
  /** Ordinals of the columns a base row is tested on before decoding. */
  private[store] val DeciderIdCol = RowSchema.fieldIndex("decider_id")
  private[store] val EventIdCol = RowSchema.fieldIndex("event_id")
  private[store] val PreviousIdCol = RowSchema.fieldIndex("previous_id")
  private val OffsetCol = RowSchema.fieldIndex("offset")

  private[store] def streamKey(decider: String, deciderId: String): String = s"$decider|$deciderId"

  /** [[EventStore.foldStreams]]'s bounds for every row of the streams `ids`. */
  private[store] def wholeStreams(ids: Iterable[String]): Map[String, Long] = ids.map(_ -> Long.MinValue).toMap

  /** What append validation knows of a set of committed rows: their
    * highest offset and transaction id, and Bloom filters over their
    * event ids, claimed previous ids and stream keys, sized for
    * [[SketchItems]] at 1% fpp. Built per partition on the executors
    * and merged on the driver, or grown row by row at commit.
    */
  private[store] final class LogSketch extends Serializable {
    var head = 0L
    var txn = 0L
    val ids: BloomFilter = BloomFilter.create(SketchItems, 0.01)
    val prevs: BloomFilter = BloomFilter.create(SketchItems, 0.01)
    val streams: BloomFilter = BloomFilter.create(SketchItems, 0.01)

    /** Adds a row of [[SketchCols]]. */
    def add(r: InternalRow): Unit = {
      head = math.max(head, r.getLong(0))
      txn = math.max(txn, r.getLong(1))
      ids.putString(r.getUTF8String(2).toString)
      if (!r.isNullAt(3)) prevs.putString(r.getUTF8String(3).toString)
      streams.putString(streamKey(r.getUTF8String(4).toString, r.getUTF8String(5).toString))
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

  private[store] object LogSketch {
    /** One partition's share of a sketch, built where its rows of
      * [[SketchCols]] are: the rows themselves while there are at most
      * [[InlineSketchRows]] (they ship smaller than a sketch), else
      * their sketch.
      */
    def partial(it: Iterator[InternalRow]): Either[Vector[InternalRow], LogSketch] = {
      val rows = Vector.newBuilder[InternalRow]
      var n = 0
      while (n <= InlineSketchRows && it.hasNext) { rows += it.next().copy(); n += 1 }
      if (n <= InlineSketchRows) Left(rows.result())
      else { val s = new LogSketch; rows.result().foreach(s.add); it.foreach(s.add); Right(s) }
    }
  }

  /** What validation knows of one stream's committed rows: whether one
    * is final, how many there are, and the offset and event id of the
    * last (`0` and None: no row). States of disjoint row sets merge, so
    * tasks fold them and the driver merges the results.
    */
  private[store] final case class StreamState(finalized: Boolean, n: Long, head: Long, headId: Option[String]) {
    def +(e: EventRow): StreamState =
      StreamState(finalized || e.is_final, n + 1,
        math.max(head, e.offset), if (e.offset > head) Some(e.event_id) else headId)

    def merge(o: StreamState): StreamState =
      StreamState(finalized || o.finalized, n + o.n,
        math.max(head, o.head), if (o.head > head) o.headId else headId)
  }

  private[store] object StreamState { val Empty: StreamState = StreamState(finalized = false, 0L, 0L, None) }

  /** What validating a batch needs of the committed log: the state of
    * each batch stream (absent: [[StreamState.Empty]]), and, among the
    * batch's ids and previous ids, the committed event ids, the claimed
    * previous ids and the committed `(event_id, decider, decider_id)`
    * triples.
    */
  private final case class LogFacts(state: Map[(String, String), StreamState],
                                    ids: Set[String], prevs: Set[String],
                                    inStream: Set[(String, String, String)])

  /** A committed row the validation probe matched. */
  private[store] final case class Hit(event_id: String, previous_id: Option[String],
                       decider: String, decider_id: String)

  /** Per-task fold of the validation probe: the committed
    * [[StreamState]] of each stream of `streams`, and every row whose
    * event_id is probed or whose previous_id is a batch previous_id.
    * Output is bounded by the batch: one state per stream per task,
    * and unique ids/prevs allow at most two hits per probed value.
    */
  private[store] def probeFold(streams: Set[(String, String)], ids: Set[String], prevs: Set[String])
      : Iterator[EventRow] => (Map[(String, String), StreamState], Vector[Hit]) = { it =>
    val state = scala.collection.mutable.HashMap.empty[(String, String), StreamState]
    val hits = Vector.newBuilder[Hit]
    it.foreach { e =>
      val k = (e.decider, e.decider_id)
      if (streams(k)) state(k) = state.getOrElse(k, StreamState.Empty) + e
      if (ids(e.event_id) || e.previous_id.exists(prevs))
        hits += Hit(e.event_id, e.previous_id, e.decider, e.decider_id)
    }
    (state.toMap, hits.result())
  }

  /** Per-stream sequential replay: the reference's trigger pipeline in
    * alphabetical firing order (t_check_final..., t_check_first...,
    * t_check_previous..., schema.sql:91-146), then constraints, with
    * intra-batch visibility (earlier accepted rows of the same stream
    * count as existing; an accepted final blocks later rows). Pure, so
    * the same code replays on the driver in [[EventStore.validate]] and
    * inside `flatMapGroups` on executors in a spec's set-level oracle.
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
