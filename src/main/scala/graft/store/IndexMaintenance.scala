package graft.store

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/** Shared maintenance plumbing for the persisted-index family
  * (graft.operators.{IncrementalDedup, EmbIncrementalDedup,
  * DocSearchIndex}) — the two disciplines the append-only indexes
  * were missing relative to the event store:
  *
  *  1. '''Format markers.''' An index directory is a durable,
  *     append-only FORMAT: every later writer and reader must agree
  *     on the representation (shingle digests vs raw shingles, LSH
  *     banding, bucket count). A `_format.json` written at build time
  *     pins `(kind, version, props)`; readers and appenders fail fast
  *     on mismatch instead of silently returning zero matches (an
  *     old-format index intersected with new-format probes has no
  *     collisions — the worst failure mode a dedup gate can have) or
  *     appending an incompatible increment. The migration path on
  *     mismatch is a REBUILD (`build()` over the corpus): the index
  *     is derived data, the corpus is the source of truth.
  *
  *  2. '''Versioned compaction publication.''' Increments append
  *     small files into band/bucket partitions forever; after N
  *     shards the read side pays an O(N) file-open tail. Compaction
  *     rewrites a component into a fresh `<component>_v<K>.parquet`
  *     directory (one sorted file per band/bucket — row-group min/max
  *     stats then prune within the partition too) and publishes it
  *     through a `_current.<component>` pointer with [[VersionedDir]],
  *     the store's one publisher, which the event log's `save` and
  *     `compact` use too: one atomic replace flips readers to the
  *     compacted copy, in-flight scans on the previous version finish
  *     against its retained files, and `retainDepth` widens that
  *     window for long scans. Every layout resolves by one rule: the
  *     pointer; else the legacy `<component>.parquet` if it exists;
  *     else the highest version holding `_SUCCESS`. Appends land in
  *     the RESOLVED live version, so compact → append → compact cycles
  *     stay append-only between rewrites.
  */
object IndexMaintenance {

  private val MarkerFile = "_format.json"

  /** Test-only fail-point seam (the etcd/TiKV failpoint pattern):
    * every maintenance operation calls [[failPoint]] at each file-op
    * boundary — after a metadata delete, between component data
    * writes, before/after a pointer flip ([[VersionedDir]]'s, so the
    * event log's `save`/`compact` cross those too). Production
    * default is a no-op; IndexCrashPropertySpec installs a throwing
    * hook to simulate a process crash at EVERY boundary mechanically
    * (round 12 found two real lifecycle bugs only by manual review —
    * this is the mechanization). Hooks must be one-shot or re-entrant: a
    * crashed operation leaves on-disk state exactly as a killed
    * process would. */
  @volatile private[graft] var failPointHook: String => Unit = _ => ()
  @inline def failPoint(label: String): Unit = failPointHook(label)

  private def fsOf(dir: String, conf: Configuration): FileSystem =
    FileSystem.get(new java.net.URI(dir), conf)

  // ------------------------------------------------------------------
  // Format marker

  /** Write `_format.json` at `dir` (atomic publish — a concurrent
    * reader sees the old marker or the new one, never a torn file).
    * `props` pins representation parameters (banding, bucket count,
    * shingle encoding) alongside the version.
    */
  def writeMarker(dir: String, kind: String, version: Int,
                  props: Map[String, String], conf: Configuration): Unit = {
    val fs = fsOf(dir, conf)
    fs.mkdirs(new HPath(dir))
    AtomicFs.atomicWrite(fs, conf, new HPath(s"$dir/$MarkerFile"),
      AtomicFs.json.writeValueAsBytes(Marker(kind, version, props)))
  }

  private final case class Marker(kind: String, version: Int, props: Map[String, String])

  /** Read the marker at `dir`; None when absent (a pre-marker or
    * foreign directory). */
  def readMarker(dir: String, conf: Configuration)
      : Option[(String, Int, Map[String, String])] =
    AtomicFs.read(fsOf(dir, conf), new HPath(s"$dir/$MarkerFile")).map { bytes =>
      val m = AtomicFs.json.readValue(bytes, classOf[Marker])
      (m.kind, m.version, m.props)
    }

  /** Fail fast unless `dir` carries a marker matching `(kind,
    * version)` and every pinned prop in `props`. Returns the marker's
    * full prop map on success. A MISSING marker also fails: an
    * unmarked directory is either a pre-versioning index (whose
    * representation this code can no longer read compatibly) or not
    * an index at all — both need the rebuild path, not a silent
    * zero-match run.
    */
  def checkMarker(dir: String, kind: String, version: Int,
                  props: Map[String, String],
                  conf: Configuration): Map[String, String] =
    readMarker(dir, conf) match {
      case None => throw new IllegalStateException(
        s"index at $dir has no $MarkerFile format marker — either a " +
          s"pre-versioning index (incompatible representation) or not an " +
          s"index directory. Migration path: rebuild with build() over " +
          s"the source corpus (the index is derived data).")
      case Some((k, v, p)) =>
        if (k != kind || v != version)
          throw new IllegalStateException(
            s"index format mismatch at $dir: found kind=$k version=$v, " +
              s"this code reads kind=$kind version=$version. Migration " +
              s"path: rebuild with build() over the source corpus.")
        val bad = props.filter { case (pk, pv) => p.get(pk).exists(_ != pv) } ++
          props.filter { case (pk, _) => !p.contains(pk) }
        if (bad.nonEmpty)
          throw new IllegalStateException(
            s"index property mismatch at $dir: expected $props, marker has " +
              s"${p.view.filterKeys(props.contains).toMap}. An index must be " +
              s"read/appended with the parameters it was built at; rebuild " +
              s"with build() to change them.")
        p
    }

  // ------------------------------------------------------------------
  // Versioned component publication: one [[VersionedDir]] layout per
  // named component within the index directory

  /** The live directory for `component` under `dir`
    * ([[VersionedDir]]'s resolution rule). A pointerless version next
    * to the legacy `<component>.parquet` is a compaction that crashed
    * BEFORE publishing and stays invisible; the next successful
    * publish's retention pass collects it, and numbering continues
    * above it so a retry never collides.
    */
  def resolve(dir: String, component: String, conf: Configuration): String =
    VersionedDir.indexComponent(component).resolve(dir, conf)

  /** Retire a component's versioned state so a REBUILD into the
    * legacy `<component>.parquet` becomes the live version again:
    * delete the FORMAT MARKER first, then the `_current` pointers and
    * every `<component>_v<N>` directory. Without the pointer
    * retirement, build() over a previously COMPACTED index writes
    * data no reader resolves — the pointer still names the
    * pre-rebuild version and the rebuild is silently invisible.
    * The marker goes FIRST for crash safety: build() re-writes it as
    * its LAST step, so a rebuild that dies anywhere in between leaves
    * an unmarked directory that readers and appenders REJECT
    * ("rebuild" fail-fast) — under a surviving marker they would
    * silently read the partial overwrite (the crash property pins
    * this). Every index's build() calls it. */
  def resetComponents(dir: String, components: Seq[String],
                      conf: Configuration): Unit = {
    val fs = fsOf(dir, conf)
    if (!fs.exists(new HPath(dir))) return
    fs.delete(new HPath(s"$dir/$MarkerFile"), false)
    failPoint("reset:marker-removed")
    components.foreach(VersionedDir.indexComponent(_).reset(dir, conf))
  }

  /** Run `f` holding the index's cross-process MAINTENANCE MUTEX
    * ([[FsMutex]] — the store's one claim primitive, shared with the
    * journals' and the event log's leases and mutexes; here
    * `_maint-` epoch files in the index root, invisible to the
    * version regex and the component readers). Serializes
    * build/append/compact/vacuum across processes, CLOSING the
    * append-vs-compact race [[guardedAppend]] can only detect: with
    * every mutation inside the lock, a compaction can no longer
    * snapshot mid-append and strand the increment in a superseded
    * version. READERS take no lock — MVCC pointer resolution is their
    * whole protocol. A HEARTBEAT thread renews the claim every
    * `ttlMs / 3` while `f` runs, so a rewrite longer than one TTL
    * keeps the lock for as long as the process is ALIVE — TTL
    * takeover only ever fires on a holder that stopped renewing
    * (crashed, or wholly stalled past the TTL). For the one hole a
    * TTL mutex leaves (a holder stalled PAST the TTL whose lock was
    * taken over mid-write), [[publish]] re-checks
    * [[FsMutex.stillHeld]] before every pointer flip — a superseded
    * holder fails BEFORE publishing over the takeover's work, the
    * same defense-in-depth [[guardedAppend]]'s pointer check gives
    * appends. Waiters give up after `acquireDeadlineMs` with a clear
    * error, so a caller queued behind a very long compaction fails
    * fast and retries rather than deadlocking — size it to the
    * expected queue wait, and `ttlMs` to well above the longest GC /
    * filesystem stall (NOT the rewrite length; the heartbeat covers
    * that). */
  def withMaintenanceLock[T](dir: String, conf: Configuration,
                             ttlMs: Long = 30L * 60 * 1000,
                             acquireDeadlineMs: Long = 120L * 1000)
                            (f: => T): T = {
    val fs = fsOf(dir, conf)
    fs.mkdirs(new HPath(dir))
    val m = new FsMutex(new HPath(dir), fs,
      ownerId = java.util.UUID.randomUUID().toString,
      clock = () => new java.sql.Timestamp(System.currentTimeMillis()),
      ttlMs = ttlMs,
      prefix = "_maint-",
      acquireDeadlineMs = acquireDeadlineMs)
    m.acquire()
    val stop = new java.util.concurrent.CountDownLatch(1)
    val hb = new Thread(() => {
      val period = math.max(ttlMs / 3, 250L)
      var live = true
      while (live &&
          !stop.await(period, java.util.concurrent.TimeUnit.MILLISECONDS)) {
        try { if (!m.renew()) live = false } // superseded: stop renewing
        catch { case _: Exception => () } // transient FS error: next tick
      }
    }, s"graft-maint-heartbeat-${m.ownerId.take(8)}")
    hb.setDaemon(true)
    hb.start()
    val prev = currentMaintMutex.get()
    currentMaintMutex.set(m)
    try f
    finally {
      currentMaintMutex.set(prev)
      stop.countDown()
      hb.join(2000)
      m.release()
    }
  }

  /** The maintenance mutex the CURRENT thread holds (set by
    * [[withMaintenanceLock]] around `f`) — lets [[publish]] verify
    * liveness before a pointer flip without threading the mutex
    * through every compact body. Thread-local suffices: every publish
    * call in the index family runs on the caller thread of its
    * `withMaintenanceLock` section (Spark job threads never publish).
    */
  private val currentMaintMutex = new ThreadLocal[FsMutex]

  /** Reclaim every superseded version of `components` at `dir`,
    * keeping ONLY each component's live version ([[resolve]]).
    * [[publish]] already bounds retention at `retainDepth` rewrites;
    * vacuum is the explicit reclaim entry point — the
    * EventStore.vacuum / SharedLog.vacuum analogue the index family
    * was missing — for pipelines that want superseded space back NOW
    * instead of after the next rewrite. Reader-lifetime contract
    * (stricter than publish's): every in-flight scan must have
    * resolved the CURRENT live version — a scan still reading a
    * superseded version hits missing files and must re-run after
    * re-resolving. Run it only when no scan older than the last
    * compaction is in flight. Returns the directories deleted. */
  def vacuum(dir: String, components: Seq[String],
             conf: Configuration): Seq[String] = {
    if (!fsOf(dir, conf).exists(new HPath(dir))) return Nil
    withMaintenanceLock(dir, conf) {
      components.flatMap(VersionedDir.indexComponent(_).vacuum(dir, conf))
    }
  }

  /** Run `write` (an append into the resolved live version of
    * `components`) and verify no `_current` pointer moved while it
    * ran. Append and compaction MUST be issued by one writer — the
    * [[compactionDue]]-driven `appendAndMaybeCompact` ingest loop is
    * sequential by construction; the MVCC pointer protects READERS
    * only. If another process published a compaction mid-append, the
    * increment landed in the superseded version, is excluded from the
    * new live version, and would be deleted once it fell past
    * `retainDepth` — silent data loss. The race is CLOSED by running
    * the whole append inside [[withMaintenanceLock]] (compact/build/
    * vacuum take the same per-index mutex); the before/after pointer
    * check stays as defense in depth for the one hole a TTL mutex
    * leaves — a holder stalled past the TTL whose lock was taken over
    * mid-write. On detection the caller re-appends the shard (readers
    * are duplicate-immune; compaction heals the bloat). */
  def guardedAppend(dir: String, components: Seq[String],
                    conf: Configuration)(write: => Unit): Unit =
    withMaintenanceLock(dir, conf) {
    val before = components.map(c => resolve(dir, c, conf))
    write
    val after = components.map(c => resolve(dir, c, conf))
    if (before != after) {
      val moved = components.indices.collect {
        case i if before(i) != after(i) =>
          s"${components(i)}: ${before(i)} -> ${after(i)}"
      }
      throw new IllegalStateException(
        s"concurrent compaction published during an append at $dir " +
          s"(${moved.mkString("; ")}). Append and compact must run from " +
          "a single writer (the appendAndMaybeCompact loop); the " +
          "increment may have landed in a superseded version that " +
          "retention will delete. Recovery: re-append this shard — " +
          "readers are duplicate-immune and compaction heals the bloat.")
    }
  }

  /** Fresh directory name for the next compacted version of
    * `component`: one past the max of its pointer and every version on
    * disk. */
  def nextVersionName(dir: String, component: String,
                      conf: Configuration): String =
    VersionedDir.indexComponent(component).nextVersionName(dir, conf)

  /** Atomically flip `_current.<component>` to `newVer` and delete
    * superseded versions beyond the `retainDepth` youngest
    * ([[VersionedDir.publish]]: the version live before the flip
    * always survives, the legacy directory counts as the oldest
    * predecessor).
    * Just before the flip, a holder of the maintenance mutex checks it
    * still holds it.
    */
  def publish(dir: String, component: String, newVer: String,
              conf: Configuration, retainDepth: Int = 1): Unit =
    VersionedDir.indexComponent(component).publish(dir, newVer, conf, retainDepth, () =>
      // Defense in depth for the one hole a TTL mutex leaves: a holder
      // stalled past the TTL whose claim was taken over mid-rewrite
      // must NOT flip the pointer over the takeover's work. The
      // heartbeat makes this unreachable for a live holder; it fires
      // only after a stall longer than the full TTL.
      Option(currentMaintMutex.get()).foreach { m =>
        if (!m.stillHeld())
          throw new IllegalStateException(
            s"maintenance lock for $dir was lost (TTL takeover after a " +
              s"stall) before publishing $component -> $newVer; aborting " +
              "the pointer flip. The superseded rewrite directory is " +
              "garbage-collected by the takeover's next publish; re-run " +
              "the operation.")
      })

  /** True when any listed component's live version has accumulated
    * more parquet files than `threshold` — the ingest-loop
    * compaction-due check (the EventStore saveIncrement discipline):
    * an append pipeline calls it after each increment and compacts
    * only when due, so steady-state read cost stays bounded without
    * paying a rewrite per shard. The check is one file LISTING per
    * component — no data read, no job. */
  def compactionDue(dir: String, components: Seq[String], threshold: Int,
                    conf: Configuration): Boolean =
    components.exists(c => liveFileCount(dir, c, conf) > threshold)

  /** Parquet file count under the live version of `component` — the
    * number compaction exists to bound (spec + monitoring hook). */
  def liveFileCount(dir: String, component: String, conf: Configuration): Int = {
    val fs = fsOf(dir, conf)
    val it = fs.listFiles(new HPath(resolve(dir, component, conf)), true)
    var n = 0
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) n += 1
    }
    n
  }
}
