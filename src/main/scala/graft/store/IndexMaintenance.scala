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
  *     MVCC-style through a `_current.<component>` pointer — the
  *     EventStore.compact discipline (EventStore.scala `publishVersion`):
  *     one atomic rename flips readers to the compacted copy, there is
  *     no window where a listing can fail, in-flight scans on the
  *     previous version finish against its retained files (deleted
  *     only by the NEXT rewrite), and `retainDepth` widens that
  *     window for long scans. Appends land in the RESOLVED live
  *     version, so compact → append → compact cycles stay append-only
  *     between rewrites.
  */
object IndexMaintenance {

  private val MarkerFile = "_format.json"

  /** Test-only fail-point seam (the etcd/TiKV failpoint pattern):
    * every maintenance operation calls [[failPoint]] at each file-op
    * boundary — after a metadata delete, between component data
    * writes, before/after a pointer flip. Production default is a
    * no-op; IndexCrashPropertySpec installs a throwing hook to
    * simulate a process crash at EVERY boundary mechanically (round
    * 12 found two real lifecycle bugs only by manual review — this is
    * the mechanization). Hooks must be one-shot or re-entrant: a
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
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val propJson = props.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ", ", "}")
    val json =
      s"""{"kind": ${q(kind)}, "version": $version, "props": $propJson}"""
    val fs = fsOf(dir, conf)
    fs.mkdirs(new HPath(dir))
    AtomicFs.atomicWrite(fs, conf, new HPath(s"$dir/$MarkerFile"),
      json.getBytes("UTF-8"))
  }

  /** Read the marker at `dir`; None when absent (a pre-marker or
    * foreign directory). */
  def readMarker(dir: String, conf: Configuration)
      : Option[(String, Int, Map[String, String])] = {
    val fs = fsOf(dir, conf)
    val p = new HPath(s"$dir/$MarkerFile")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val raw =
        try {
          val buf = new java.io.ByteArrayOutputStream()
          org.apache.commons.io.IOUtils.copy(in, buf)
          buf.toString("UTF-8")
        } finally in.close()
      val kindR = """"kind"\s*:\s*"((?:[^"\\]|\\.)*)"""".r
      val verR = """"version"\s*:\s*(\d+)""".r
      val propR = """"((?:[^"\\]|\\.)*)"\s*:\s*"((?:[^"\\]|\\.)*)"""".r
      def unesc(s: String) = s.replace("\\\"", "\"").replace("\\\\", "\\")
      for {
        k <- kindR.findFirstMatchIn(raw).map(m => unesc(m.group(1)))
        v <- verR.findFirstMatchIn(raw).map(_.group(1).toInt)
      } yield {
        val props = raw.indexOf("\"props\"") match {
          case -1 => Map.empty[String, String]
          case i => propR.findAllMatchIn(raw.substring(i + 7))
            .map(m => unesc(m.group(1)) -> unesc(m.group(2))).toMap
        }
        (k, v, props)
      }
    }
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
  // Versioned component publication (the EventStore `_current` pattern,
  // generalized to named components within one index directory)

  private def pointerFile(component: String) = s"_current.$component"
  private def versionRe(component: String) =
    (java.util.regex.Pattern.quote(component) + """_v(\d+)\.parquet""").r

  /** The live directory for `component` under `dir`: the version the
    * `_current.<component>` pointer names, else the legacy unversioned
    * `<component>.parquet` every pre-compaction index uses. A
    * versioned directory WITHOUT a pointer is deliberately ignored:
    * the pointer write is atomic, so a pointerless `_vN` can only be
    * a compaction that crashed BEFORE publishing — a partial Spark
    * output whose adoption would silently drop the intact legacy data
    * (the orphan is garbage-collected by the next successful
    * publish's retention pass, and nextVersionName still numbers
    * above it so a retry never collides). */
  def resolve(dir: String, component: String, conf: Configuration): String = {
    val fs = fsOf(dir, conf)
    val ptr = new HPath(s"$dir/${pointerFile(component)}")
    val fromPtr =
      if (!fs.exists(ptr)) None
      else {
        val in = fs.open(ptr)
        try {
          val buf = new java.io.ByteArrayOutputStream()
          org.apache.commons.io.IOUtils.copy(in, buf)
          Some(buf.toString("UTF-8").trim)
        } finally in.close()
      }
    fromPtr.map(v => s"$dir/$v")
      .getOrElse(s"$dir/$component.parquet")
  }

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
    val d = new HPath(dir)
    if (!fs.exists(d)) return
    val marker = new HPath(s"$dir/$MarkerFile")
    if (fs.exists(marker)) fs.delete(marker, false)
    failPoint("reset:marker-removed")
    for (component <- components) {
      val ptr = new HPath(s"$dir/${pointerFile(component)}")
      if (fs.exists(ptr)) fs.delete(ptr, false)
      failPoint(s"reset:pointer-removed:$component")
      val re = versionRe(component)
      fs.listStatus(d).toSeq.map(_.getPath.getName).foreach {
        case v @ re(_) =>
          fs.delete(new HPath(s"$dir/$v"), true)
          failPoint(s"reset:version-removed:$component")
        case _ => ()
      }
    }
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
    * keeping ONLY the live version each `_current` pointer names (or
    * the legacy `<component>.parquet` when no pointer exists).
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
    val fs = fsOf(dir, conf)
    val d = new HPath(dir)
    if (!fs.exists(d)) return Nil
    withMaintenanceLock(dir, conf) {
    components.flatMap { component =>
      val liveName = resolve(dir, component, conf).stripPrefix(s"$dir/")
      val re = versionRe(component)
      val legacy = s"$component.parquet"
      fs.listStatus(d).toSeq.map(_.getPath.getName).filter { name =>
        val versioned = name match { case re(_) => true; case _ => false }
        (versioned || name == legacy) && name != liveName
      }.map { name =>
        fs.delete(new HPath(s"$dir/$name"), true)
        failPoint(s"vacuum:deleted:$component")
        name
      }
    }
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

  private def latestOnDisk(dir: String, component: String,
                           conf: Configuration): Option[String] = {
    val fs = fsOf(dir, conf)
    val d = new HPath(dir)
    val re = versionRe(component)
    if (!fs.exists(d)) None
    else fs.listStatus(d).toSeq.map(_.getPath.getName)
      .collect { case v @ re(n) => (n.toLong, v) }
      .sortBy(_._1).lastOption.map(_._2)
  }

  /** Fresh directory name for the next compacted version of
    * `component` (strictly above every version on disk). */
  def nextVersionName(dir: String, component: String,
                      conf: Configuration): String = {
    val n = latestOnDisk(dir, component, conf)
      .map { v => val re = versionRe(component)
        v match { case re(k) => k.toLong; case _ => 0L } }
      .getOrElse(0L)
    s"${component}_v${n + 1}.parquet"
  }

  /** Atomically flip `_current.<component>` to `newVer` and delete
    * superseded versions beyond the `retainDepth` youngest (the
    * pointer-previous version always survives this rewrite — the
    * EventStore reader-lifetime contract: a scan must finish within
    * `retainDepth` subsequent rewrites of the version it resolved).
    * The legacy unversioned directory counts as the oldest
    * predecessor.
    */
  def publish(dir: String, component: String, newVer: String,
              conf: Configuration, retainDepth: Int = 1): Unit = {
    val fs = fsOf(dir, conf)
    val prevLive = { // pointer target BEFORE the flip — must survive
      val ptr = new HPath(s"$dir/${pointerFile(component)}")
      if (!fs.exists(ptr)) None
      else {
        val in = fs.open(ptr)
        try {
          val buf = new java.io.ByteArrayOutputStream()
          org.apache.commons.io.IOUtils.copy(in, buf)
          Some(buf.toString("UTF-8").trim)
        } finally in.close()
      }
    }
    failPoint(s"publish:before-flip:$component")
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
    }
    AtomicFs.atomicWrite(fs, conf, new HPath(s"$dir/${pointerFile(component)}"),
      newVer.getBytes("UTF-8"))
    failPoint(s"publish:after-flip:$component")
    val legacy = s"$component.parquet"
    val re = versionRe(component)
    val predecessors = // youngest-first, legacy oldest
      (fs.listStatus(new HPath(dir)).toSeq.map(_.getPath.getName)
        .collect { case v @ re(n) if v != newVer => (n.toLong, v) }
        ++ (if (fs.exists(new HPath(s"$dir/$legacy"))) Seq((0L, legacy)) else Nil))
        .sortBy(-_._1).map(_._2)
    val keep = Set(newVer) ++ prevLive ++
      predecessors.take(math.max(retainDepth, 0))
    (predecessors.filterNot(keep)).foreach { v =>
      fs.delete(new HPath(s"$dir/$v"), true)
      failPoint(s"publish:retention-deleted:$component")
    }
  }

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
