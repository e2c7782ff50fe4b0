package graft.store

import java.sql.Timestamp
import org.apache.hadoop.fs.{FileSystem, Path}
import ControlJournal.OwnershipHeldException

/** Cross-process TTL claim over a filesystem directory — the store's
  * ONE locking primitive (the reference's row locks, `FOR UPDATE SKIP
  * LOCKED`, schema.sql:411). It serves both long-lived writer leases
  * ([[ControlJournal]]'s `_owner-`, [[EventStore.acquireLogWriter]]'s
  * `_writer-`) and short critical sections ([[SharedJournal]]'s
  * `_mutex-`, [[SharedLog]]'s `_logmutex-`, the index family's
  * `_maint-`).
  *
  * The live holder is the HIGHEST `<prefix><epoch>` file, holding
  * `owner@expiry`. Claiming, renewing and releasing (an expired
  * `owner@0` claim) each create the NEXT epoch, so epochs only grow,
  * with an atomic create-exclusive ([[AtomicFs.createExclusive]]): of N
  * claimants racing past the expired-claim check exactly one wins — no
  * write-then-read-back window, no delete in the claim path that could
  * nuke a rival's fresh claim, and no claim file ever rewritten in
  * place, so a reader never finds a live claim missing or half
  * replaced. A crashed holder's claim expires by TTL and the next
  * claimant takes over. A claim with unreadable content
  * (a non-`file:` store creates the file before writing it, and a
  * holder can crash in between) expires `ttlMs` past the file's mtime
  * — conservative: it delays takeover, never permits a double claim.
  *
  * `acquireDeadlineMs` picks the acquire behaviour: a lease passes 0
  * and fails fast with [[OwnershipHeldException]] naming the holder; a
  * mutex waits for the holder to release or expire. The wall-clock
  * deadline is a deadlock guard only — liveness decisions use the
  * injectable `clock` (frozen-clock tests hold the TTL open on purpose).
  *
  * Fencing is clock-based: a holder paused past its TTL and resumed
  * detects the takeover at its next [[refresh]] / [[assertHeld]] —
  * correct to within clock skew, the standard WAL-lease tradeoff (an
  * object-store CAS would be stronger but is not portably available).
  */
final class FsMutex(dir: Path,
                    fs: FileSystem,
                    val ownerId: String,
                    clock: () => Timestamp,
                    ttlMs: Long,
                    prefix: String = "_mutex-",
                    acquireDeadlineMs: Long = 120L * 1000) {

  private val claimName = (java.util.regex.Pattern.quote(prefix) + """(\d{20})""").r
  @volatile private var epoch: Long = 0L
  @volatile private var expiry: Long = 0L

  /** Run `f` holding the mutex. */
  def withLock[T](f: => T): T = {
    acquire()
    try f finally release()
  }

  /** Claim the next epoch once the top claim is ours, released or
    * expired; give up at `acquireDeadlineMs` (0: after one attempt)
    * with [[OwnershipHeldException]].
    */
  def acquire(): Unit = {
    val deadline = System.nanoTime() + acquireDeadlineMs * 1000 * 1000
    while (true) {
      val nowMs = clock().getTime
      val seqs = claimSeqs()
      val top = seqs.lastOption.map(readClaim)
      val holder = top.flatten.filter { case (id, exp) => id != ownerId && exp > nowMs }
      // a top claim gone since the listing means the listing is stale
      // (a renewal, claim or release moved past it): list again
      if (holder.isEmpty && !top.contains(None)) {
        val next = seqs.lastOption.getOrElse(0L) + 1L
        if (AtomicFs.createExclusive(fs, claimPath(next), claimBytes(nowMs + ttlMs), ownerId)) {
          // Superseded epochs are dead weight: liveness is decided by
          // the max epoch, so deleting lower ones can never promote a
          // rival. A HIGHER epoch means our listing was stale and we
          // re-created an epoch its holder had already renewed past
          // and deleted: back off.
          val after = claimSeqs()
          after.filter(_ < next).foreach(e => fs.delete(claimPath(e), false))
          if (after.lastOption.contains(next)) {
            epoch = next
            expiry = nowMs + ttlMs
            return
          }
          fs.delete(claimPath(next), false)
        }
      }
      if (System.nanoTime() >= deadline)
        throw new OwnershipHeldException(holder match {
          case Some((id, exp)) =>
            s"$prefix claim at $dir is held by writer '$id' until epoch-ms $exp; " +
              s"'$ownerId' gave up (reference FOR UPDATE SKIP LOCKED, schema.sql:411)"
          case None => s"writer '$ownerId' lost the $prefix claim race at $dir"
        })
      Thread.sleep(5)
    }
  }

  /** Release by claiming the NEXT epoch as an expired `owner@0`
    * marker (create-exclusive), then dropping ours: epochs only grow.
    * Deleting outright would let the next claimant restart at epoch 1,
    * below the epoch a stalled claimant listed before the release — on
    * resuming, that claimant would create the next epoch above the new
    * holder's and hold the mutex beside it. Safe to call when not held.
    */
  def release(): Unit = synchronized {
    if (epoch > 0L) {
      AtomicFs.createExclusive(fs, claimPath(epoch + 1), claimBytes(0L), ownerId)
      fs.delete(claimPath(epoch), false)
    }
    epoch = 0L
  }

  /** True while OUR claim is still the live top epoch — a holder whose
    * TTL expired mid-section can check before its commit point (the
    * createExclusive commit files are the hard fence; this is the
    * cheap early-out).
    */
  def stillHeld(): Boolean = synchronized {
    epoch > 0L && claimSeqs().lastOption.contains(epoch)
  }

  /** Heartbeat: re-claim with a fresh TTL by creating the NEXT epoch
    * ourselves (create-exclusive, then drop the old one), so a holder
    * whose critical section outlives one TTL keeps the lock for as long
    * as it is ALIVE — TTL takeover then only ever fires on a holder
    * that stopped renewing (crashed, or stalled longer than the TTL).
    * Returns false WITHOUT writing when our claim is no longer the live
    * top epoch (a takeover already happened and a dead claim must not
    * resurrect itself under the new holder), and false when a rival
    * that saw our claim expired wins the next epoch first.
    * Synchronized with [[stillHeld]]: a heartbeat thread renews while
    * the holder's own thread checks before its commit point.
    */
  def renew(): Boolean = synchronized {
    stillHeld() && {
      val exp = clock().getTime + ttlMs
      val prev = epoch
      AtomicFs.createExclusive(fs, claimPath(prev + 1), claimBytes(exp), ownerId) && {
        epoch = prev + 1
        expiry = exp
        fs.delete(claimPath(prev), false)
        true
      }
    }
  }

  /** Lease upkeep at the top of every mutation: once past the
    * half-life, [[assertHeld]]; before it, no filesystem operation.
    */
  def refresh(): Unit =
    if (clock().getTime >= expiry - ttlMs / 2) assertHeld()

  /** Unconditional fence check — no half-life gate. [[refresh]] only
    * inspects the epochs once the lease passes its half-life, so a
    * writer whose lease expired DURING a long write job (the common
    * case at production scale: job duration > TTL) would sail through
    * a top-of-mutation refresh and still flip the version pointer,
    * clobbering a successor's publish. Call this immediately before
    * the pointer flip: it always lists the epochs, throws if a higher
    * epoch (or a missing claim) fenced us, and otherwise re-arms the
    * claim so a burst of publishes cannot expire between half-life
    * refreshes. A rival that claims in the check→flip window is the
    * irreducible skew case, but the window shrinks from O(job) to
    * O(one listing).
    */
  def assertHeld(): Unit =
    if (!renew()) {
      val holder = claimSeqs().lastOption.filter(_ > epoch)
        .map(t => s"now held by '${readClaim(t).fold("<released>")(_._1)}' at epoch $t")
        .getOrElse(s"its claim for epoch $epoch is gone")
      throw new OwnershipHeldException(
        s"writer '$ownerId' was fenced: $prefix claim at $dir $holder (ours: $epoch)")
    }

  private def claimBytes(exp: Long): Array[Byte] = s"$ownerId@$exp".getBytes("UTF-8")

  private def claimPath(e: Long): Path = new Path(dir, f"$prefix$e%020d")

  /** Decided from claim names alone ([[AtomicFs.names]]): a listing
    * that stats its entries can lose a live claim its holder renews
    * mid-listing, and a claimant trusting it could join a live holder.
    */
  private def claimSeqs(): Seq[Long] =
    AtomicFs.names(fs, dir).collect { case claimName(d) => d.toLong }.sorted

  /** The claim's (owner, expiry). Unreadable content reads as a foreign
    * hold expiring `ttlMs` past the file's mtime. None when the claim is
    * gone since the listing: a higher epoch superseded it (a release
    * files one first), so the listing is stale — acting on it could
    * create an epoch its holder has already renewed past.
    */
  private def readClaim(e: Long): Option[(String, Long)] = {
    val p = claimPath(e)
    try AtomicFs.read(fs, p).map { bytes =>
      val txt = new String(bytes, "UTF-8")
      val i = txt.lastIndexOf('@')
      val exp = if (i < 0) None else txt.substring(i + 1).trim.toLongOption
      exp.map(txt.substring(0, i) -> _)
        .getOrElse(s"<unreadable claim $p>" -> (fs.getFileStatus(p).getModificationTime + ttlMs))
    } catch { case _: java.io.FileNotFoundException => None }
  }
}
