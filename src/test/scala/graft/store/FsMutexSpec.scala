package graft.store

import java.sql.Timestamp
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

/** The cross-process TTL mutex's liveness machinery: heartbeat
  * renewal must keep a LIVE holder's claim past its original TTL
  * (reference analogue: PostgreSQL's row locks live as long as the
  * holding transaction — a long compaction must not lose its lock
  * mid-rewrite), takeover must still fire on a holder that STOPPED
  * renewing (or crashed leaving an unreadable claim), and a superseded
  * holder must fail BEFORE publishing a pointer flip over the
  * takeover's work.
  */
class FsMutexSpec extends AnyFunSuite with graft.testkit.TestKitReported {

  private def tmpDir() =
    new Path("file://" +
      java.nio.file.Files.createTempDirectory("graft-fsmutex").toString)
  private val conf = new Configuration()
  private def fsOf(p: Path): FileSystem =
    FileSystem.get(p.toUri, conf)

  test("renew extends an expired-by-clock claim; takeover fires only once renewal stops") {
    val dir = tmpDir(); val fs = fsOf(dir)
    var now = 1000000L
    val clock = () => new Timestamp(now)
    val a = new FsMutex(dir, fs, "holder-a", clock, ttlMs = 1000,
      prefix = "_maint-", acquireDeadlineMs = 250)
    val b = new FsMutex(dir, fs, "holder-b", clock, ttlMs = 1000,
      prefix = "_maint-", acquireDeadlineMs = 250)
    a.acquire()
    now += 2000 // past A's original TTL
    assert(a.renew(), "a live holder renews its own claim")
    // the renewed claim is live again: B must time out, not take over
    intercept[IllegalStateException](b.acquire())
    assert(a.stillHeld())
    now += 2000 // A stops renewing: TTL expires for real
    b.acquire() // takeover succeeds
    assert(!a.stillHeld(), "superseded holder sees the takeover")
    assert(!a.renew(), "a dead claim must not resurrect itself")
    b.release()
  }

  test("an unreadable claim expires at its mtime plus the TTL") {
    // a non-`file:` createExclusive creates the claim, then writes it;
    // a holder that crashed in between leaves an empty claim behind
    val dir = tmpDir(); val fs = fsOf(dir)
    val forged = new Path(dir, f"_mutex-${1L}%020d")
    fs.create(forged, false).close()
    val mtime = fs.getFileStatus(forged).getModificationTime
    var now = mtime + 999
    val m = new FsMutex(dir, fs, "contender", () => new Timestamp(now), ttlMs = 1000,
      acquireDeadlineMs = 0)
    intercept[ControlJournal.OwnershipHeldException](m.acquire())
    assert(!m.stillHeld())
    now = mtime + 1000
    m.acquire() // the crashed holder's claim has expired: taken over
    assert(m.stillHeld())
    assert(!fs.exists(forged), "the superseded claim is collected")
    m.release()
  }

  test("the maintenance heartbeat keeps a long rewrite's lock live past the TTL") {
    val dir = tmpDir().toString
    val fs = fsOf(new Path(dir))
    /** Expiry recorded in the live (top-epoch) `_maint-` claim; None
      * when a renewal superseded and deleted it between listing and read.
      */
    def claimExpiry(): Option[Long] =
      new java.io.File(new Path(dir).toUri).listFiles()
        .filter(_.getName.startsWith("_maint-")).maxByOption(_.getName)
        .flatMap { f =>
          try {
            val txt = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
            Some(txt.substring(txt.lastIndexOf('@') + 1).trim.toLong)
          } catch { case _: java.nio.file.NoSuchFileException => None }
        }
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    def awaitExpiry(ok: Long => Boolean): Long = {
      var e = claimExpiry()
      while (!e.exists(ok) && System.nanoTime() < deadline) {
        Thread.sleep(20); e = claimExpiry()
      }
      e.filter(ok).getOrElse(fail(s"no claim expiry satisfied the wait: $e"))
    }
    // ttl 2 s, heartbeat period max(666, 250) = 666 ms
    IndexMaintenance.withMaintenanceLock(dir, conf, ttlMs = 2000) {
      val acquiredExpiry = awaitExpiry(_ => true) // acquire (or last renewal) time + TTL
      awaitExpiry(_ > acquiredExpiry) // the heartbeat renewed the claim
      // at the instant the unrenewed claim would have expired, the
      // renewed one is still live: a contender is refused
      val contender = new FsMutex(new Path(dir), fs, "contender",
        () => new Timestamp(acquiredExpiry), ttlMs = 2000, prefix = "_maint-",
        acquireDeadlineMs = 0)
      intercept[IllegalStateException](contender.acquire())
    }
    // and the lock releases cleanly afterwards: a fresh acquire wins fast
    IndexMaintenance.withMaintenanceLock(dir, conf, ttlMs = 2000,
      acquireDeadlineMs = 1000)(())
  }

  test("publish aborts the pointer flip after a TTL takeover") {
    val dir = tmpDir().toString
    val fs = fsOf(new Path(dir))
    val caught = intercept[IllegalStateException] {
      IndexMaintenance.withMaintenanceLock(dir, conf) {
        // forge the takeover a >TTL stall would permit: a competing
        // claimant files the next epoch over our (expired) claim
        val claims = fs.listStatus(new Path(dir)).toSeq
          .map(_.getPath.getName).filter(_.startsWith("_maint-")).sorted
        val top = claims.last.stripPrefix("_maint-").toLong
        val next = new Path(dir, f"_maint-${top + 1}%020d")
        val out = fs.create(next, false)
        try out.write(s"intruder@${System.currentTimeMillis() + 60000}"
          .getBytes("UTF-8")) finally out.close()
        IndexMaintenance.publish(dir, "postings", "postings_v1.parquet", conf)
      }
    }
    assert(caught.getMessage.contains("maintenance lock"),
      s"wrong failure: ${caught.getMessage}")
    // the pointer must NOT exist — the flip was aborted, not half-done
    assert(!fs.exists(new Path(s"$dir/_current.postings")))
  }
}
