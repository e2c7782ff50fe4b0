package graft.store

import java.sql.Timestamp
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

/** A renewal must never open a window in which a rival can claim a
  * LIVE holder's mutex. Renewing by rewriting the claim in place does:
  * on local paths an overwrite-rename deletes the claim before renaming
  * the new one in, and a rival listing in between sees no claim at all.
  * Renewal therefore claims the next epoch itself, and a claimant whose
  * listing went stale while the holder renewed past it backs off.
  */
class FsMutexRenewalSpec extends AnyFunSuite with graft.testkit.TestKitReported {

  test("a contender never takes a claim that its holder keeps renewing") {
    val dir = new Path("file://" +
      java.nio.file.Files.createTempDirectory("graft-fsmutex-renew").toString)
    val fs = FileSystem.get(dir.toUri, new Configuration())
    val clock = () => new Timestamp(1000000L) // frozen: no claim ever expires
    val holder = new FsMutex(dir, fs, "holder", clock, ttlMs = 60000, prefix = "_maint-")
    holder.acquire()
    @volatile var stop = false
    val renewals = new java.util.concurrent.atomic.AtomicLong
    val heartbeat = new Thread(() => while (!stop) if (holder.renew()) renewals.incrementAndGet())
    heartbeat.start()
    val taken =
      try (0 until 5000).count { i =>
        val rival = new FsMutex(dir, fs, s"rival-$i", clock, ttlMs = 60000,
          prefix = "_maint-", acquireDeadlineMs = 0)
        try { rival.acquire(); rival.release(); true }
        catch { case _: IllegalStateException => false }
      } finally { stop = true; heartbeat.join() }
    assert(taken === 0, s"rivals took the live claim $taken times")
    assert(renewals.get() > 0)
    assert(holder.stillHeld())
    holder.release()
  }
}
