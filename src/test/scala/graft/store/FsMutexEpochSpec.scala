package graft.store

import java.sql.Timestamp
import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileSystem, FilterFileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

/** Epochs only grow: a release must not let the next claimant restart
  * at epoch 1, below the epoch a stalled claimant listed before the
  * release — that claimant would resume, create the epoch above it and
  * hold the mutex beside the new holder.
  */
class FsMutexEpochSpec extends AnyFunSuite with graft.testkit.TestKitReported {

  /** Stalls the first `open` (the read of the top claim it listed),
    * after the caller's listing and before it acts on it.
    */
  private final class StallingFs(inner: FileSystem) extends FilterFileSystem(inner) {
    val listed = new CountDownLatch(1)
    val resume = new CountDownLatch(1)
    @volatile var armed = true
    override def open(p: Path, bufferSize: Int): FSDataInputStream = {
      if (armed) {
        armed = false
        listed.countDown()
        resume.await(60, TimeUnit.SECONDS)
      }
      super.open(p, bufferSize)
    }
  }

  test("a claimant stalled between its listing and its create cannot join a holder after a release") {
    val dir = new Path("file://" + java.nio.file.Files.createTempDirectory("graft-fsmutex-epoch"))
    val fs = FileSystem.get(dir.toUri, new Configuration())
    val clock = () => new Timestamp(1000000L)
    def mutex(owner: String, on: FileSystem) =
      new FsMutex(dir, on, owner, clock, ttlMs = 60000, acquireDeadlineMs = 300)

    val a = mutex("a", fs)
    a.acquire()
    assert(a.renew()) // a holds epoch 2
    val stalling = new StallingFs(fs)
    val c = mutex("c", stalling)
    @volatile var cResult: Either[Throwable, Unit] = null
    val cThread = new Thread(() => cResult =
      try Right(c.acquire()) catch { case e: Throwable => Left(e) })
    cThread.start()
    assert(stalling.listed.await(60, TimeUnit.SECONDS)) // c listed a's live epoch 2

    a.release()
    val b = mutex("b", fs)
    b.acquire() // b holds the mutex now
    stalling.resume.countDown() // c resumes on its stale listing
    cThread.join(60000)

    assert(cResult != null, "c's acquire did not return")
    assert(cResult.isLeft, "c acquired the mutex while b holds it")
    assert(cResult.swap.toOption.get.isInstanceOf[ControlJournal.OwnershipHeldException])
    assert(b.stillHeld())
    b.release()
  }
}
