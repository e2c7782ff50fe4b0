package graft.store

import java.sql.Timestamp
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, FilterFileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

/** A claimant decides from claim names, not from a listing that stats
  * its entries. Hadoop's local `listStatus` reads the names, then stats
  * each, and drops one deleted in between — which a renewal (create the
  * next epoch, delete the previous one) does to the live claim. A
  * claimant trusting such a listing could claim beside the live holder.
  */
class FsMutexListingSpec extends AnyFunSuite with graft.testkit.TestKitReported {

  /** A local filesystem whose `listStatus` never shows the claim named
    * `hidden`: the listing a renewal racing it leaves behind.
    */
  private final class LossyListingFs(inner: FileSystem) extends FilterFileSystem(inner) {
    @volatile var hidden: String = ""
    override def listStatus(p: Path): Array[FileStatus] =
      super.listStatus(p).filterNot(_.getPath.getName == hidden)
  }

  test("a rival whose listing loses the live claim does not take a held mutex") {
    val dir = new Path("file://" + java.nio.file.Files.createTempDirectory("graft-fsmutex-listing"))
    val fs = FileSystem.get(dir.toUri, new Configuration())
    val clock = () => new Timestamp(1000000L)
    val a = new FsMutex(dir, fs, "a", clock, ttlMs = 60000, acquireDeadlineMs = 300)
    a.acquire()
    assert(a.renew()) // a holds epoch 2; epoch 1 is gone
    val live = fs.listStatus(dir).map(_.getPath.getName).filter(_.startsWith("_mutex-")).max

    val lossy = new LossyListingFs(fs)
    lossy.hidden = live
    val b = new FsMutex(dir, lossy, "b", clock, ttlMs = 60000, acquireDeadlineMs = 300)
    val taken = try { b.acquire(); true }
    catch { case _: ControlJournal.OwnershipHeldException => false }
    assert(!taken, "b acquired the mutex while a holds it")
    assert(a.stillHeld())
    a.release()
  }
}
