package graft.store

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Versioned-directory publication: how a rewrite becomes visible to
  * readers (the reference does it with PostgreSQL transactions). A
  * rewrite lands in a fresh `<name>_v<N><suffix>` directory, and one
  * atomic replace of a pointer file ([[AtomicFs.atomicWrite]]) flips
  * readers to it: a reader never finds the pointer absent, never sees
  * a half-written version, and in-flight scans of the previous version
  * finish against its retained files. The event log and every index
  * component publish through this one implementation; each is a
  * layout:
  *  - the event log: pointer `_current`, versions `events_v<N>`,
  *    legacy `events`;
  *  - index component `c`: pointer `_current.c`, versions
  *    `c_v<N>.parquet`, legacy `c.parquet`.
  *
  * '''Resolution''' (one rule for every layout): the version the
  * pointer names; with no pointer, the legacy directory if it exists
  * (a pre-versioning directory, or one whose first rewrite crashed
  * before its flip: the flip is the only visibility event); else the
  * highest version holding Spark's `_SUCCESS` (a complete write — the
  * pointer was lost after the legacy directory was retired); else the
  * legacy path, which reads as empty or absent.
  *
  * Publication crosses the store's fail points
  * ([[IndexMaintenance.failPoint]]) at `publish:before-flip:<name>`,
  * `publish:after-flip:<name>` and after each retention delete.
  */
private[store] final class VersionedDir private (name: String, suffix: String, pointer: String) {

  private val legacy = name + suffix
  private val Version =
    (java.util.regex.Pattern.quote(name) + """_v(\d+)""" + java.util.regex.Pattern.quote(suffix)).r

  /** The live directory under `dir` (see the resolution rule). */
  def resolve(dir: String, conf: Configuration): String =
    s"$dir/${liveName(fsOf(dir, conf), dir)}"

  private def liveName(fs: FileSystem, dir: String): String =
    pointed(fs, dir).getOrElse {
      val names = listNames(fs, dir)
      if (names.contains(legacy)) legacy
      else versions(names).reverseIterator.map(_._2)
        .find(v => fs.exists(new Path(s"$dir/$v/_SUCCESS"))).getOrElse(legacy)
    }

  /** Fresh name for the next rewrite: one past the max of the pointer's
    * version and every version on disk. The pointer counts when its
    * version is gone from the listing; the disk counts when the pointer
    * was lost or a crashed rewrite left an orphan, so numbering never
    * reuses a name a reader may resolve.
    */
  def nextVersionName(dir: String, conf: Configuration): String = {
    val fs = fsOf(dir, conf)
    val fromPtr = pointed(fs, dir).collect { case Version(n) => n.toLong }
    val fromDisk = versions(listNames(fs, dir)).map(_._1)
    s"${name}_v${(fromPtr ++ fromDisk).maxOption.getOrElse(0L) + 1}$suffix"
  }

  /** Flip the pointer to `newVer`, then delete every superseded
    * directory except the `retainDepth` youngest (the legacy directory
    * counts as the oldest) and the one live before the flip — a
    * crash-orphaned higher version must not push the version readers
    * are resolving out of the keep set. Reader-lifetime
    * contract: a scan must finish within `retainDepth` rewrites of the
    * version it resolved. `beforeFlip` runs just before the flip: a
    * holder that lost its lock aborts there.
    */
  def publish(dir: String, newVer: String, conf: Configuration, retainDepth: Int,
              beforeFlip: () => Unit = () => ()): Unit = {
    val fs = fsOf(dir, conf)
    val prevLive = liveName(fs, dir)
    IndexMaintenance.failPoint(s"publish:before-flip:$name")
    beforeFlip()
    AtomicFs.atomicWrite(fs, conf, new Path(s"$dir/$pointer"), newVer.getBytes("UTF-8"))
    IndexMaintenance.failPoint(s"publish:after-flip:$name")
    val predecessors = members(listNames(fs, dir)).filter(_ != newVer) // youngest first
    val keep = Set(newVer, prevLive) ++ predecessors.take(math.max(retainDepth, 0))
    retire(fs, dir, predecessors.filterNot(keep), "publish:retention-deleted")
  }

  /** Delete every version and the legacy directory except the live
    * one; returns the names deleted.
    */
  def vacuum(dir: String, conf: Configuration): Seq[String] = {
    val fs = fsOf(dir, conf)
    val live = liveName(fs, dir)
    retire(fs, dir, members(listNames(fs, dir)).filter(_ != live), "vacuum:deleted")
  }

  /** Delete the pointer and every version, so the legacy directory is
    * live again.
    */
  def reset(dir: String, conf: Configuration): Unit = {
    val fs = fsOf(dir, conf)
    fs.delete(new Path(s"$dir/$pointer"), false)
    IndexMaintenance.failPoint(s"reset:pointer-removed:$name")
    retire(fs, dir, versions(listNames(fs, dir)).map(_._2), "reset:version-removed")
  }

  /** The one pointer read. */
  private def pointed(fs: FileSystem, dir: String): Option[String] =
    AtomicFs.read(fs, new Path(s"$dir/$pointer")).map(new String(_, "UTF-8").trim)

  private def listNames(fs: FileSystem, dir: String): Seq[String] =
    AtomicFs.list(fs, new Path(dir)).map(_.getPath.getName)

  /** (number, name) of every version among `names`, oldest first. */
  private def versions(names: Seq[String]): Seq[(Long, String)] =
    names.collect { case v @ Version(n) => (n.toLong, v) }.sortBy(_._1)

  /** Versions youngest first, then the legacy directory. */
  private def members(names: Seq[String]): Seq[String] =
    versions(names).reverse.map(_._2) ++ names.filter(_ == legacy)

  /** The one retention loop. */
  private def retire(fs: FileSystem, dir: String, doomed: Seq[String], label: String): Seq[String] =
    doomed.map { v =>
      fs.delete(new Path(s"$dir/$v"), true)
      IndexMaintenance.failPoint(s"$label:$name")
      v
    }

  private def fsOf(dir: String, conf: Configuration): FileSystem =
    FileSystem.get(new java.net.URI(dir), conf)
}

private[store] object VersionedDir {
  val EventLog = new VersionedDir("events", "", "_current")
  def indexComponent(component: String) =
    new VersionedDir(component, ".parquet", s"_current.$component")
}
