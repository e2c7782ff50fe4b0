package graft.store

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** Filesystem primitives shared by the store's control plane
  * ([[SharedJournal]] lanes and snapshots, [[FsMutex]] claims,
  * [[SharedLog]] commits). Two write operations cover every need:
  * publish-with-replace (pointer flips, journal entries, snapshots) and
  * create-exclusive (claim races — the reference's row-lock analogue).
  */
private[store] object AtomicFs {

  /** Write-to-temp + ONE rename-with-overwrite (FileContext): readers
    * never see a half-written file. The overwrite is atomic on HDFS; on
    * local paths Hadoop deletes the target before renaming, so a
    * concurrent reader can briefly find the path absent — which is why
    * [[FsMutex]] claims are never rewritten in place.
    */
  def atomicWrite(fs: FileSystem, conf: Configuration,
                  path: Path, bytes: Array[Byte]): Unit = {
    val tmp = new Path(path.getParent, s".tmp-${path.getName}")
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      fs.makeQualified(path).toUri, conf)
    fc.rename(fs.makeQualified(tmp), fs.makeQualified(path),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Create `path` with the given content atomically, failing (false)
    * if it already exists. On local paths a hard link publishes the
    * fully-written temp file — link(2) is atomic and EEXIST-safe, where
    * `RawLocalFileSystem.create(overwrite=false)` is check-then-act.
    * On HDFS-like stores `create(overwrite=false)` is atomic at the
    * namenode. `tmpTag` keeps concurrent claimants' temp files apart.
    */
  def createExclusive(fs: FileSystem, path: Path, bytes: Array[Byte],
                      tmpTag: String): Boolean = {
    val qualified = fs.makeQualified(path)
    if (qualified.toUri.getScheme == "file") {
      val tmp = new Path(path.getParent, s".claim-$tmpTag-${path.getName}")
      val out = fs.create(tmp, true)
      try out.write(bytes) finally out.close()
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(qualified.toUri.getPath),
          java.nio.file.Paths.get(fs.makeQualified(tmp).toUri.getPath))
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      } finally fs.delete(tmp, false)
    } else {
      try {
        val out = fs.create(path, false)
        try out.write(bytes) finally out.close()
        true
      } catch {
        case e: java.io.IOException => if (fs.exists(path)) false else throw e
      }
    }
  }

  /** One `listStatus`; a directory that does not exist (yet, or any
    * more) lists as empty.
    */
  def list(fs: FileSystem, dir: Path): Seq[FileStatus] =
    try fs.listStatus(dir).toSeq
    catch { case _: java.io.FileNotFoundException => Nil }
}
