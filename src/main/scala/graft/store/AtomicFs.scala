package graft.store

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileStatus, FileSystem, Path}

/** Filesystem primitives shared by the store's control plane
  * ([[SharedJournal]] lanes and snapshots, [[FsMutex]] claims,
  * [[SharedLog]] commits, [[VersionedDir]] pointers, index markers).
  * Two write operations cover every need: publish-with-replace
  * (pointer flips, journal entries, snapshots) and create-exclusive
  * (claim races — the reference's row-lock analogue); [[read]] is
  * their one small-file read.
  */
private[store] object AtomicFs {

  /** The store's one JSON mapper: journal entries and snapshots, log
    * commits and index format markers.
    */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Write-to-temp + ONE atomic replace: readers never see a
    * half-written file, and never find the path absent.
    *  - HDFS-like stores: rename-with-OVERWRITE through FileContext.
    *  - Local paths: there Hadoop's overwrite-rename deletes the target
    *    first, so the temp is written checksum-free with `java.nio` and
    *    moved with `ATOMIC_MOVE` (rename(2) replaces in one step). The
    *    target's `.crc` sidecar is deleted before the move, so a reader
    *    never checks new bytes against an old checksum.
    */
  def atomicWrite(fs: FileSystem, conf: Configuration,
                  path: Path, bytes: Array[Byte]): Unit = {
    val qualified = fs.makeQualified(path)
    if (qualified.toUri.getScheme == "file") {
      import java.nio.file.{Files, Paths, StandardCopyOption}
      val target = Paths.get(qualified.toUri.getPath)
      val tmp = target.resolveSibling(s".tmp-${path.getName}")
      Files.createDirectories(target.getParent)
      Files.write(tmp, bytes)
      Files.deleteIfExists(target.resolveSibling(s".${path.getName}.crc"))
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
    } else {
      val tmp = new Path(path.getParent, s".tmp-${path.getName}")
      val out = fs.create(tmp, true)
      try out.write(bytes) finally out.close()
      org.apache.hadoop.fs.FileContext.getFileContext(qualified.toUri, conf)
        .rename(fs.makeQualified(tmp), qualified, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
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

  /** The whole content of a small file in one `open`; None when the
    * file does not exist. A [[ChecksumException]] is retried briefly:
    * a file written by an older release still carries a `.crc`
    * sidecar, which [[atomicWrite]] deletes just before its move, so a
    * reader that opened the pair across that step sees a mismatch for
    * microseconds. A persistent mismatch is real and rethrows.
    */
  def read(fs: FileSystem, path: Path): Option[Array[Byte]] = {
    def attempt(n: Int): Option[Array[Byte]] =
      try {
        val in = fs.open(path)
        try Some(in.readAllBytes()) finally in.close()
      } catch {
        case _: java.io.FileNotFoundException => None
        case _: ChecksumException if n < 50 => Thread.sleep(2); attempt(n + 1)
      }
    attempt(0)
  }

  /** One `listStatus`; a directory that does not exist (yet, or any
    * more) lists as empty.
    */
  def list(fs: FileSystem, dir: Path): Seq[FileStatus] =
    try fs.listStatus(dir).toSeq
    catch { case _: java.io.FileNotFoundException => Nil }

  /** The entry names of `dir`, empty when it does not exist. On `file:`
    * one directory read and no per-entry stat: Hadoop's local
    * `listStatus` stats each name after reading them all and silently
    * drops an entry deleted in between, so a file superseded by
    * create-then-delete (a renewed [[FsMutex]] claim) could vanish from
    * a listing that also missed its successor. Elsewhere one
    * `listStatus`.
    */
  def names(fs: FileSystem, dir: Path): Seq[String] = {
    val qualified = fs.makeQualified(dir)
    if (qualified.toUri.getScheme == "file")
      Option(new java.io.File(qualified.toUri.getPath).list()).fold(Seq.empty[String])(_.toSeq)
    else list(fs, dir).map(_.getPath.getName)
  }
}
