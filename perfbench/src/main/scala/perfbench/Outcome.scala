package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Thread-safe sample list. */
final class Samples {
  private val q = new ConcurrentLinkedQueue[java.lang.Double]()
  def add(v: Double): Unit = q.add(v)
  def values: Seq[Double] = q.asScala.map(_.doubleValue).toSeq
  def size: Int = q.size
}

/** What one workload run measured and checked. Every operation the
  * clients attempt and every output check counts in `attempted`; each
  * failure is listed by name in `failures`.
  */
final class Outcome {
  /** Epoch millis of the first timed operation (end of set-up). */
  @volatile var measureStartMs: Long = 0L
  /** Epoch millis when the measured window closed. */
  @volatile var measureEndMs: Long = Long.MaxValue
  /** Filesystem counters (read ops, write ops, bytes written) at the
    * window's start and end, for the traced totals.
    */
  @volatile var fsAtStart: (Long, Long, Long) = (0L, 0L, 0L)
  @volatile var fsAtEnd: (Long, Long, Long) = (0L, 0L, 0L)

  private def fsNow(): (Long, Long, Long) =
    (CountingLocalFs.readOps.get, CountingLocalFs.writeOps.get, CountingLocalFs.bytesWritten())

  /** Open the measured window; returns its start in nanoTime. */
  def markStart(): Long = {
    fsAtStart = fsNow()
    measureStartMs = System.currentTimeMillis()
    System.nanoTime()
  }

  /** Close the window that opened at `startNs` and ended at `endNs`. */
  def markEnd(startNs: Long, endNs: Long): Unit = {
    windowS = (endNs - startNs) / 1e9
    deliveryWindowS = windowS
    measureEndMs = System.currentTimeMillis() - (System.nanoTime() - endNs) / 1000000L
    fsAtEnd = fsNow()
  }
  /** Foreground operation latency (command or query), ms. */
  val op = new Samples
  /** Consumer round latency, ms (store workloads). */
  val poll = new Samples
  /** Time from an item's creation to its first delivery, ms. */
  val lag = new Samples
  @volatile var opsDone: Long = 0L
  @volatile var delivered: Long = 0L
  @volatile var windowS: Double = 0.0
  /** Time over which `delivered` is counted; the window unless the
    * workload cuts it shorter.
    */
  @volatile var deliveryWindowS: Double = 0.0
  @volatile var heapMb: Double = 0.0
  @volatile var diskBytes: Long = 0L
  @volatile var userBytes: Long = 0L
  private val attemptedN = new java.util.concurrent.atomic.AtomicLong(0L)
  private val failed = new ConcurrentLinkedQueue[String]()
  /** Workload counters reported as per-layer metrics. */
  val counters = new java.util.concurrent.ConcurrentHashMap[String, Double]()
  /** Catalyst phase millis of each registry query's own execution, by span id. */
  val queryPlanningMs = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  /** Named check results, in the order they ran. */
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]

  def attempt(n: Long = 1L): Unit = attemptedN.addAndGet(n)
  def fail(name: String): Unit = failed.add(name)
  def attempted: Long = attemptedN.get
  def failures: Seq[String] = failed.asScala.toSeq

  /** Run one output check; any exception fails it. */
  def check(name: String)(body: => Option[String]): Unit = {
    attempt()
    val problem =
      try body
      catch { case e: Throwable => Some(s"exception: ${e.toString.take(200)}") }
    checks.synchronized(checks += ((name, problem.isEmpty, problem.getOrElse(""))))
    problem.foreach(p => fail(s"check:$name: $p"))
  }

  def noteHeap(mb: Double): Unit = synchronized { heapMb = math.max(heapMb, mb) }
}

object Heap {
  /** Heap in use right after an explicit full GC, MB. With `settleMs`
    * above 0 it waits that long and collects again: Spark's
    * ContextCleaner frees the blocks of RDDs and broadcasts only after
    * the first collection drops them (a compaction drops the whole
    * previous log), and a single collection counts them or not by a race.
    */
  def afterGcMb(settleMs: Long = 0L): Double = {
    System.gc()
    if (settleMs > 0) {
      Thread.sleep(settleMs)
      System.gc()
    }
    val rt = Runtime.getRuntime
    (rt.totalMemory - rt.freeMemory) / 1e6
  }
}

object Disk {
  /** Copy the regular files under `from` to the same paths under `to`. */
  def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    val s = java.nio.file.Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(q)
      else java.nio.file.Files.copy(p, q)
    } finally s.close()
  }

  /** Bytes of all regular files under `dirs`. */
  def bytesUnder(dirs: Seq[String]): Long = dirs.map { d =>
    val p = java.nio.file.Paths.get(d)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum
      finally s.close()
    }
  }.sum
}
