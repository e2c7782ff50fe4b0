package graft.store

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** What the calling thread makes Spark and the local filesystem do
  * between [[CallProbe.start]] and [[CallProbe.stop]]: its jobs (tagged
  * with a job group), the partition index of every task those jobs run,
  * and the bytes read through Hadoop's `file:` filesystem (the counter
  * a parquet scan of a local log feeds). [[resultBytes]] adds the bytes
  * those tasks sent back to the driver as results.
  */
final class CallProbe private (spark: SparkSession, private val group: String) extends SparkListener {
  private val jobStages = new ConcurrentLinkedQueue[Seq[Int]]()
  private val taskEnds = new ConcurrentLinkedQueue[(Int, Int, Long)]()
  @volatile private var shipped = 0L
  @volatile private var markerSeen = false
  private val fileBytesBefore = CallProbe.fileBytesRead()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
      case Some(`group`) => jobStages.add(e.stageIds)
      case Some(g) if g == s"$group-marker" => markerSeen = true
      case _ => ()
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    taskEnds.add((e.stageId, e.taskInfo.partitionId, Option(e.taskMetrics).fold(0L)(_.resultSize)))

  /** Stop recording. A marker job run after the call is seen by the
    * listener only after every earlier event (the bus delivers in
    * order), so the cost is complete when it returns.
    */
  def stop(): CallProbe.Cost = {
    spark.sparkContext.clearJobGroup()
    val fileBytes = CallProbe.fileBytesRead() - fileBytesBefore
    spark.sparkContext.setJobGroup(s"$group-marker", "marker")
    try spark.sparkContext.parallelize(Seq(1), 1).count()
    finally spark.sparkContext.clearJobGroup()
    val deadline = System.nanoTime() + 60000000000L
    while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(10)
    spark.sparkContext.removeSparkListener(this)
    assert(markerSeen, "listener bus did not deliver the marker job")
    val stages = jobStages.asScala.flatten.toSet
    val tasks = taskEnds.asScala.filter(t => stages(t._1)).toSeq
    shipped = tasks.map(_._3).sum
    CallProbe.Cost(jobStages.size, tasks.map(_._2).sorted, fileBytes)
  }

  /** Result bytes the call's tasks sent to the driver; set by [[stop]]. */
  def resultBytes: Long = shipped
}

object CallProbe {
  /** `jobs` run, the partition index of each of their tasks, and the
    * bytes read from local files meanwhile.
    */
  final case class Cost(jobs: Int, taskPartitions: Seq[Int], fileBytes: Long)

  private val ids = new java.util.concurrent.atomic.AtomicLong(0L)

  def start(spark: SparkSession): CallProbe = {
    val p = new CallProbe(spark, s"call-probe-${ids.incrementAndGet()}")
    spark.sparkContext.addSparkListener(p)
    spark.sparkContext.setJobGroup(p.group, "call probe")
    p
  }

  /** The partition `repartition(defaultParallelism, decider_id)` puts
    * stream `deciderId` in, evaluated by Spark itself.
    */
  def hashPartition(spark: SparkSession, deciderId: String): Int = {
    import org.apache.spark.sql.functions.{hash, lit, pmod}
    spark.range(1).select(pmod(hash(lit(deciderId)), lit(spark.sparkContext.defaultParallelism)))
      .head().getInt(0)
  }

  private def fileBytesRead(): Long =
    Option(FileSystem.getGlobalStorageStatistics.get("file"))
      .flatMap(s => Option(s.getLong("bytesRead"))).fold(0L)(_.longValue)
}
