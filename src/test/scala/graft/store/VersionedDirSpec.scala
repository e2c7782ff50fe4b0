package graft.store

import graft.SparkSpec
import graft.operators.IncrementalDedup
import java.io.File
import java.nio.file.{Files, Path => JPath}
import scala.jdk.CollectionConverters._

/** The one publication path shared by the event log and the index
  * family ([[VersionedDir]]): one pointerless resolution rule, one
  * retention rule, one marker format, and the publication fail points
  * on the event log's rewrites.
  */
class VersionedDirSpec extends SparkSpec with graft.testkit.TestKitReported {

  private def conf = spark.sparkContext.hadoopConfiguration
  private def tmp(tag: String) = Files.createTempDirectory(s"graft-$tag").toString

  private def mkStore(): EventStore = {
    val st = new EventStore(spark)
    st.registerDeciderEvent("C", "E")
    st
  }

  private def append(st: EventStore, from: Int, until: Int): Unit = {
    val batch = (from until until).map { i =>
      val prev = if (i < 3) None else Some(s"e${i - 3}")
      EventInput("E", s"e$i", "C", s"p${i % 3}", s"""{"i":$i}""", previous_id = prev)
    }
    assert(st.append(batch).rejected.isEmpty)
  }

  /** 40 distinct documents with the corpus schema. */
  private def docs = {
    import spark.implicits._
    val words = Seq("spark", "query", "window", "merge", "table", "filter", "order", "scan")
    (0 until 40).map { i =>
      val text = (0 until 30).map(j => words((i * 7 + j * j) % words.size) + (i + j) % 11)
        .mkString(" ")
      (i.toLong, text, "en", s"src${i % 3}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  private def copyTree(from: JPath, to: JPath): Unit =
    Files.walk(from).iterator().asScala.foreach { p =>
      val target = to.resolve(from.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(target) else Files.copy(p, target)
    }

  test("a crashed first save beside a legacy events dir leaves the legacy data live") {
    val dir = tmp("vdir-legacy-crash")
    val st = mkStore()
    append(st, 0, 30)
    st.save(dir, buckets = 4)
    // a pre-versioning layout: data under $dir/events, no pointer
    assert(new File(dir, "_current").delete())
    assert(new File(dir, "events_v1").renameTo(new File(dir, "events")))
    // a first save that crashed mid-write: events_v1 holds part of the
    // data and no _SUCCESS
    val legacy = JPath.of(dir, "events")
    val oneBucket = Files.list(legacy).iterator().asScala
      .find(_.getFileName.toString.startsWith("bucket=")).get
    copyTree(oneBucket, JPath.of(dir, "events_v1").resolve(oneBucket.getFileName))
    assert(!new File(dir, "events_v1/_SUCCESS").exists())

    assert(EventStore.resolveEventsPath(dir, conf) === s"$dir/events")
    val st2 = new EventStore(spark)
    st2.load(dir, buckets = 4)
    assert(st2.allEvents.count() === 30L)
    // the next save numbers past the orphan and keeps the legacy dir,
    // the version readers resolved before its flip
    st2.save(dir, buckets = 4)
    assert(EventStore.resolveEventsPath(dir, conf) === s"$dir/events_v2")
    assert(new File(dir, "events").exists(), "the previously live legacy dir was deleted")
    val st3 = new EventStore(spark)
    st3.load(dir, buckets = 4)
    assert(st3.allEvents.count() === 30L)
  }

  test("a lost pointer resolves to the highest complete version, for an index as for the event log") {
    // index: two compactions retire the legacy signatures.parquet; then
    // the pointer is lost, and a crashed compaction left an incomplete
    // higher version
    val dir = tmp("vdir-index-lost")
    IncrementalDedup.build(spark, docs, dir)
    IncrementalDedup.compact(spark, dir, setsPartitions = 2)
    IncrementalDedup.compact(spark, dir, setsPartitions = 2)
    assert(!new File(dir, "signatures.parquet").exists())
    assert(new File(dir, "_current.signatures").delete())
    assert(new File(dir, "signatures_v9.parquet").mkdir())
    assert(IndexMaintenance.resolve(dir, "signatures", conf) === s"$dir/signatures_v2.parquet")
    assert(IndexMaintenance.nextVersionName(dir, "signatures", conf) === "signatures_v10.parquet")
    // and the index still answers: a copy of an indexed doc is flagged
    val probe = docs.limit(1).collect().head
    val copy = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(
        9999999L, probe.getString(1), "en", "probe", probe.getString(1).length.toLong)),
      docs.schema)
    val out = IncrementalDedup.dedupIncrement(spark, copy, dir).collect()
    assert(out.head.getBoolean(1) && out.head.getLong(2) === probe.getLong(0))

    // event log: the same two rewrites, the same loss, the same orphan
    val logDir = tmp("vdir-log-lost")
    val st = mkStore()
    append(st, 0, 30)
    st.save(logDir, buckets = 4)
    st.save(logDir, buckets = 4)
    assert(new File(logDir, "_current").delete())
    assert(new File(logDir, "events_v9").mkdir())
    assert(EventStore.resolveEventsPath(logDir, conf) === s"$logDir/events_v2")
  }

  test("a format marker in the hand-written JSON of earlier releases still reads") {
    val dir = tmp("vdir-marker")
    Files.writeString(JPath.of(dir, "_format.json"),
      """{"kind": "k\"q", "version": 3, "props": {"a": "1", "b\\c": "x\"y"}}""")
    assert(IndexMaintenance.readMarker(dir, conf) ===
      Some(("k\"q", 3, Map("a" -> "1", "b\\c" -> "x\"y"))))
    IndexMaintenance.writeMarker(dir, "k\"q", 4, Map("a" -> "2"), conf)
    assert(IndexMaintenance.readMarker(dir, conf) === Some(("k\"q", 4, Map("a" -> "2"))))
    assert(IndexMaintenance.readMarker(tmp("vdir-unmarked"), conf) === None)
  }

  test("an event-log save crosses the publication fail points; a kill before the flip keeps the old version") {
    val dir = tmp("vdir-log-crash")
    val st = mkStore()
    append(st, 0, 30)
    st.save(dir, buckets = 4)
    append(st, 30, 36)
    val labels = scala.collection.mutable.ArrayBuffer.empty[String]
    IndexMaintenance.failPointHook = { l =>
      labels += l
      if (l == "publish:before-flip:events") throw new RuntimeException(s"simulated crash at $l")
    }
    try intercept[RuntimeException](st.save(dir, buckets = 4))
    finally IndexMaintenance.failPointHook = _ => ()
    assert(labels.toSeq === Seq("publish:before-flip:events"))
    assert(EventStore.resolveEventsPath(dir, conf) === s"$dir/events_v1")
    val before = new EventStore(spark)
    before.load(dir, buckets = 4)
    assert(before.allEvents.count() === 30L)

    labels.clear()
    IndexMaintenance.failPointHook = labels += _
    try st.save(dir, buckets = 4) finally IndexMaintenance.failPointHook = _ => ()
    // nothing retired: the crash's orphan v2 is the youngest
    // predecessor and v1 was live before the flip
    assert(labels.toSeq === Seq("publish:before-flip:events", "publish:after-flip:events"))
    assert(EventStore.resolveEventsPath(dir, conf) === s"$dir/events_v3")
    val after = new EventStore(spark)
    after.load(dir, buckets = 4)
    assert(after.allEvents.count() === 36L)
  }
}
