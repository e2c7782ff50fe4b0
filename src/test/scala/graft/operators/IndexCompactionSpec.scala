package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The persisted-index maintenance contract (round-12):
  *
  *  - '''compaction equivalence + bounded files''': after many
  *    appended increments, `compact()` must leave query/dedup output
  *    IDENTICAL and the live file count bounded (one file per
  *    band/bucket for the partitioned components) — the EventStore
  *    compaction discipline extended to the three index families;
  *  - '''format markers''': a reader/appender pointed at an unmarked
  *    or mismatched directory must fail fast (the silent-zero-match
  *    failure mode the round-11 ADVICE flagged), and the embedding
  *    index must reject a caller whose banding differs from the one
  *    the index was built at;
  *  - '''binary at rest''': the dedup index's persisted shingle sets
  *    carry raw md5 bytes — they must be BinaryType in the parquet
  *    schema (UTF-8-validating readers reject digest bytes posing as
  *    strings), while the in-plan representation stays the
  *    StringType fast path.
  */
class IndexCompactionSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(s"graft-$tag").toString
  private def conf = spark.sparkContext.hadoopConfiguration

  // ------------------------------------------------------------------
  // doc minhash index

  test("IncrementalDedup: compact preserves dedup output and bounds files") {
    val docs = graft.Tables.documents(spark, sf)
    val corpus = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val dir = tmp("dedup-compact")
    IncrementalDedup.build(spark, corpus, dir)
    // 10 tiny increments — the small-file accumulation pattern
    (0 until 10).foreach { i =>
      IncrementalDedup.appendIncrement(spark,
        docs.filter(pmod(col("doc_id"), lit(50)) === i), dir)
    }
    val shard = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
    val before = IncrementalDedup.dedupIncrement(spark, shard, dir).collect()
    val filesBefore =
      graft.store.IndexMaintenance.liveFileCount(dir, "signatures", conf)
    assert(filesBefore > IncrementalDedup.Bands,
      s"expected appended small files, got $filesBefore")

    IncrementalDedup.compact(spark, dir, setsPartitions = 4)
    val after = IncrementalDedup.dedupIncrement(spark, shard, dir).collect()
    assert(after.toSeq === before.toSeq,
      "compaction must not change dedup output")
    val sigFiles =
      graft.store.IndexMaintenance.liveFileCount(dir, "signatures", conf)
    assert(sigFiles <= IncrementalDedup.Bands,
      s"compacted signatures should be ≤1 file/band, got $sigFiles")
    assert(graft.store.IndexMaintenance.liveFileCount(dir, "sets", conf) <= 4)

    // append-after-compact lands in the live version and stays visible
    IncrementalDedup.appendIncrement(spark, shard, dir)
    val probe = shard.limit(1).collect().head
    val shard2 = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(
        9999999L, probe.getString(1), "en", "probe",
        probe.getString(1).length.toLong)),
      docs.schema)
    val out2 = IncrementalDedup.dedupIncrement(spark, shard2, dir).collect()
    assert(out2.head.getBoolean(1) && out2.head.getLong(2) === probe.getLong(0))

    // a second compact folds the post-compact increment too
    IncrementalDedup.compact(spark, dir, setsPartitions = 4)
    val out3 = IncrementalDedup.dedupIncrement(spark, shard2, dir).collect()
    assert(out3.toSeq === out2.toSeq)
  }

  test("IncrementalDedup: persisted sets are BinaryType; format marker gates readers") {
    val docs = graft.Tables.documents(spark, sf).limit(50)
    val dir = tmp("dedup-format")
    IncrementalDedup.build(spark, docs, dir)
    // at-rest schema: raw digest bytes persisted honestly as binary
    val shType = spark.read
      .parquet(graft.store.IndexMaintenance.resolve(dir, "sets", conf))
      .schema("sh").dataType
    assert(shType ===
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.BinaryType, containsNull = false) ||
      shType.simpleString.startsWith("array<binary>"),
      s"sets.sh must persist as array<binary>, got ${shType.simpleString}")

    // unmarked directory (a pre-versioning index) → fail fast, with
    // the rebuild migration path in the message
    val bare = tmp("dedup-unmarked")
    IncrementalDedup.shingleSets(docs)
      .write.parquet(s"$bare/sets.parquet")
    val e = intercept[IllegalStateException] {
      IncrementalDedup.dedupIncrement(spark, docs.limit(5), bare)
    }
    assert(e.getMessage.contains("rebuild"))

    // marked but wrong version → fail fast
    graft.store.IndexMaintenance.writeMarker(
      bare, IncrementalDedup.FormatKind, 1, Map.empty, conf)
    val e2 = intercept[IllegalStateException] {
      IncrementalDedup.appendIncrement(spark, docs.limit(5), bare)
    }
    assert(e2.getMessage.contains("mismatch"))
  }

  // ------------------------------------------------------------------
  // embedding LSH index

  test("EmbIncrementalDedup: compact preserves search output, bounds files; banding is pinned") {
    val emb = graft.Tables.embeddings(spark, sf)
    val corpus = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val queries = emb.filter(pmod(col("vec_id"), lit(5)) === 0).limit(20)
    val dir = tmp("emb-compact")
    EmbIncrementalDedup.build(spark, corpus, dir)
    (0 until 6).foreach { i =>
      EmbIncrementalDedup.appendIncrement(spark,
        emb.filter(pmod(col("vec_id"), lit(60)) === i), dir)
    }
    val before =
      EmbIncrementalDedup.searchIndex(spark, queries, dir, k = 3).collect()
    EmbIncrementalDedup.compact(spark, dir, vecPartitions = 4)
    val after =
      EmbIncrementalDedup.searchIndex(spark, queries, dir, k = 3).collect()
    assert(after.toSeq === before.toSeq,
      "compaction must not change search output")
    assert(graft.store.IndexMaintenance
      .liveFileCount(dir, "signatures", conf) <= EmbIncrementalDedup.Bands)
    assert(graft.store.IndexMaintenance
      .liveFileCount(dir, "vectors", conf) <= 4)

    // the marker pins banding: reading with different (bands, bits)
    // than the build must fail fast, not silently zero-match
    val e = intercept[IllegalStateException] {
      EmbIncrementalDedup.searchIndex(spark, queries, dir, k = 3,
        nBands = 8, bits = 6)
    }
    assert(e.getMessage.contains("property mismatch") ||
      e.getMessage.contains("rebuild"))
  }

  // ------------------------------------------------------------------
  // BM25 postings index

  test("DocSearchIndex: compact preserves scores, folds stats rows, bounds files") {
    val docs = graft.Tables.documents(spark, sf)
    val corpus = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val dir = tmp("bm25-compact")
    DocSearchIndex.build(spark, corpus, dir)
    (0 until 10).foreach { i =>
      DocSearchIndex.appendIncrement(spark,
        docs.filter(pmod(col("doc_id"), lit(5)) === 0 &&
          pmod(col("doc_id"), lit(50)) === i * 5), dir)
    }
    val terms = Seq("join", "stream", "hash", "sort")
    val before = DocSearchIndex.search(spark, dir, terms, 20).collect()
    val statsRowsBefore = spark.read
      .parquet(graft.store.IndexMaintenance.resolve(dir, "stats", conf)).count()
    assert(statsRowsBefore === 11L, "one stats row per build/increment")

    DocSearchIndex.compact(spark, dir)
    val after = DocSearchIndex.search(spark, dir, terms, 20).collect()
    assert(after.toSeq === before.toSeq,
      "compaction must not change BM25 scores (exact integer stats sums)")
    val statsAfter = spark.read
      .parquet(graft.store.IndexMaintenance.resolve(dir, "stats", conf))
    assert(statsAfter.count() === 1L, "stats rows folded to one")
    assert(graft.store.IndexMaintenance
      .liveFileCount(dir, "postings", conf) <= DocSearchIndex.NBuckets)

    // append-after-compact: the new shard's stats row joins the folded
    // one, scores reflect the whole corpus
    DocSearchIndex.appendIncrement(spark,
      docs.filter(pmod(col("doc_id"), lit(50)) === 45), dir)
    val withTail = DocSearchIndex.search(spark, dir, terms, 20).collect()
    assert(withTail.nonEmpty)
  }

  test("IndexMaintenance: publish retains the previous version for in-flight readers") {
    val docs = graft.Tables.documents(spark, sf).limit(100)
    val dir = tmp("retain")
    IncrementalDedup.build(spark, docs, dir)
    val v0 = graft.store.IndexMaintenance.resolve(dir, "signatures", conf)
    IncrementalDedup.compact(spark, dir, setsPartitions = 2)
    val v1 = graft.store.IndexMaintenance.resolve(dir, "signatures", conf)
    assert(v0 !== v1)
    // retainDepth=1 (default): the superseded legacy dir still exists —
    // an in-flight scan that resolved v0 before the flip reads safely
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(dir), conf)
    assert(fs.exists(new org.apache.hadoop.fs.Path(v0)),
      "previous live version must survive one rewrite")
    // a second compact retires it
    IncrementalDedup.compact(spark, dir, setsPartitions = 2)
    val v2 = graft.store.IndexMaintenance.resolve(dir, "signatures", conf)
    assert(v2 !== v1)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(v0)),
      "legacy version should be retired after falling past retainDepth")
    assert(fs.exists(new org.apache.hadoop.fs.Path(v1)))
  }

  test("appendAndMaybeCompact: compacts only past the file threshold, output unchanged") {
    val docs = graft.Tables.documents(spark, sf)
    val corpus = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val dir = tmp("dedup-auto")
    IncrementalDedup.build(spark, corpus, dir)
    val im = graft.store.IndexMaintenance
    def sigFiles = im.liveFileCount(dir, "signatures", conf)
    val base = sigFiles
    // a generous threshold: the first increments append without paying
    // a rewrite
    val shard0 = docs.filter(pmod(col("doc_id"), lit(50)) === 0)
    assert(!IncrementalDedup.appendAndMaybeCompact(spark, shard0, dir,
      fileThreshold = base * 4))
    assert(sigFiles > base, "append must land new files when not due")
    // a tight threshold: the next increment triggers the rewrite and
    // the live count collapses to <= 1 file per band
    val shard1 = docs.filter(pmod(col("doc_id"), lit(50)) === 1)
    assert(IncrementalDedup.appendAndMaybeCompact(spark, shard1, dir,
      fileThreshold = 1))
    assert(sigFiles <= IncrementalDedup.Bands, s"live count $sigFiles after auto-compact")
    // and the compacted index still answers exactly: a copy of an
    // indexed doc is flagged against its original
    val probe = shard1.limit(1).collect().head
    val copy = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(
        9999999L, probe.getString(1), "en", "probe",
        probe.getString(1).length.toLong)),
      docs.schema)
    val out = IncrementalDedup.dedupIncrement(spark, copy, dir).collect()
    assert(out.head.getBoolean(1) && out.head.getLong(2) === probe.getLong(0))
  }

  test("rebuild over a compacted index retires the old version pointers") {
    val docs = graft.Tables.documents(spark, sf)
    val corpusA = docs.filter(pmod(col("doc_id"), lit(5)) === 1)
    val corpusB = docs.filter(pmod(col("doc_id"), lit(5)) === 2)
    val dir = tmp("dedup-rebuild")
    IncrementalDedup.build(spark, corpusA, dir)
    IncrementalDedup.appendIncrement(spark,
      docs.filter(pmod(col("doc_id"), lit(50)) === 11), dir)
    IncrementalDedup.compact(spark, dir, setsPartitions = 4)
    // REBUILD with a disjoint corpus: the live version must become the
    // new legacy data, not the stale compacted v1
    IncrementalDedup.build(spark, corpusB, dir)
    assert(graft.store.IndexMaintenance.resolve(dir, "signatures", conf)
      == s"$dir/signatures.parquet", "rebuild did not retire the version pointer")
    def copyOf(src: org.apache.spark.sql.DataFrame) = {
      val probe = src.limit(1).collect().head
      spark.createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row(
          9999999L, probe.getString(1), "en", "probe",
          probe.getString(1).length.toLong)),
        docs.schema) -> probe.getLong(0)
    }
    // a copy of a B doc matches its B original...
    val (bCopy, bId) = copyOf(corpusB)
    val bOut = IncrementalDedup.dedupIncrement(spark, bCopy, dir).collect()
    assert(bOut.head.getBoolean(1) && bOut.head.getLong(2) == bId)
    // ...and a copy of an A doc does NOT match (A is gone) — under the
    // stale pointer it would silently match the pre-rebuild corpus
    val (aCopy, _) = copyOf(corpusA)
    val aOut = IncrementalDedup.dedupIncrement(spark, aCopy, dir).collect()
    assert(!aOut.head.getBoolean(1),
      "rebuild is invisible: reader still answers from the pre-rebuild index")
  }

  test("vacuum reclaims superseded versions now; the live version still answers") {
    val docs = graft.Tables.documents(spark, sf).limit(120)
    val dir = tmp("dedup-vacuum")
    IncrementalDedup.build(spark, docs, dir)
    IncrementalDedup.compact(spark, dir, setsPartitions = 2)
    // retainDepth kept the legacy predecessor for in-flight readers;
    // capture a reader plan pinned to it BEFORE the reclaim
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/signatures.parquet")))
    val stalePlan = spark.read.parquet(s"$dir/signatures.parquet")

    val deleted = IncrementalDedup.vacuum(spark, dir)
    assert(deleted.toSet == Set("signatures.parquet", "sets.parquet"),
      s"vacuum should reclaim exactly the superseded legacy dirs, got $deleted")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/signatures.parquet")))
    // the live compacted version survives and still answers exactly
    val probe = docs.limit(1).collect().head
    val copy = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(
        9999999L, probe.getString(1), "en", "probe",
        probe.getString(1).length.toLong)),
      graft.Tables.documents(spark, sf).schema)
    val out = IncrementalDedup.dedupIncrement(spark, copy, dir).collect()
    assert(out.head.getBoolean(1) && out.head.getLong(2) == probe.getLong(0))
    // the reader-lifetime contract: a scan that resolved a superseded
    // version BEFORE vacuum fails on its next read (and must re-resolve)
    intercept[Exception] { stalePlan.count() }
    // idempotent: a second vacuum finds nothing
    assert(IncrementalDedup.vacuum(spark, dir).isEmpty)
  }

  test("the maintenance mutex serializes an append against a held compaction") {
    val docs = graft.Tables.documents(spark, sf).limit(60)
    val dir = tmp("dedup-mutex")
    IncrementalDedup.build(spark, docs, dir)
    val shard = graft.Tables.documents(spark, sf)
      .filter(pmod(col("doc_id"), lit(50)) === 7)
    @volatile var appended = false
    val th = graft.store.IndexMaintenance.withMaintenanceLock(
      dir, spark.sparkContext.hadoopConfiguration) {
      // a rival append launched while "compaction" holds the lock must
      // BLOCK — the race guardedAppend could only detect is now closed
      // by mutual exclusion
      val t = new Thread(() => {
        IncrementalDedup.appendIncrement(spark, shard, dir)
        appended = true
      })
      t.start()
      // bounded wait until the rival is at the lock: its stack is inside
      // the mutex's acquire loop, which it cannot leave while we hold it
      def atLock = t.getStackTrace.exists(f =>
        f.getClassName == "graft.store.FsMutex" && f.getMethodName == "acquire")
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!atLock && !appended && System.nanoTime() < deadline) Thread.sleep(5)
      assert(atLock, "the rival append did not reach the maintenance lock")
      assert(!appended, "append ran inside a held maintenance lock")
      t
    }
    th.join(60000)
    assert(appended, "append must proceed once the lock is released")
  }

  test("guardedAppend fails fast when a compaction publishes mid-append") {
    val im = graft.store.IndexMaintenance
    val dir = tmp("guarded-append")
    // quiet write: passes through
    im.guardedAppend(dir, Seq("postings"), conf) { () }
    // a concurrent compact flips the pointer while the append runs:
    // the increment landed in the superseded version — must throw,
    // naming the recovery (re-append), not silently lose the shard
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
    val e = intercept[IllegalStateException] {
      im.guardedAppend(dir, Seq("postings"), conf) {
        im.publish(dir, "postings", "postings_v1.parquet", conf)
      }
    }
    assert(e.getMessage.contains("re-append"))
    assert(e.getMessage.contains("postings"))
  }

  test("a pointerless orphan version (crashed compaction) is ignored by resolve") {
    val docs = graft.Tables.documents(spark, sf).limit(40)
    val dir = tmp("dedup-orphan")
    IncrementalDedup.build(spark, docs, dir)
    // simulate a compaction that crashed before publish(): a versioned
    // directory exists, the pointer does not
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/signatures_v7.parquet"))
    assert(graft.store.IndexMaintenance.resolve(dir, "signatures", conf)
      == s"$dir/signatures.parquet",
      "resolve adopted a never-published partial compaction")
    // and the index still answers from the intact legacy data
    val probe = docs.limit(1).collect().head
    val copy = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(
        9999999L, probe.getString(1), "en", "probe",
        probe.getString(1).length.toLong)),
      graft.Tables.documents(spark, sf).schema)
    val out = IncrementalDedup.dedupIncrement(spark, copy, dir).collect()
    assert(out.head.getBoolean(1) && out.head.getLong(2) == probe.getLong(0))
  }
}
