package perfbench

import java.math.{MathContext, RoundingMode}
import java.util.concurrent.atomic.AtomicLong
import scala.util.hashing.MurmurHash3
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.types._
import graft.operators._

/** Order-independent digest of a query's output, computed while the
  * query is drained, so checking it adds no second execution.
  *
  * Each row becomes a canonical string (doubles and decimals rounded to
  * 9 significant digits, so engine-internal summation order cannot
  * flip it); the digest is the row count plus the 64-bit sum of the
  * rows' hashes.
  */
object Digest {
  /** Earliest time any partition of the current query produced a row. */
  val firstRowNs = new AtomicLong(Long.MaxValue)

  private val mc = new MathContext(9, RoundingMode.HALF_EVEN)

  def num(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(mc).stripTrailingZeros().toString

  def canon(r: SpecializedGetters, i: Int, dt: DataType): String =
    if (r.isNullAt(i)) "∅"
    else dt match {
      case DoubleType => num(r.getDouble(i))
      case FloatType => num(r.getFloat(i).toDouble)
      case d: DecimalType => num(r.getDecimal(i, d.precision, d.scale).toDouble)
      case _: StringType => r.getUTF8String(i).toString
      case BinaryType => r.getBinary(i).map(b => f"$b%02x").mkString
      case s: StructType =>
        val row = r.getStruct(i, s.size)
        s.fields.indices.map(j => canon(row, j, s(j).dataType)).mkString("{", ",", "}")
      case a: ArrayType =>
        val arr = r.getArray(i)
        (0 until arr.numElements).map(j => canon(arr, j, a.elementType)).mkString("[", ",", "]")
      case m: MapType =>
        val md = r.getMap(i)
        (0 until md.numElements)
          .map(j => canon(md.keyArray, j, m.keyType) + "=" + canon(md.valueArray, j, m.valueType))
          .sorted.mkString("<", ",", ">")
      case _ => r.get(i, dt).toString
    }

  def rowHash(r: SpecializedGetters, schema: StructType): Long = {
    val s = schema.fields.indices.map(i => canon(r, i, schema(i).dataType)).mkString("\u0001")
    (MurmurHash3.stringHash(s, 0x9747b28c).toLong << 32) ^
      (MurmurHash3.stringHash(s, 0x5bd1e995).toLong & 0xffffffffL)
  }

  /** Drain `df` through its own QueryExecution (every partition,
    * executor-side, no collect of rows) and return (rows, digest).
    */
  def drain(df: DataFrame): (Long, String) = {
    val schema = df.schema
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L
      var sum = 0L
      it.foreach { r =>
        if (n == 0L) firstRowNs.accumulateAndGet(System.nanoTime(), (a, b) => math.min(a, b))
        sum += rowHash(r, schema)
        n += 1
      }
      Iterator.single((n, sum))
    }.collect()
    val rows = parts.map(_._1).sum
    (rows, s"$rows:${java.lang.Long.toHexString(parts.map(_._2).sum)}")
  }

  /** Expected digests by data-set name (`sf0.01`, `sf0.001`), verified
    * against the DuckDB oracle (see the benchmark README).
    */
  lazy val expected: Map[String, Map[String, String]] = {
    val in = getClass.getResourceAsStream("/perfbench/digests.json")
    if (in == null) Map.empty
    else try {
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
        .readValue(in, classOf[java.util.Map[String, java.util.Map[String, String]]])
      import scala.jdk.CollectionConverters._
      m.asScala.map { case (k, v) => k -> v.asScala.toMap }.toMap
    } finally in.close()
  }
}

/** `registry_sf001`: passes over a fixed stratified subset of the
  * registry (one query per operator group, the group's cheapest query
  * in the repository's sf0.1 bench), always in the same order. Each
  * query is drained through its own QueryExecution with its output
  * digest checked; between queries the runner clears the cache,
  * restores the top-k tuning and runs a GC, as `graft.Bench` does.
  *
  * The order is fixed, not drawn from the seed: the first query to touch
  * a code path (the index family, the text kernels) pays its warm-up,
  * and a seeded order moved that cost between queries by up to 2x from
  * run to run — more than one pass per run can average out.
  */
object RegistryWorkload {
  val Groups: Seq[(String, Seq[Q])] = Seq(
    "RelationalQueries" -> RelationalQueries.all,
    "EventStoreQueries" -> EventStoreQueries.all,
    "TextDedupQueries" -> TextDedupQueries.all,
    "CorpusQueries" -> CorpusQueries.all,
    "IncrementalDedup" -> IncrementalDedup.all,
    "EmbIncrementalDedup" -> EmbIncrementalDedup.all,
    "DocSearchIndex" -> DocSearchIndex.all,
    "BpeTokenizer" -> BpeTokenizer.all,
    "QualityClassifier" -> QualityClassifier.all,
    "LayoutQueries" -> LayoutQueries.all,
    "TrigramIndex" -> TrigramIndex.all,
    "EmbeddingQueries" -> EmbeddingQueries.all,
    "MultimodalQueries" -> MultimodalQueries.all)

  lazy val groupOf: Map[String, String] =
    Groups.flatMap { case (g, qs) => qs.map(_.name -> g) }.toMap

  val Subset: Seq[String] = Seq(
    "o3_topk_orders", "es_p3_point_lookup", "doc_text_stats", "doc_sample_weighted",
    "doc_dedup_incremental", "emb_search_index", "doc_search_index",
    "doc_bpe_vocab", "doc_quality_clf_model", "es_zorder_morton",
    "doc_substr_search", "emb_label_centroids", "mm_blob_meta")

  /** Run once in set-up, outside the subset, so the subset's first
    * query does not absorb JIT and code-generation warm-up.
    */
  val WarmUpQuery = "q1_pricing_summary"

  def sfName(sfDir: String): String = new java.io.File(sfDir).getName

  def warmUp(c: Ctx): Unit = {
    Digest.drain(Registry.byName(WarmUpQuery).run(c.spark, c.sfDir))
    c.spark.catalog.clearCache()
    graft.functions.TopKByScore.restoreTuning(c.spark)
  }

  /** Run one query: drain with digest, then the between-query reset.
    * Returns the digest, or None when the query threw.
    */
  def runQuery(c: Ctx, name: String): Option[String] = {
    import c._
    out.attempt()
    Digest.firstRowNs.set(Long.MaxValue)
    val t0 = System.nanoTime()
    val res =
      try Some(tr(s"${groupOf(name)}:$name") {
        val df = Registry.byName(name).run(spark, sfDir)
        val d = Digest.drain(df)
        out.queryPlanningMs.put(tr.currentId, PlanningListener.phaseMs(df.queryExecution))
        d
      })
      catch { case e: Exception => out.fail(s"query:$name:exception:${e.getClass.getSimpleName}"); None }
    val t1 = System.nanoTime()
    spark.catalog.clearCache()
    graft.functions.TopKByScore.restoreTuning(spark)
    out.noteHeap(Heap.afterGcMb())
    res.map { case (rows, digest) =>
      out.op.add((t1 - t0) / 1e6)
      println(f"query $name ${(t1 - t0) / 1e6}%.1f ms rows $rows")
      val first = Digest.firstRowNs.get
      out.lag.add((if (rows > 0 && first != Long.MaxValue) math.max(0L, first - t0) else t1 - t0) / 1e6)
      out.delivered += rows
      out.opsDone += 1
      digest
    }
  }

  def run(c: Ctx): Unit = {
    import c._
    warmUp(c)
    val expected = Digest.expected.getOrElse(sfName(sfDir), Map.empty)
    val mismatched = scala.collection.mutable.ArrayBuffer.empty[String]
    val startNs = out.markStart()
    // whole passes; another only when one more pass of the last one's
    // length still ends within --seconds, so the pass count does not
    // flip between runs when a pass takes about --seconds
    var passNs = 0L
    do {
      val passStart = System.nanoTime()
      Subset.foreach { name =>
        runQuery(c, name).foreach { d =>
          if (!expected.get(name).contains(d)) {
            mismatched += s"$name=$d"
            out.fail(s"query:$name:digest")
          }
        }
      }
      passNs = System.nanoTime() - passStart
    } while (System.nanoTime() - startNs + passNs <= seconds * 1000000000L)
    out.markEnd(startNs, System.nanoTime())
    out.check("digests") {
      if (mismatched.isEmpty) None
      else Some(s"${mismatched.size} outputs differ from the oracle-verified digests: ${mismatched.distinct.mkString(", ")}")
    }
  }

  /** Digests of every subset query, one run each, as JSON. */
  def printDigests(c: Ctx): Unit = {
    warmUp(c)
    val ds = Subset.map(n => n -> runQuery(c, n).getOrElse("ERROR"))
    println(ds.map { case (n, d) => s""""$n": "$d"""" }.mkString("{", ", ", "}"))
  }
}
