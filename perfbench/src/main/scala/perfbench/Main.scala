package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one run.
  *
  * {{{
  * Main --workload event_store|shared_log|registry_sf001 --seed N --seconds S
  *      --trace 0|1 --data DIR --work DIR [--fixture DIR] [--smoke 1] [--launched-ms T]
  * Main --prepare-log --data DIR --work DIR [--smoke 1]
  * Main --print-digests --data DIR --work DIR [--smoke 1]
  * }}}
  *
  * `--prepare-log` bulk-ingests and saves event_store's log under the
  * work directory; event_store runs copy it from `--fixture`.
  *
  * The last stdout line is the result object; the lines before it list
  * every metric with unit, value and sample count, the output checks,
  * and (traced) the layer report and tracing overhead.
  */
object Main {
  val Workloads: Seq[String] = Seq("event_store", "shared_log", "registry_sf001")

  final case class Opts(workload: String = "", seed: Long = 1L, seconds: Int = 10,
                        trace: Boolean = false, smoke: Boolean = false,
                        data: String = "", work: String = "", fixture: String = "", launchedMs: Long = 0L,
                        prepareLog: Boolean = false, printDigests: Boolean = false)

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case Nil => o
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toInt))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--smoke" :: v :: t => parse(t, o.copy(smoke = v == "1"))
    case "--data" :: v :: t => parse(t, o.copy(data = v))
    case "--work" :: v :: t => parse(t, o.copy(work = v))
    case "--launched-ms" :: v :: t => parse(t, o.copy(launchedMs = v.toLong))
    case "--fixture" :: v :: t => parse(t, o.copy(fixture = v))
    case "--prepare-log" :: t => parse(t, o.copy(prepareLog = true))
    case "--print-digests" :: t => parse(t, o.copy(printDigests = true))
    case other :: _ => throw new IllegalArgumentException(s"unknown argument $other")
  }

  def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Full-precision JSON number (never NaN/Inf: those become 0). */
  def jnum(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    val code =
      try run(o)
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    // client threads are joined; halt only stops Spark's own non-daemon
    // threads. The prepare run exits normally, so the JVM can write the
    // class-data-sharing archive run.py asks it for.
    if (o.prepareLog) System.exit(code) else Runtime.getRuntime.halt(code)
  }

  /** The tables a run reads: the sf0.1 event log, the sf0.01 tables for
    * the registry, sf0.001 for smoke runs.
    */
  def sfDir(o: Opts): String = {
    val sf = if (o.smoke) "sf0.001" else if (o.workload == "event_store" || o.prepareLog) "sf0.1" else "sf0.01"
    s"${o.data}/$sf"
  }

  def session(o: Opts): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.files.openCostInBytes", (256 * 1024).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .getOrCreate()
  }

  def run(o: Opts): Int = {
    require(o.printDigests || o.prepareLog || Workloads.contains(o.workload),
      s"--workload must be one of ${Workloads.mkString(", ")}")
    require(o.data.nonEmpty && o.work.nonEmpty, "--data and --work are required")
    val sf = sfDir(o)
    require(o.workload == "shared_log" || Files.isDirectory(Paths.get(sf)), s"no test data at $sf")
    Files.createDirectories(Paths.get(o.work))
    // Traced runs count filesystem calls: every Hadoop Configuration
    // (Spark's and the store's own) resolves file: to the counting
    // filesystem.
    if (o.trace) org.apache.hadoop.conf.Configuration.addDefaultResource("perfbench-trace-site.xml")
    val spark = session(o)
    spark.sparkContext.setLogLevel("ERROR")
    if (o.prepareLog) {
      EventStoreWorkload.bootstrap(spark, sf, o.work)
      return 0
    }
    val engine = new EngineListener
    spark.sparkContext.addSparkListener(engine)
    val planning = if (o.trace) {
      val p = new PlanningListener
      spark.listenerManager.register(p)
      Some(p)
    } else None
    val tracer = new Tracer(o.trace, spark.sparkContext)
    val inst = new Instruments(tracer, engine, planning, spark.sparkContext)
    val out = new Outcome
    val ctx = Ctx(spark, o.seed, o.seconds, sf, o.work, o.fixture, tracer, out)

    if (o.printDigests) {
      RegistryWorkload.printDigests(ctx)
      return 0
    }
    o.workload match {
      case "event_store" => EventStoreWorkload.run(ctx)
      case "shared_log" => SharedLogWorkload.run(ctx)
      case "registry_sf001" => RegistryWorkload.run(ctx)
    }
    inst.settle()
    if (o.workload == "registry_sf001") {
      // engine bytes written to local disk (shuffle, spill) per input byte scanned
      val js = engine.all.filter(j => j.startMs >= out.measureStartMs &&
        j.startMs <= out.measureEndMs)
      out.diskBytes = js.map(j => j.shuffleWrite + j.spill).sum
      out.userBytes = js.map(_.inputBytes).sum
    }

    val e2e = Report.endToEnd(out, o.launchedMs)
    val failures = out.failures
    val correct = failures.isEmpty && out.checks.forall(_._2)
    out.checks.foreach { case (n, ok, why) =>
      println(s"check $n ${if (ok) "ok" else "FAILED"}${if (why.nonEmpty) " " + why else ""}")
    }
    failures.groupBy(identity).toSeq.sortBy(_._1).foreach { case (f, xs) =>
      println(s"failure $f x${xs.size}")
    }
    println(f"attempted ${out.attempted} failed ${failures.size} failed_ratio ${
      if (out.attempted == 0) 0.0 else failures.size.toDouble / out.attempted}%.6f")
    if (out.poll.size > 0) {
      val p = out.poll.values
      println(f"poll_p50_ms ${Stats.percentile(p, 0.5)}%.3f poll_p90_ms ${Stats.percentile(p, 0.9)}%.3f n=${p.size}")
    }
    // a percentile backed by fewer samples than Stats.minSamples asks
    // for says so on its line
    def fewer(p: Double, n: Int): String =
      if (n < Stats.minSamples(p)) s" (fewer than ${Stats.minSamples(p)} samples)" else ""
    def table(defs: Seq[Report.Def], vals: Map[String, Report.Value], prefix: String): Unit =
      defs.foreach { d =>
        val v = vals(d.name)
        val note = if (d.name.contains("p50")) fewer(0.5, v.n) else ""
        println(s"$prefix ${d.name} ${d.unit} ${jnum(v.v)} n=${v.n}$note")
      }
    def p90(name: String, s: Samples): Unit = if (s.size > 0)
      println(f"$name ${Stats.percentile(s.values, 0.9)}%.3f ms n=${s.size}${fewer(0.9, s.size)}")
    p90("op_p90_ms", out.op)
    p90("delivery_lag_p90_ms", out.lag)
    val metrics: Map[String, (Report.Value, String)] =
      if (!o.trace) {
        table(Report.EndToEnd, e2e, "metric")
        Report.EndToEnd.map(d => d.name -> (e2e(d.name), d.unit)).toMap
      } else {
        val (layer, report) = Report.perLayer(inst, out)
        report.foreach(l => println(s"layer $l"))
        table(Report.EndToEnd, e2e, "traced")
        tracingOverhead(o, e2e)
        writeSpans(o, inst)
        table(Report.PerLayer, layer, "metric")
        Report.PerLayer.map(d => d.name -> (layer(d.name), d.unit)).toMap
      }
    val body = metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      s"""${jstr(k)}: {"value": ${jnum(v.v)}, "unit": ${jstr(u)}}"""
    }.mkString("{", ", ", "}")
    println(s"""{"correct": $correct, "attempted": ${math.max(1L, out.attempted)}, "failed": ${failures.size}, "metrics": $body}""")
    0
  }

  /** Traced figures against the untraced medians recorded in
    * perfbench/steadiness.json (when present).
    */
  def tracingOverhead(o: Opts, traced: Map[String, Report.Value]): Unit = {
    val p = Paths.get("perfbench/steadiness.json")
    if (!Files.exists(p)) return
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(p.toFile)
    val w = root.path("runs").path(o.workload)
    Report.EndToEnd.filter(_.name != "setup_s").foreach { d =>
      val ref = w.path(d.name).path("median")
      if (ref.isNumber && ref.asDouble() != 0.0) {
        val t = traced(d.name).v
        println(f"overhead ${d.name} traced ${t}%.4f untraced_median ${ref.asDouble()}%.4f change ${(t / ref.asDouble() - 1) * 100}%+.1f%%")
      }
    }
  }

  /** Spans and jobs as JSON lines under the work directory's parent. */
  def writeSpans(o: Opts, inst: Instruments): Unit = {
    val dir = Paths.get(o.work).getParent.resolve("traces")
    Files.createDirectories(dir)
    val f = dir.resolve(s"${o.workload}-seed${o.seed}.jsonl")
    val lines = inst.tracer.all.sortBy(_.startNs).map(s =>
      s"""{"span": ${s.id}, "parent": ${s.parent}, "name": ${jstr(s.name)}, "start_ns": ${s.startNs}, "end_ns": ${s.endNs}, "fs_ops": ${s.fsOps}}""") ++
      inst.engine.all.sortBy(_.jobId).map(j =>
        s"""{"job": ${j.jobId}, "span": ${j.span}, "start_ns": ${inst.msToNano(j.startMs)}, "end_ns": ${inst.msToNano(j.endMs)}, "tasks": ${j.tasks}, "run_ms": ${j.runMs}, "shuffle_write": ${j.shuffleWrite}}""")
    Files.write(f, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    println(s"spans ${inst.tracer.all.size} jobs ${inst.engine.jobs.size} written to $f")
  }
}
