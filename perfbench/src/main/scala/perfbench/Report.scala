package perfbench

/** Metric definitions and their assembly from a run's records. The
  * names and units here match BENCHMARK.json's lists (test_smoke.py
  * compares them).
  */
object Report {
  final case class Def(name: String, unit: String)

  /** Every end-to-end metric applies to every workload; see the
    * README for what "operation" and "delivery" mean in each. No run
    * reaches the 100 samples a p90 needs, so p90s are printed with
    * their sample counts but are not benchmark metrics.
    */
  val EndToEnd: Seq[Def] = Seq(
    Def("setup_s", "s"),
    Def("op_p50_ms", "ms"),
    Def("ops_per_s", "1/s"),
    Def("delivery_lag_p50_ms", "ms"),
    Def("delivered_per_s", "1/s"),
    Def("retained_heap_mb", "MB"),
    Def("disk_bytes_per_user_byte", "ratio"))

  val StoreOps: Seq[String] = Seq(
    "EventStore.getEvents", "EventStore.appendEvent", "EventStore.saveIncrement",
    "EventStore.compact", "ViewStreams.streamEvents", "ViewStreams.ackBatch",
    "SharedLog.getEvents", "SharedLog.append", "SharedLog.resync")

  val OpStats: Seq[(String, String)] = Seq(
    ("calls", "count"), ("busy_s", "s"), ("self_s", "s"),
    ("p50_ms", "ms"), ("jobs", "count"), ("fs_ops", "count"))

  val Counters: Seq[Def] = Seq(
    Def("SharedLog.append.retries", "count"),
    Def("ViewStreams.streamEvents.useful_ratio", "ratio"),
    Def("ViewStreams.streamEvents.redelivered", "count"),
    Def("EventStore.appendEvent.rejected", "count"))

  val GroupStats: Seq[(String, String)] = Seq(
    ("wall_s", "s"), ("jobs", "count"), ("planning_s", "s"), ("shuffle_mb", "MB"))

  val Totals: Seq[Def] = Seq(
    Def("spark.jobs", "count"), Def("spark.tasks", "count"),
    Def("spark.planning_s", "s"), Def("spark.executor_run_s", "s"),
    Def("spark.executor_cpu_s", "s"), Def("spark.gc_s", "s"),
    Def("spark.shuffle_write_mb", "MB"), Def("spark.spill_mb", "MB"),
    Def("spark.result_mb", "MB"), Def("spark.scan_mb", "MB"),
    Def("fs.read_ops", "count"), Def("fs.write_ops", "count"),
    Def("fs.bytes_written_mb", "MB"))

  val PerLayer: Seq[Def] =
    StoreOps.flatMap(op => OpStats.map { case (s, u) => Def(s"$op.$s", u) }) ++
      Counters ++
      RegistryWorkload.Groups.map(_._1).flatMap(g => GroupStats.map { case (s, u) => Def(s"$g.$s", u) }) ++
      Totals

  final case class Value(v: Double, n: Int)

  def endToEnd(out: Outcome, launchedMs: Long): Map[String, Value] = {
    val op = out.op.values
    val lag = out.lag.values
    val w = math.max(out.windowS, 1e-9)
    Map(
      "setup_s" -> Value((out.measureStartMs - launchedMs) / 1000.0, 1),
      "op_p50_ms" -> Value(Stats.percentile(op, 0.5), op.size),
      "ops_per_s" -> Value(out.opsDone / w, out.opsDone.toInt),
      "delivery_lag_p50_ms" -> Value(Stats.percentile(lag, 0.5), lag.size),
      "delivered_per_s" -> Value(out.delivered / math.max(out.deliveryWindowS, 1e-9), out.delivered.toInt),
      "retained_heap_mb" -> Value(out.heapMb, 1),
      "disk_bytes_per_user_byte" -> Value(
        if (out.userBytes > 0) out.diskBytes.toDouble / out.userBytes else 0.0, 1))
  }

  /** Per-layer figures of a traced run. Spans are grouped by name;
    * jobs belong to the span whose id they carry; an operation's self
    * time is its span time not covered by its own jobs.
    */
  def perLayer(inst: Instruments, out: Outcome): (Map[String, Value], Seq[String]) = {
    val spans = inst.tracer.all
    val jobs = inst.engine.all
    val jobsBySpan = jobs.groupBy(_.span)
    def jobIntervals(id: Long): Seq[(Long, Long)] =
      jobsBySpan.getOrElse(id, Nil).filter(_.endMs >= 0)
        .map(j => (inst.msToNano(j.startMs), inst.msToNano(j.endMs)))
    def selfNs(s: Span): Long = Intervals.self(s.startNs, s.endNs, jobIntervals(s.id))
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Value]
    val report = scala.collection.mutable.ArrayBuffer.empty[String]

    StoreOps.foreach { op =>
      val ss = spans.filter(_.name == op)
      val durs = ss.map(_.durNs / 1e6)
      val self = ss.map(selfNs).sum / 1e9
      m(s"$op.calls") = Value(ss.size, ss.size)
      m(s"$op.busy_s") = Value(durs.sum / 1e3, ss.size)
      m(s"$op.self_s") = Value(self, ss.size)
      m(s"$op.p50_ms") = Value(if (durs.isEmpty) 0.0 else Stats.median(durs), ss.size)
      m(s"$op.jobs") = Value(ss.map(s => jobsBySpan.getOrElse(s.id, Nil).size).sum, ss.size)
      m(s"$op.fs_ops") = Value(ss.map(_.fsOps).sum, ss.size)
      if (ss.nonEmpty) report += f"$op self ${self}%.3f s of ${durs.sum / 1e3}%.3f s"
    }
    Counters.foreach(d => m(d.name) = Value(Option(out.counters.get(d.name)).map(_.doubleValue).getOrElse(0.0), 1))

    val queries = spans.filter(_.name.contains(":"))
    RegistryWorkload.Groups.map(_._1).foreach { g =>
      val qs = queries.filter(_.name.startsWith(g + ":"))
      val js = qs.flatMap(s => jobsBySpan.getOrElse(s.id, Nil))
      val wall = qs.map(_.durNs).sum / 1e9
      val self = qs.map(selfNs).sum / 1e9
      m(s"$g.wall_s") = Value(wall, qs.size)
      m(s"$g.jobs") = Value(js.size, qs.size)
      m(s"$g.planning_s") = Value(qs.map(s => Option(out.queryPlanningMs.get(s.id)).map(_.longValue).getOrElse(0L)).sum / 1e3, qs.size)
      m(s"$g.shuffle_mb") = Value(js.map(_.shuffleWrite).sum / 1e6, qs.size)
      if (qs.nonEmpty) report += f"$g self ${self}%.3f s of $wall%.3f s"
    }

    val rounds = spans.filter(s => s.parent == 0L && !s.name.contains(":"))
    rounds.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (name, rs) =>
      val children = spans.filter(c => rs.exists(_.id == c.parent)).groupBy(_.parent)
      val self = rs.map(r => Intervals.self(r.startNs, r.endNs,
        children.getOrElse(r.id, Nil).map(c => (c.startNs, c.endNs)) ++ jobIntervals(r.id))).sum / 1e9
      report += f"round $name x${rs.size} self ${self}%.3f s of ${rs.map(_.durNs).sum / 1e9}%.3f s"
    }

    // engine and filesystem totals cover the measured window only
    val inWindow = jobs.filter(j => j.startMs >= out.measureStartMs &&
      j.startMs <= out.measureEndMs)
    def tot(f: JobRec => Long): Long = inWindow.map(f).sum
    val planningMs = inst.planning.map(_.msBetween(out.measureStartMs, out.measureEndMs)).getOrElse(0L) +
      out.queryPlanningMs.values().stream().mapToLong(_.longValue).sum
    m("spark.jobs") = Value(inWindow.size, 1)
    m("spark.tasks") = Value(tot(_.tasks), 1)
    m("spark.planning_s") = Value(planningMs / 1e3, 1)
    m("spark.executor_run_s") = Value(tot(_.runMs) / 1e3, 1)
    m("spark.executor_cpu_s") = Value(tot(_.cpuNs) / 1e9, 1)
    m("spark.gc_s") = Value(tot(_.gcMs) / 1e3, 1)
    m("spark.shuffle_write_mb") = Value(tot(_.shuffleWrite) / 1e6, 1)
    m("spark.spill_mb") = Value(tot(_.spill) / 1e6, 1)
    m("spark.result_mb") = Value(tot(_.resultBytes) / 1e6, 1)
    m("spark.scan_mb") = Value(tot(_.inputBytes) / 1e6, 1)
    m("fs.read_ops") = Value((out.fsAtEnd._1 - out.fsAtStart._1).toDouble, 1)
    m("fs.write_ops") = Value((out.fsAtEnd._2 - out.fsAtStart._2).toDouble, 1)
    m("fs.bytes_written_mb") = Value((out.fsAtEnd._3 - out.fsAtStart._3) / 1e6, 1)
    (m.toMap, report.toSeq)
  }
}
