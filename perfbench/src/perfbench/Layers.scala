package perfbench

/** Per-layer metrics of a traced run, named after the program's modules.
  *
  * Each metric is computed per trace (one lane execution or one pipeline
  * call), then reduced to a per-lane median over that lane's traced
  * executions, then summed over lanes: the workload value is what one
  * pass (or one ingest cycle) costs in that layer. Ratios are taken from
  * the summed parts, and peak task memory is a maximum. A metric whose
  * layer a workload never calls reads 0. */
object Layers {
  val units: Seq[(String, String)] = Seq(
    "operators.build_s" -> "s", "operators.build_jobs" -> "count",
    "Barriers.pinned_rdds" -> "count",
    "driver.analysis_s" -> "s", "driver.optimization_s" -> "s",
    "driver.planning_s" -> "s", "driver.gap_s" -> "s",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.task_s" -> "s", "exec.task_cpu_s" -> "s", "exec.gc_s" -> "s",
    "exec.busy_share" -> "ratio", "exec.task_retries" -> "count",
    "Tables.scan_mb" -> "MB", "Tables.scan_rows" -> "count",
    "shuffle.write_mb" -> "MB", "shuffle.read_mb" -> "MB",
    "shuffle.fetch_wait_s" -> "s", "mem.spill_mb" -> "MB", "mem.peak_task_mb" -> "MB",
    "HttpSource.fetch_s" -> "s", "Connector.extract_s" -> "s",
    "BlobStore.put_s" -> "s", "CaptureSink.write_s" -> "s",
    "CaptureSink.files" -> "count", "CaptureSink.mb" -> "MB",
    "ProvenanceStore.append_responses_s" -> "s",
    "ProvenanceStore.append_artifacts_s" -> "s",
    "ProvenanceStore.files" -> "count", "ProvenanceStore.inserted_share" -> "ratio",
    "Runner.residual_s" -> "s")

  /** Spans whose summed duration is a `<name>_s` metric. */
  private val spanMetrics = Seq("operators.build", "HttpSource.fetch",
    "Connector.extract", "BlobStore.put", "CaptureSink.write",
    "ProvenanceStore.append_responses", "ProvenanceStore.append_artifacts")

  /** Counts recorded by the workloads at layer boundaries. */
  private val countMetrics = Seq("Barriers.pinned_rdds", "CaptureSink.files",
    "CaptureSink.mb", "ProvenanceStore.files", "Runner.residual_s",
    "offered", "inserted")

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def summarise(tr: Tracer, ctx: RunContext): Map[String, Any] = {
    val self = tr.selfMs
    val byTrace = tr.spans.groupBy(_.trace)
    val perTrace: Map[String, Map[String, Double]] = byTrace.collect {
      case (trace, sps) if sps.exists(_.parent == -1) && trace.contains('#') =>
        val root = sps.filter(_.parent == -1).maxBy(_.dur)
        def named(n: String) = sps.filter(_.name == n)
        val jobs = named("exec.job")
        val builds = named("operators.build")
        val phases = sps.filter(_.name.startsWith("driver."))
        val e = tr.exec.getOrElse(trace, new ExecCounters)
        val m = scala.collection.mutable.Map[String, Double]()
        spanMetrics.foreach(n => m(s"${n}_s") = named(n).map(_.dur).sum / 1000)
        countMetrics.foreach(n => m(n) = tr.counts.getOrElse((trace, n), 0.0))
        m("operators.build_jobs") = jobs.count(j => builds.exists(b => b.start <= j.start && j.start <= b.end)).toDouble
        Seq("analysis", "optimization", "planning").foreach(p =>
          m(s"driver.${p}_s") = named(s"driver.$p").map(_.dur).sum / 1000)
        m("driver.gap_s") = (root.dur - Intervals.covered(
          (jobs ++ builds ++ phases).map(s => (s.start, s.end)), root.start, root.end)) / 1000
        m("wall_s") = root.dur / 1000
        m("exec.jobs") = jobs.size.toDouble
        m("exec.stages") = e.stages.toDouble
        m("exec.tasks") = e.tasks.toDouble
        m("exec.task_s") = e.taskMs / 1000.0
        m("exec.task_cpu_s") = e.cpuNs / 1e9
        m("exec.gc_s") = e.gcMs / 1000.0
        m("exec.task_retries") = e.retries.toDouble
        m("Tables.scan_mb") = e.inBytes / 1e6
        m("Tables.scan_rows") = e.inRows.toDouble
        m("shuffle.write_mb") = e.shWriteBytes / 1e6
        m("shuffle.read_mb") = e.shReadBytes / 1e6
        m("shuffle.fetch_wait_s") = e.fetchWaitMs / 1000.0
        m("mem.spill_mb") = e.spillBytes / 1e6
        m("mem.peak_task_mb") = e.peakTaskBytes / 1e6
        sps.groupBy(_.name).foreach { case (n, ss) => m(s"self:$n") = ss.map(s => self(s.id)).sum / 1000 }
        trace -> m.toMap
    }
    val byLane = perTrace.groupBy(_._1.takeWhile(_ != '#'))
    val laneMedians: Map[String, Map[String, Double]] = byLane.map { case (lane, ts) =>
      val keys = ts.values.flatMap(_.keys).toSet
      lane -> keys.map(k => k -> median(ts.values.map(_.getOrElse(k, 0.0)).toSeq)).toMap
    }
    def total(k: String) = laneMedians.values.map(_.getOrElse(k, 0.0)).sum
    val values: Map[String, Double] = units.map { case (name, _) =>
      name -> (name match {
        case "exec.busy_share" =>
          val w = total("wall_s")
          if (w > 0) total("exec.task_s") / (w * ctx.cores) else 0.0
        case "mem.peak_task_mb" =>
          (laneMedians.values.map(_.getOrElse(name, 0.0)) ++ Seq(0.0)).max
        case "ProvenanceStore.inserted_share" =>
          val o = total("offered")
          if (o > 0) total("inserted") / o else 0.0
        case _ => total(name)
      })
    }.toMap
    val selfKeys = laneMedians.values.flatMap(_.keys).filter(_.startsWith("self:")).toSet
    Map(
      "metrics" -> units.map { case (n, u) =>
        n -> Map("value" -> values(n), "unit" -> u,
          "per_lane" -> laneMedians.map { case (l, m) => l -> m.getOrElse(n, 0.0) })
      }.toMap,
      "self_s" -> selfKeys.toSeq.sorted.map(k => k.stripPrefix("self:") -> total(k)).toMap,
      "traced_executions" -> perTrace.size)
  }
}
