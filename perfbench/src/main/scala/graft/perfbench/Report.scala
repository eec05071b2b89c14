package graft.perfbench

/** Turns a run's op outcomes and spans into the two output lines: a detail
  * line (every metric with its unit and sample count, host noise) and the
  * result object whose `metrics` are the end-to-end metrics, or with
  * tracing the per-layer ones.
  */
final case class Report(workload: String, w: Workload, setups: Seq[Double],
    outs: Seq[(OpOutcome, Boolean, Double)], host: Map[String, Double],
    tracer: Option[Tracer], cores: Int) {

  private type M = (Double, String, Int) // value, unit, samples

  private val ops = outs.map(_._1)
  private val ok = outs.filterNot(_._1.failed)
  private val plain = ok.filterNot(_._2).map(_._1)
  private val failed = ops.count(_.failed)

  /** End-to-end metrics, from the untraced ops. */
  private def endToEnd: Seq[(String, M)] = {
    val (keyed, single) = plain.partition(_.key.isDefined)
    val lat = single.map(_.latency) ++
      keyed.groupBy(_.key).values.map(os => Stats.median(os.map(_.latency)))
    val n = plain.size
    val (itemName, itemUnit) = w.itemName
    val items = plain.map(_.items).sum / plain.map(_.itemSeconds).sum
    Seq(
      "setup_s" -> (Stats.median(setups), "s", setups.size),
      "latency_p50_s" -> (Stats.median(lat), "s", lat.size),
      "latency_p90_s" -> (Stats.quantile(lat, 0.9), "s", lat.size),
      "items_per_s" -> (items, "items/s", n),
      "cpu_s_per_op" -> (plain.map(_.cpu).sum / n, "s", n),
      "retained_heap_mb" -> (host("retained_heap_mb"), "MB", 1),
      "peak_rss_mb" -> (Host.peakRssMb, "MB", 1)) ++
      Seq(itemName -> (items, itemUnit, n)) ++
      w.extraUnits.toSeq.map { case (k, unit) =>
        val xs = plain.flatMap(_.extra.get(k))
        val name = if (unit == "s") k.stripSuffix("_s") + "_p50_s" else k
        name -> (Stats.median(xs), unit, xs.size)
      } ++
      Seq("failed_ratio" -> (failed.toDouble / ops.size, "ratio", ops.size),
        "pinned_rdds_left" -> (outs.map(_._3).sum / outs.size, "count", outs.size))
  }

  /** Per-layer metrics from the traced ops' spans: per-op means unless the
    * name says otherwise. A layer the workload never calls reads 0.
    */
  private def perLayer: Seq[(String, M)] = {
    val tr = tracer.get
    val traced = ok.filter(_._2)
    val n = math.max(1, traced.size)
    val spans = tr.all
    def named(s: String) = spans.filter(_.name == s)
    def perOp(s: String, f: Span => Double) = named(s).map(f).sum / n
    def secs(s: String) = perOp(s, _.seconds)
    def extra(k: String) = traced.map(_._1.extra.getOrElse(k, 0.0)).sum / n
    def rate(rows: String, s: String) = {
      val t = named(s).map(_.seconds).sum
      if (t > 0) traced.map(_._1.extra.getOrElse(rows, 0.0)).sum / t else 0.0
    }
    val exec = named("exec")
    val execQes = exec.flatMap(_.qes)
    val phase = (p: String) => execQes.map(q => Tracer.phases(q).getOrElse(p, 0.0)).sum / n
    val plan = (k: String) => execQes.map(q => Tracer.planCounts(q)(k)).sum / n
    val execS = exec.map(_.seconds).sum
    val ingest = named("streaming.ingest")
    val batches = ingest.map(_("batches")).sum
    val compact = named("streaming.compact")
    val latTraced = traced.map(_._1.latency)
    val latPlain = plain.map(_.latency)
    val overhead =
      if (latTraced.isEmpty || latPlain.isEmpty) 0.0
      else Stats.median(latTraced) / Stats.median(latPlain) - 1
    Seq(
      "tables.resolve_s" -> (secs("tables.resolve"), "s"),
      "tables.resolve_jobs" -> (perOp("tables.resolve", _("jobs")), "count"),
      "tables.scans_per_query" -> (extra("scans"), "count"),
      "operators.build_s" -> (secs("operators.build"), "s"),
      "operators.build_jobs" -> (perOp("operators.build", _("jobs")), "count"),
      "operators.build_task_cpu_s" ->
        (perOp("operators.build", _("task_cpu_ns") / 1e9), "s"),
      "operators.pinned_rdds_left" ->
        (outs.filter(_._2).map(_._3).sum / n, "count"),
      "plan.analysis_s" -> (extra("analysis_s") + phase("analysis"), "s"),
      "plan.optimization_s" -> (phase("optimization"), "s"),
      "plan.planning_s" -> (phase("planning"), "s"),
      "plan.exchanges" -> (plan("exchanges"), "count"),
      "plan.broadcast_exchanges" -> (plan("broadcast_exchanges"), "count"),
      "plan.unpartitioned_windows" -> (plan("unpartitioned_windows"), "count"),
      "exec.s" -> (execS / n, "s"),
      "exec.jobs" -> (perOp("exec", _("jobs")), "count"),
      "exec.stages" -> (perOp("exec", _("stages")), "count"),
      "exec.tasks" -> (perOp("exec", _("tasks")), "count"),
      "exec.task_cpu_s" -> (perOp("exec", _("task_cpu_ns") / 1e9), "s"),
      "exec.shuffle_bytes" -> (perOp("exec", _("shuffle_bytes")), "bytes"),
      "exec.spill_bytes" -> (perOp("exec", _("spill_bytes")), "bytes"),
      "exec.gc_s" -> (perOp("exec", _("gc_ms") / 1e3), "s"),
      "exec.idle_share" -> (if (execS > 0)
        1 - exec.map(_("task_run_ms")).sum / 1e3 / (execS * cores) else 0.0, "ratio"),
      "streaming.store_read_s" -> (secs("streaming.store_read"), "s"),
      "streaming.store_read_jobs" -> (perOp("streaming.store_read", _("jobs")), "count"),
      "streaming.retrieve_s" -> (secs("streaming.retrieve"), "s"),
      "streaming.ingest_s" -> (secs("streaming.ingest"), "s"),
      "streaming.ingest_batch_s" -> (perOp("streaming.ingest", _("batch_ms") / 1e3), "s"),
      "streaming.ingest_overhead_s" ->
        (perOp("streaming.ingest", s => s.seconds - s("batch_ms") / 1e3), "s"),
      "streaming.empty_batch_ratio" -> (if (batches > 0)
        ingest.map(_("empty_batches")).sum / batches else 0.0, "ratio"),
      "streaming.compact_s" -> (if (compact.nonEmpty)
        compact.map(_.seconds).sum / compact.size else 0.0, "s"),
      "streaming.store_files" -> (extra("store_files"), "count"),
      "functions.embed_rows_per_s" -> (rate("embed_rows", "functions.embed"), "rows/s"),
      "functions.cosine_rows_per_s" -> (rate("cosine_rows", "functions.cosine"), "rows/s"),
      "trace.overhead_share" -> (overhead, "ratio"))
      .map { case (k, (v, u)) => k -> (v, u, traced.size) }
  }

  private def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"non-finite metric value $v")
    v.toString
  }

  private def obj(ms: Seq[(String, M)], samples: Boolean): String =
    ms.map { case (k, (v, u, n)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"""" +
        (if (samples) s""", "samples": $n}""" else "}")
    }.mkString("{", ", ", "}")

  def detail: String = {
    val layers = if (tracer.isDefined) perLayer else Nil
    val h = host.toSeq.sortBy(_._1).map { case (k, v) => s""""$k": ${num(v)}""" }
    s"""{"detail": {"workload": "$workload", "ops": ${ops.size}, """ +
      s""""traced_ops": ${outs.count(_._2)}, """ +
      s""""metrics": ${obj(endToEnd ++ layers, samples = true)}, """ +
      s""""host": {${h.mkString(", ")}}, """ +
      s""""contended": ${host("lost_share") > 0.05}}}"""
  }

  def result(trace: Boolean): String = {
    val e2e = Set("setup_s", "latency_p50_s", "latency_p90_s", "items_per_s",
      "cpu_s_per_op", "retained_heap_mb")
    val ms = if (trace) perLayer else endToEnd.filter(m => e2e(m._1))
    s"""{"correct": ${failed == 0}, "attempted": ${ops.size}, """ +
      s""""failed": $failed, "metrics": ${obj(ms, samples = false)}}"""
  }
}
