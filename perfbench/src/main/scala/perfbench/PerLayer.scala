package perfbench

/** Per-layer metrics of a traced run (`--trace 1`). Every workload
  * reports every layer figure; a layer the workload bypasses reads 0 on
  * its counts, ratios and shares. BENCHMARK.json's `per_layer` list
  * picks the ones the result line carries; the rest (per-op-kind self
  * time and Spark work, end-of-run drains) stay in the run record. */
object PerLayer {
  /** A metric's unit, read off its name. */
  def unit(name: String): String =
    if (name.contains("bytes")) "B"
    else if (name.endsWith("_ns") || name.contains("_ns_")) "ns"
    else if (name.endsWith("_ms") || name.contains("_ms_")) "ms"
    else if (name.endsWith("_ratio")) "ratio"
    else if (name.endsWith("_pct")) "%"
    else "count"

  val Layers = Seq("sql", "rdd", "catalog", "pipeline", "functions")

  def compute(w: Workload, samples: Seq[Sample], tr: Tracer,
      probes: Map[String, Double], controls: Seq[Double],
      drains: Seq[(String, Double)], counters: Map[String, Double])
      : Seq[(String, Double, String)] = {
    val l = tr.listener.get
    l.drain()
    val by = l.synchronized(l.bySpan.toMap)
    val spans = tr.spans.filter(_.endNs > 0).toSeq
    val roots = spans.filter(_.parent == -1)
    val kids = spans.groupBy(_.parent)
    val byOp = spans.groupBy(_.op)
    def selfNs(s: Span) = s.ns - kids.getOrElse(s.id, Nil).map(_.ns).sum
    def mean(xs: Iterable[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b

    def opAgg(op: Long): SparkAgg = {
      val a = new SparkAgg
      byOp.getOrElse(op, Nil).foreach(s => by.get(s.id).foreach(a.add))
      a
    }
    val aggs = roots.map(r => r -> opAgg(r.op))
    def ofKind(k: String) = aggs.filter(_._1.name == k)
    def ofKinds(ks: Set[String]) = aggs.filter(a => ks.contains(a._1.name))

    // driver-only time: op wall minus the union of its jobs' wall intervals
    def driverMs(r: Span, a: SparkAgg): Double = {
      val lo = tr.wallMs(r.startNs)
      val hi = tr.wallMs(r.endNs)
      val iv = a.jobSpans.map { case (s, e) => (math.max(lo, s.toDouble), math.min(hi, e.toDouble)) }
        .filter { case (s, e) => e > s }.sortBy(_._1)
      var covered = 0.0
      var end = lo
      iv.foreach { case (s, e) =>
        if (e > end) { covered += e - math.max(s, end); end = e }
      }
      math.max(0.0, (hi - lo) - covered)
    }

    val plans = spans.filter(_.name.endsWith(".plan"))
    val execs = spans.filter(_.name.endsWith(".exec"))
    val totalOpNs = roots.map(_.ns).sum.toDouble
    val selfByLayer = spans.groupBy(_.layer).map { case (ly, ss) => ly -> ss.map(selfNs).sum }

    val pruned = ofKinds(w.prunedKinds.keySet)
    val kept = ratio(pruned.map(_._2.tasks.toDouble).sum,
      pruned.map(p => w.prunedKinds(p._1.name).toDouble).sum)
    val commits = ofKinds(w.commitKinds)
    val commitItems = samples.filter(s => s.traced && w.commitKinds.contains(s.kind)).map(_.items).sum
    val fs = commits.flatMap(c => tr.fsByOp.get(c._1.op))
    val delta = w.deltaKind.map(ofKind).getOrElse(Nil)
    val deltaItems = w.deltaKind.map(k =>
      samples.filter(s => s.traced && s.kind == k).map(_.items).sum).getOrElse(0.0)
    val all = new SparkAgg
    aggs.foreach(a => all.add(a._2))
    val n = math.max(1, roots.size).toDouble

    def headMs(traced: Boolean) = Stats.median(samples.filter(s =>
      (s.kind == w.headline || s.kind.startsWith(w.headline + ".")) &&
        s.traced == traced).map(_.ns / 1e6))
    val overhead = 100.0 * (headMs(true) / headMs(false) - 1.0)

    val values: Map[String, Double] = Map(
      "sql.plan_ms" -> mean(plans.map(_.ns / 1e6)),
      "sql.exec_ms" -> mean(execs.map(_.ns / 1e6)),
      "sql.driver_ms_per_stmt" -> mean(aggs.map { case (r, a) => driverMs(r, a) }),
      "sql.jobs_per_stmt" -> mean(aggs.map(_._2.jobs.toDouble)),
      "sql.tasks_per_stmt" -> mean(aggs.map(_._2.tasks.toDouble)),
      "sql.partition_kept_ratio" -> kept,
      "rdd.multiget_tasks" -> mean(ofKind("rdd.multiget").map(_._2.tasks.toDouble)),
      "rdd.keys_found_ratio" -> ratio(counters.getOrElse("rdd.keys_found", 0.0),
        counters.getOrElse("rdd.keys_asked", 0.0)),
      "rdd.shuffle_bytes_per_delta_row" -> ratio(
        delta.map(_._2.shuffleWrite.toDouble).sum, deltaItems),
      "catalog.jobs_per_commit" -> mean(commits.map(_._2.jobs.toDouble)),
      "catalog.files_created_per_commit" -> mean(fs.map { case (a, b) => b.filesCreatedSince(a).toDouble }),
      "catalog.fs_bytes_read_per_commit" -> mean(fs.map { case (a, b) => b.bytesReadSince(a).toDouble }),
      "catalog.bytes_written_per_row_changed" ->
        ratio(fs.map { case (a, b) => b.bytesWrittenSince(a).toDouble }.sum, commitItems),
      "catalog.readback_jobs" -> mean(ofKind("sql.readback").map(_._2.jobs.toDouble)),
      "pipeline.candidate_pairs" -> counters.getOrElse("pipeline.candidate_pairs", 0.0),
      "pipeline.verified_pair_ratio" -> ratio(counters.getOrElse("pipeline.verified_pairs", 0.0),
        counters.getOrElse("pipeline.candidate_pairs", 0.0)),
      "spark.jobs" -> all.jobs / n,
      "spark.stages" -> all.stages / n,
      "spark.tasks" -> all.tasks / n,
      "spark.task_deserialize_ms" -> all.deserMs / n,
      "spark.executor_run_ms" -> all.runMs / n,
      "spark.executor_cpu_ms" -> all.cpuNs / 1e6 / n,
      "spark.result_bytes" -> all.resultBytes / n,
      "spark.shuffle_read_bytes" -> all.shuffleRead / n,
      "spark.shuffle_write_bytes" -> all.shuffleWrite / n,
      "spark.spill_bytes" -> all.spill / n,
      "spark.gc_ms" -> mean(tr.gcByOp.values.map(_.toDouble)),
      "spark.background_jobs" -> by.get(-1).map(_.jobs.toDouble).getOrElse(0.0) /
        math.max(1, samples.size),
      "control.catalyst_scan_ms" -> Stats.median(controls),
      "trace.overhead_pct" -> overhead
    ) ++ Layers.map(ly => s"self.${ly}_pct" ->
      ratio(100.0 * selfByLayer.getOrElse(ly, 0L), totalOpNs)) ++ probes

    val listed = values.toSeq.sortBy(_._1).map { case (name, v) => (name, v, unit(name)) }
    // everything else the trace knows: per-kind self time and Spark work,
    // and the end-of-run drains (record file only)
    val perKind = roots.groupBy(_.name).toSeq.sortBy(_._1).flatMap { case (k, rs) =>
      val as = rs.map(r => opAgg(r.op))
      Seq((s"$k.self_ms", mean(rs.flatMap(r => byOp(r.op)).filter(_.name == k).map(selfNs(_) / 1e6)) , "ms"),
        (s"$k.jobs", mean(as.map(_.jobs.toDouble)), "count"),
        (s"$k.tasks", mean(as.map(_.tasks.toDouble)), "count"),
        (s"$k.executor_run_ms", mean(as.map(_.runMs.toDouble)), "ms"),
        (s"$k.shuffle_write_bytes", mean(as.map(_.shuffleWrite.toDouble)), "B"))
    }
    listed ++ perKind ++ drains.map { case (k, v) => (k, v, unit(k)) }
  }
}
