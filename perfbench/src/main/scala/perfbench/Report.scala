package perfbench

import scala.collection.mutable

/** Order statistics over latency samples. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of unsorted values; NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.floor.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest percentile with at least 10 samples beyond it: with n
    * sorted samples, the value at rank n - 10 (1-based), i.e. percentile
    * 100 * (n - 10) / n. Below 20 samples that rank falls under the
    * median, so the median is returned instead. Returns (value, percentile). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.size < 20) (median(s), 50.0)
    else (s(s.size - 11), 100.0 * (s.size - 10) / s.size)
  }
}

/** Builds the run's metrics, its record file and its printed result. */
final class Report(val o: Opts, val correct: Boolean, val attempted: Long,
    val failed: Long, val metrics: Seq[(String, Double, String)],
    human: Seq[String], extra: Seq[(String, String)]) {

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0.0" else java.lang.Double.toString(v)

  private def metricsJson: String = metrics.map { case (n, v, u) =>
    s""""$n":{"value":${num(v)},"unit":"$u"}"""
  }.mkString("{", ",", "}")

  def resultJson: String =
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":$metricsJson}"""

  def recordJson: String = {
    val ex = extra.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    s"""{"workload":"${o.workload}","seed":${o.seed},"trace":${if (o.trace) 1 else 0},""" +
      s""""seconds":${num(o.seconds)},"scale":${num(o.scale)},"correct":$correct,""" +
      s""""attempted":$attempted,"failed":$failed,"metrics":$metricsJson,$ex}"""
  }

  def printHuman(): Unit = human.foreach(println)
}

object Report {
  def build(o: Opts, w: Workload, samples: Seq[Sample],
      setupS: Seq[Double], phases: Seq[(String, Double)], heapMb: Double,
      bytesPerRow: Double, controls: Seq[Double], busyNs: Long,
      probes: Map[String, Double], tr: Tracer,
      drains: Seq[(String, Double)], counters: Map[String, Double],
      injected: Long): Report = {
    val attempted = samples.size.toLong
    val failed = samples.count(!_.ok).toLong
    // a kind name also selects its sub-kinds: "catalog" = every catalog op
    def ms(k: String, untracedOnly: Boolean) = samples.filter(s =>
      (s.kind == k || s.kind.startsWith(k + ".")) && !(untracedOnly && s.traced))
      .map(_.ns / 1e6)
    val kinds = w.cycle.distinct
    // in a traced run only the untraced passes stand for the end-to-end view
    val med = kinds.map(k => k -> Stats.median(ms(k, tr.on))).toMap
    val items = kinds.map { k =>
      val ss = samples.filter(_.kind == k)
      k -> (if (ss.isEmpty) 0.0 else ss.map(_.items).sum / ss.size)
    }.toMap
    // a headline naming several kinds (e.g. every catalog commit) pools
    // their samples, so its median and tail come from one distribution
    val head = ms(w.headline, tr.on)
    val headP50 = Stats.median(head)
    val (tailV, tailP) = {
      val (v, p) = Stats.tail(head)
      if (p <= 50.0) (headP50, 50.0) else (v, p)
    }
    val (work, work2) = w.throughputs(med, items)
    val e2e: Seq[(String, Double, String)] = Seq(
      ("setup_s", Stats.median(setupS), "s"),
      ("heap_after_setup_mb", heapMb, "MB"),
      ("lat_p50_ms", headP50, "ms"),
      ("lat_tail_ms", tailV, "ms"),
      ("lat2_p50_ms", med(w.second), "ms"),
      ("work_per_s", work, "1/s"),
      ("work2_per_s", work2, "1/s"),
      ("bytes_per_row", bytesPerRow, "B"))

    val kindStats = kinds.map { k =>
      val xs = ms(k, untracedOnly = false)
      val (tv, tp) = Stats.tail(xs)
      s""""$k":{"n":${xs.size},"p50_ms":${jnum(Stats.median(xs))},""" +
        s""""tail_ms":${jnum(tv)},"tail_pct":${jnum(tp)},"items":${jnum(items(k))},""" +
        s""""ms":${xs.map(jnum).mkString("[", ",", "]")}}"""
    }.mkString("{", ",", "}")

    val layer = if (tr.on) PerLayer.compute(w, samples, tr, probes, controls,
      drains, counters) else Nil
    // every figure the mode has; run.py keeps the ones BENCHMARK.json names
    val metrics = if (o.trace) layer else e2e

    val human = mutable.ArrayBuffer.empty[String]
    human += s"workload ${o.workload}  seed ${o.seed}  trace ${if (o.trace) 1 else 0}" +
      s"  ops ${samples.size} (failed $failed, injected wrong $injected)  busy ${"%.2f".format(busyNs / 1e9)} s" +
      s"  phases (s): ${phases.map { case (k, v) => s"$k ${"%.2f".format(v)}" }.mkString(", ")}"
    human += s"  setup runs (s): ${setupS.map(x => "%.3f".format(x)).mkString(", ")}"
    human += s"  control.catalyst_scan_ms start/mid/end: " +
      controls.map(x => "%.1f".format(x)).mkString(" / ")
    e2e.foreach { case (n, v, u) =>
      val alias = w.aliases.get(n).map(a => s"  ($a)").getOrElse("")
      val note = n match {
        case "lat_p50_ms" => s"  [${w.headline}, n=${head.size}]"
        case "lat_tail_ms" => s"  [${w.headline} p${"%.1f".format(tailP)}, n=${head.size}, 10 beyond]"
        case "lat2_p50_ms" => s"  [${w.second}, n=${ms(w.second, tr.on).size}]"
        case _ => ""
      }
      human += f"  $n%-22s ${num(v)}%14s $u%-5s$alias$note"
    }
    if (o.trace) layer.foreach { case (n, v, u) =>
      human += f"  $n%-40s ${num(v)}%14s $u" }

    val extra = Seq(
      "end_to_end" -> e2e.map { case (n, v, u) =>
        s""""$n":{"value":${jnum(v)},"unit":"$u"}""" }.mkString("{", ",", "}"),
      "kinds" -> kindStats,
      "tail" -> s"""{"kind":"${w.headline}","percentile":${jnum(tailP)},"n":${head.size}}""",
      "injected_wrong" -> injected.toString,
      "setup_runs_s" -> setupS.map(jnum).mkString("[", ",", "]"),
      "phases_s" -> phases.map { case (k, v) => s""""$k":${jnum(v)}""" }.mkString("{", ",", "}"),
      "control_ms" -> controls.map(jnum).mkString("[", ",", "]"),
      "per_layer_all" -> layer.map { case (n, v, u) =>
        s""""$n":{"value":${jnum(v)},"unit":"$u"}""" }.mkString("{", ",", "}"))
    new Report(o, failed == 0, attempted, failed, metrics, human.toSeq, extra)
  }

  private def num(v: Double): String = "%.4f".format(v)
  def jnum(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}
