package perfbench

import org.apache.spark.sql.SparkSession

/** `serve_bulk`: hot point reads ([[PointServe]]) beside cold bulk work
  * ([[ColdBulk]]) on state both set up side by side. Each pass of the
  * interleave runs the hot ops, then the cold ones. The one-key SELECT is
  * the headline latency, the cold join the second; `work_per_s` counts
  * the keys the hot reads return per second and `work2_per_s` the rows the
  * cold ops read or write per second, so a read-path change and a
  * bulk-path change each move a throughput of their own. */
final class ServeBulk(h: Harness) extends Workload {
  private implicit val spark: SparkSession = h.spark
  private val hot = new PointServe(h)
  private val cold = new ColdBulk(h)

  val headline = "sql.point"
  val second = "sql.join"
  val cycle: IndexedSeq[String] = hot.cycle ++ cold.cycle
  val aliases: Map[String, String] = Map(
    "lat_p50_ms" -> "point_get_p50_ms", "lat_tail_ms" -> "point_get_tail_ms",
    "lat2_p50_ms" -> "join_p50_ms", "work_per_s" -> "reads_per_s",
    "work2_per_s" -> "bulk_rows_per_s", "bytes_per_row" -> "stored_bytes_per_row")
  override val prunedKinds: Map[String, Int] = Map("sql.point" -> hot.partitions,
    "sql.batch" -> hot.partitions, "rdd.multiget" -> hot.partitions,
    "sql.range_scan" -> cold.partitions)
  override val deltaKind: Option[String] = Some("sql.upsert")

  def throughputs(med: String => Double, items: String => Double): (Double, Double) = (
    Workload.perSecond(cycle, hot.cycle.contains, med, items),
    Workload.perSecond(cycle, cold.cycle.contains, med, items))

  def setup(): Unit = { hot.setup(); cold.setup() }
  def teardown(): Unit = { hot.teardown(); cold.teardown() }
  override def prepare(): Unit = cold.prepare()

  def step(i: Long): Unit = {
    val pass = Math.floorDiv(i, cycle.size.toLong)
    val pos = Math.floorMod(i, cycle.size.toLong).toInt
    val nh = hot.cycle.size
    if (pos < nh) hot.step(pass * nh + pos)
    else cold.step(pass * cold.cycle.size + pos - nh)
  }

  /** Block-manager bytes (memory and disk) per row both halves hold. */
  def storedBytesPerRow(): Double =
    Harness.cachedBytes(spark).toDouble / (hot.liveRows + cold.liveRows)
  def probeSample(): Probes.Sample = cold.probeSample()

  /** Traced runs add one checked, traced pass of the dedup pipeline (after
    * an untraced warm-up pass), so `pipeline` and `functions` have layer
    * figures; it is not part of the end-to-end loop. */
  override def traceExtras(): Unit = {
    val d = new CorpusDedup(h)
    h.tracer.setupPhase = true
    d.setup()
    d.prepare()
    d.cycle.indices.foreach(j => d.step(Harness.warmIndex(d.cycle.size, j)))
    h.tracer.setupPhase = false
    d.cycle.indices.foreach(j => d.step(j))
    h.tracer.setupPhase = true
    d.countCandidates()
    d.teardown()
    h.tracer.setupPhase = false
  }
}
