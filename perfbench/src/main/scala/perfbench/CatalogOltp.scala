package perfbench

import java.io.File

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.keys.KeySerializer

/** `catalog_oltp`: a durable `CREATE TABLE ... USING graft` copy of an
  * orders-shaped table with `CREATE INDEX` on `o_custkey`, on the local
  * Hadoop file system (no fsync). One client in a closed loop runs a
  * deterministic interleave of small writes — three 1-row UPDATEs, a
  * 100-row MERGE, a 10-key DELETE then re-INSERT of the same keys (size
  * stays flat) — with uniform-key point readbacks and a
  * secondary-equality SELECT. Exercises the commit protocol, log growth, background fold
  * maintenance, secondary upkeep and snapshot rebinding; uniform keys
  * leave a hot-key cache nothing to hit. Oracle: driver-side arrays
  * that mirror every applied write. */
final class CatalogOltp(h: Harness) extends Workload {
  private implicit val spark: SparkSession = h.spark
  private val seed = h.o.seed
  private val n = math.max(2000L, (20000 * h.o.scale).toLong)
  private val customers = math.max(10L, n / 10)
  private val mergeRows = 100
  private val deleteKeys = 10

  val headline = "catalog"
  val second = "sql.readback"
  // three 1-row UPDATEs per pass, the cheapest commit: a run of 25 s holds
  // about five passes, so about 30 commits of which 15 single-row
  val cycle: IndexedSeq[String] = Vector("catalog.update", "sql.readback",
    "catalog.merge", "sql.readback", "catalog.update", "catalog.delete",
    "catalog.insert", "sql.readback", "catalog.update", "sql.readback",
    "sql.secondary")
  val aliases = Map("lat_p50_ms" -> "commit_p50_ms",
    "lat_tail_ms" -> "commit_tail_ms", "lat2_p50_ms" -> "readback_p50_ms",
    "work_per_s" -> "oltp_stmts_per_s", "work2_per_s" -> "rows_changed_per_s",
    "bytes_per_row" -> "disk_bytes_per_row")
  override val commitKinds = Set("catalog.update", "catalog.merge",
    "catalog.delete", "catalog.insert")

  /** Statements per second over the whole interleave, and rows changed
    * per second of commit time. */
  def throughputs(med: String => Double, items: String => Double): (Double, Double) = (
    Workload.perSecond(cycle, _ => true, med, _ => 1.0),
    Workload.perSecond(cycle, commitKinds, med, items))

  /** Warm-up: UPDATE, readback, MERGE, readback — the commit path and
    * the read path once each (a full pass costs six commits). */
  override val warmOps = 4

  // the mirror: one slot per generated row
  private val cust = new Array[Long](n.toInt)
  private val price = new Array[Double](n.toInt)
  private val live = new Array[Boolean](n.toInt)
  private var rep = 0
  private var dir: File = _
  /** Keys deleted by the last DELETE, re-inserted by the next INSERT. */
  private var pending: Seq[Long] = Nil

  private val mergeSchema = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("p", DoubleType, nullable = false)))

  def setup(): Unit = {
    rep += 1
    dir = new File(h.o.work, s"tables/co_orders_$rep")
    h.tracer.fsRoot = Some(dir)
    (0 until n.toInt).foreach { i =>
      cust(i) = Gen.custKey(seed, i, customers); price(i) = Gen.price(seed, 3, i); live(i) = true
    }
    pending = Nil
    Gen.ordersFrame(spark, seed, n, customers).createOrReplaceTempView("co_src")
    spark.sql(s"""CREATE TABLE co_orders USING graft OPTIONS (key 'o_orderkey')
      |LOCATION '${dir.getAbsolutePath}' AS SELECT * FROM co_src""".stripMargin)
    spark.sql("CREATE INDEX co_cust_ix ON co_orders (o_custkey)")
  }

  def teardown(): Unit = {
    spark.sql("DROP TABLE IF EXISTS co_orders")
    spark.catalog.dropTempView("co_src")
    Harness.deleteTree(dir)
  }

  private def idx(k: Long) = Gen.orderIndex(seed, k, n).toInt
  private def key(stream: Long, j: Long) = Gen.orderKey(seed, Gen.below(seed, stream, j, n))
  private def distinctKeys(stream: Long, i: Long, m: Int): Seq[Long] =
    Iterator.from(0).map(j => key(stream, i * 1000 + j)).distinct.take(m).toSeq
  private def newPrice(stream: Long, i: Long, j: Long) = Gen.price(seed, stream, i * 1000 + j)

  def step(i: Long): Unit = {
    val kind = cycle(Math.floorMod(i, cycle.size.toLong).toInt)
    kind match {
      case "catalog.update" =>
        val k = key(400, i)
        val p = newPrice(401, i, 0)
        h.op(kind, 1) {
          spark.sql(s"UPDATE co_orders SET o_totalprice = $p WHERE o_orderkey = $k")
        } { _ => price(idx(k)) = p; None }
      case "catalog.merge" =>
        val ks = distinctKeys(410, i, mergeRows)
        val rows = ks.zipWithIndex.map { case (k, j) => Row(k, newPrice(411, i, j)) }
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), mergeSchema)
          .createOrReplaceTempView("co_msrc")
        h.op(kind, mergeRows) {
          spark.sql("""MERGE INTO co_orders t USING co_msrc s ON t.o_orderkey = s.k
            |WHEN MATCHED THEN UPDATE SET o_totalprice = s.p""".stripMargin)
        } { _ => rows.foreach(r => price(idx(r.getLong(0))) = r.getDouble(1)); None }
      case "catalog.delete" =>
        val ks = distinctKeys(420, i, deleteKeys)
        h.op(kind, deleteKeys) {
          spark.sql(s"DELETE FROM co_orders WHERE o_orderkey IN (${ks.mkString(",")})")
        } { _ => ks.foreach(k => live(idx(k)) = false); pending = ks; None }
      case "catalog.insert" =>
        require(pending.nonEmpty, "the interleave runs DELETE before INSERT")
        val ks = pending
        val vals = ks.zipWithIndex.map { case (k, j) =>
          val x = idx(k)
          (k, x, newPrice(421, i, j))
        }
        val sqlVals = vals.map { case (k, x, p) =>
          s"($k, ${cust(x)}, $p, '${Gen.status(seed, x)}', '${Gen.comment(seed, 5, x)}')"
        }.mkString(", ")
        h.op(kind, vals.size) {
          spark.sql(s"INSERT INTO co_orders VALUES $sqlVals")
        } { _ =>
          vals.foreach { case (_, x, p) => live(x) = true; price(x) = p }
          pending = Nil
          None
        }
      case "sql.readback" =>
        val k = key(430, i)
        h.op(kind) {
          h.collect(spark.sql(
            s"SELECT o_orderkey, o_custkey, o_totalprice FROM co_orders WHERE o_orderkey = $k"))
        } { rows =>
          val x = idx(k)
          val ok = if (live(x)) rows.length == 1 && rows(0).getLong(1) == cust(x) &&
            rows(0).getDouble(2) == price(x) else rows.isEmpty
          if (ok) None else Some(s"key $k -> ${rows.mkString(",")}")
        }
      case "sql.secondary" =>
        val c = 1L + Gen.below(seed, 440, i, customers)
        h.op(kind) {
          h.collect(spark.sql(
            s"SELECT count(*), sum(o_totalprice) FROM co_orders WHERE o_custkey = $c"))
        } { rows =>
          var cnt = 0L
          var sum = 0.0
          var x = 0
          while (x < n) { if (live(x) && cust(x) == c) { cnt += 1; sum += price(x) }; x += 1 }
          val r = rows(0)
          val ok = r.getLong(0) == cnt && (cnt == 0 || Harness.near(r.getDouble(1), sum))
          if (ok) None else Some(s"custkey $c -> $r, want ($cnt, $sum)")
        }
    }
  }

  override def drain(): Seq[(String, Double)] = {
    val t = System.nanoTime()
    graft.sql.GraftBenchBridge.awaitFolds()
    Seq("catalog.fold_drain_ms" -> (System.nanoTime() - t) / 1e6)
  }

  def liveRows: Long = live.count(identity).toLong
  def storedBytesPerRow(): Double = Harness.treeBytes(dir).toDouble / math.max(1L, liveRows)

  def probeSample(): Probes.Sample = {
    val m = math.min(n, 50000L).toInt
    val keys = Array.tabulate(m)(i => Gen.orderKey(seed, i.toLong))
    val vals = Array.tabulate(m)(i => (cust(i), price(i)))
    Probes.of(keys, vals, KeySerializer.LongSerializer)
  }
}
