package perfbench

import org.apache.spark.sql.SparkSession

import graft.sql.IndexedFrame

/** The hot half of `serve_bulk`: a hot, in-memory (MEMORY_ONLY) range-partitioned handle
  * over an orders-shaped table, read by one client in a closed loop with
  * Zipf-skewed keys: one-key SQL SELECTs, 50-key SQL `IN` SELECTs and
  * direct 50-key `IndexedRDD.multiget`. No writes, no disk. Fixed cost
  * per statement (analysis, planning with its planning-time probe, job
  * launch) dominates; skewed keys leave room for a cross-statement cache.
  * Oracle: the generator itself (no writes, so it mirrors every row).
  * [[ServeBulk]] runs it beside [[ColdBulk]]. */
final class PointServe(h: Harness) {
  private implicit val spark: SparkSession = h.spark
  private val seed = h.o.seed
  private val n = math.max(2000L, (150000 * h.o.scale).toLong)
  private val customers = math.max(10L, n / 10)
  val partitions = 16
  private val batch = 50

  val cycle: IndexedSeq[String] = Vector("sql.point", "sql.point", "sql.batch",
    "sql.point", "rdd.multiget", "sql.point", "sql.point", "sql.batch",
    "sql.point", "rdd.multiget")

  private val zipf = new Gen.Zipf(n.toInt, 1.1)
  // Zipf rank -> row: an affine permutation, so hot keys spread over the
  // key range instead of piling into the first partition
  private val mult = {
    var m = (n * 0.618).toLong | 1L
    while (BigInt(m).gcd(BigInt(n)) != 1) m += 2
    m
  }
  private val offset = Gen.below(seed, 90, 0, n)
  private def keyAt(stream: Long, j: Long): Long = {
    val r = zipf.rank(Gen.unit(seed, stream, j)).toLong
    Gen.orderKey(seed, (r * mult + offset) % n)
  }

  private var handle: IndexedFrame.Handle[Long] = _

  def setup(): Unit = {
    val df = Gen.ordersFrame(spark, seed, n, customers)
    handle = IndexedFrame.indexRangePartitioned(df, "o_orderkey", partitions)
    handle.idx.count()
    handle.toDF.createOrReplaceTempView("ps_orders")
  }

  def teardown(): Unit = {
    spark.catalog.dropTempView("ps_orders")
    handle.idx.unpersist(blocking = true)
  }

  private def expect(k: Long): (Long, Double, String) = {
    val i = Gen.orderIndex(seed, k, n)
    (Gen.custKey(seed, i, customers), Gen.price(seed, 3, i), Gen.status(seed, i))
  }

  def step(i: Long): Unit = {
    val kind = cycle(Math.floorMod(i, cycle.size.toLong).toInt)
    kind match {
      case "sql.point" =>
        val k = keyAt(100, i)
        h.op(kind) {
          h.collect(spark.sql("SELECT o_orderkey, o_custkey, o_totalprice, " +
            s"o_orderstatus FROM ps_orders WHERE o_orderkey = $k"))
        } { rows =>
          val (c, p, s) = expect(k)
          if (rows.length == 1 && rows(0).getLong(0) == k && rows(0).getLong(1) == c &&
              rows(0).getDouble(2) == p && rows(0).getString(3) == s) None
          else Some(s"key $k -> ${rows.mkString(",")}")
        }
      case "sql.batch" =>
        val ks = (0 until batch).map(j => keyAt(200, i * batch + j)).distinct
        h.op(kind, ks.size) {
          h.collect(spark.sql("SELECT o_orderkey, o_custkey, o_totalprice FROM " +
            s"ps_orders WHERE o_orderkey IN (${ks.mkString(",")})"))
        } { rows =>
          val ok = rows.length == ks.size && rows.forall { r =>
            val (c, p, _) = expect(r.getLong(0))
            ks.contains(r.getLong(0)) && r.getLong(1) == c && r.getDouble(2) == p
          }
          if (ok) None else Some(s"${ks.size} keys -> ${rows.length} rows")
        }
      case "rdd.multiget" =>
        val ks = (0 until batch).map(j => keyAt(300, i * batch + j)).distinct.toArray
        h.op(kind, ks.length) { handle.idx.multiget(ks) } { got =>
          h.count("rdd.keys_asked", ks.length)
          h.count("rdd.keys_found", got.size)
          val ok = got.size == ks.length && ks.forall { k =>
            val (c, p, _) = expect(k)
            got.get(k).exists(r => r.getLong(1) == c && r.getDouble(2) == p)
          }
          if (ok) None else Some(s"${ks.length} keys -> ${got.size} found")
        }
    }
  }

  def liveRows: Long = n
}
