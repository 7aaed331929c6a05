package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.keys.KeySerializer
import graft.sql.IndexedFrame

/** The cold half of `serve_bulk`: two corpora pinned DISK_ONLY, so every read streams
  * partitions back from disk and deserializes them (the cold-corpus
  * shape): a lineitem-shaped table under the composite key
  * (l_orderkey, l_linenumber) and a range-partitioned orders-shaped
  * handle with a secondary index on o_custkey. Each pass applies a 5%
  * upsert delta to the orders base, joins lineitem with orders in SQL
  * (IndexedJoin), runs the first secondary filtered aggregate on the new
  * version (a cold fold) and six pruned range counts. Serialization,
  * trie walks, the fold and the shuffle dominate; driver cost per
  * statement is small. Oracles: a plain-Catalyst reference of the join
  * over the generated tables (computed untimed after set-up) and
  * driver-side arrays mirroring each delta. */
final class ColdBulk(h: Harness) {
  private implicit val spark: SparkSession = h.spark
  private val seed = h.o.seed
  private val n = math.max(4000L, (60000 * h.o.scale).toLong)
  private val customers = math.max(10L, n / 10)
  /** Orders that have line items (one in ten, as sf0.1 lineitem is to
    * the ten-copy orders). */
  private val lineOrders = math.max(400L, n / 10)
  val partitions = 16
  private val groups = 16
  private val disk = StorageLevel.DISK_ONLY

  val cycle: IndexedSeq[String] = Vector("sql.upsert", "sql.join", "sql.cold_fold",
    "sql.range_scan", "sql.range_scan", "sql.range_scan", "sql.range_scan",
    "sql.range_scan", "sql.range_scan")

  private val basePrice = Array.tabulate(n.toInt)(i => Gen.price(seed, 3, i))
  private val cust = Array.tabulate(n.toInt)(i => Gen.custKey(seed, i, customers))
  private val lineCount = Array.tabulate(lineOrders.toInt)(j => Gen.lines(seed, j))
  private val lineSum = Array.tabulate(lineOrders.toInt) { j =>
    (1 to lineCount(j)).map(l => Gen.extPrice(seed, j, l)).sum
  }
  private val lineRows = lineCount.map(_.toLong).sum
  /** The current version's prices: the base with the last delta applied. */
  private val price = basePrice.clone()

  private var base: IndexedFrame.Handle[Long] = _
  private var current: IndexedFrame.Handle[Long] = _
  private var lineitem: IndexedFrame.CompositeHandle[Long, Long] = _
  private var pass = 0L

  private def joinSql(orders: String, lines: String) =
    s"""SELECT o_custkey % $groups AS g, count(*) AS n, sum(l_extendedprice) AS le,
       |  sum(o_totalprice) AS op
       |FROM $orders JOIN $lines ON o_orderkey = l_orderkey
       |GROUP BY o_custkey % $groups""".stripMargin

  private def expectedJoin(): Map[Long, (Long, Double, Double)] = {
    val cnt = new Array[Long](groups)
    val le = new Array[Double](groups)
    val op = new Array[Double](groups)
    var j = 0
    while (j < lineOrders) {
      val g = (cust(j) % groups).toInt
      cnt(g) += lineCount(j); le(g) += lineSum(j); op(g) += price(j) * lineCount(j)
      j += 1
    }
    (0 until groups).filter(cnt(_) > 0).map(g => g.toLong -> (cnt(g), le(g), op(g))).toMap
  }

  private def checkJoin(rows: Array[Row]): Option[String] = {
    val want = expectedJoin()
    val ok = rows.length == want.size && rows.forall { r =>
      want.get(r.getLong(0)).exists { case (c, le, op) =>
        r.getLong(1) == c && Harness.near(r.getDouble(2), le) && Harness.near(r.getDouble(3), op)
      }
    }
    if (ok) None else Some(s"join: ${rows.length} groups, want ${want.size}")
  }

  def prepare(): Unit = {
    // the plain-Catalyst reference: the same join over plain DataFrames,
    // under views of its own so the timed join keeps reading the handles
    Gen.ordersFrame(spark, seed, n, customers).createOrReplaceTempView("cb_ref_orders")
    Gen.lineitemFrame(spark, seed, lineOrders).createOrReplaceTempView("cb_ref_lineitem")
    checkJoin(spark.sql(joinSql("cb_ref_orders", "cb_ref_lineitem")).collect()).foreach(e =>
      throw new IllegalStateException(s"driver oracle disagrees with Catalyst: $e"))
    spark.catalog.dropTempView("cb_ref_orders")
    spark.catalog.dropTempView("cb_ref_lineitem")
    println(s"  cold join reads: ${joinSources().mkString(", ")}")
  }

  /** The relations the timed join's plan reads. Set-up fails unless they
    * are the two graft handles: a join that read generated DataFrames
    * would time the benchmark's own generator. */
  def joinSources(): Seq[String] = {
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val rels = spark.sql(joinSql("cb_orders", "cb_lineitem")).queryExecution.analyzed
      .collect { case l: LogicalRelation => l.relation.getClass.getSimpleName }
    if (rels.sorted != Seq("CompositeRelation", "IndexedRelation"))
      throw new IllegalStateException(s"cold join reads ${rels.mkString(", ")}, not the handles")
    rels.sorted
  }

  private def pinDisk[T <: org.apache.spark.rdd.RDD[_]](r: T): Unit = {
    r.unpersist(blocking = true)
    r.persist(disk)
    r.count()
  }

  def setup(): Unit = {
    Array.copy(basePrice, 0, price, 0, basePrice.length)
    base = IndexedFrame.indexRangePartitioned(
      Gen.ordersFrame(spark, seed, n, customers), "o_orderkey", partitions)
    pinDisk(base.idx)
    base.addSecondaryIndex("o_custkey")
    current = base
    lineitem = IndexedFrame.indexComposite(Gen.lineitemFrame(spark, seed, lineOrders),
      "l_orderkey", "l_linenumber", numPartitions = partitions)
    pinDisk(lineitem.idx)
    current.toDF.createOrReplaceTempView("cb_orders")
    lineitem.toDF.createOrReplaceTempView("cb_lineitem")
  }

  def teardown(): Unit = {
    spark.catalog.dropTempView("cb_orders")
    spark.catalog.dropTempView("cb_lineitem")
    if (current ne base) current.idx.unpersist(blocking = true)
    base.idx.unpersist(blocking = true)
    lineitem.idx.unpersist(blocking = true)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Orders row `j` is in delta `d` (about one in twenty). */
  private def inDelta(d: Long, j: Long): Boolean = Gen.below(seed, 500 + d, j, 20) == 0
  private def deltaPrice(d: Long, j: Long): Double = Gen.price(seed, 700 + d, j)

  private def deltaFrame(d: Long): DataFrame = {
    val (s, nn, cs) = (seed, n, customers)
    val rdd = spark.sparkContext.range(0L, nn, 1L, spark.sparkContext.defaultParallelism)
      .filter(j => Gen.below(s, 500 + d, j, 20) == 0)
      .map(j => Row(Gen.orderKey(s, j), Gen.custKey(s, j, cs), Gen.price(s, 700 + d, j),
        Gen.status(s, j), Gen.comment(s, 5, j)))
    spark.createDataFrame(rdd, Gen.ordersSchema)
  }

  private def keysBetween(a: Long, b: Long): Long = {
    // order keys ascend with the row index, so binary-search both ends
    def firstAtLeast(k: Long): Long = {
      var lo = 0L; var hi = n
      while (lo < hi) { val m = (lo + hi) >>> 1; if (Gen.orderKey(seed, m) < k) lo = m + 1 else hi = m }
      lo
    }
    firstAtLeast(b + 1) - firstAtLeast(a)
  }

  def step(i: Long): Unit = {
    val kind = cycle(Math.floorMod(i, cycle.size.toLong).toInt)
    kind match {
      case "sql.upsert" =>
        // every delta applies to the base, so each pass pays the same
        // one-level copy-on-write lineage
        pass += 1
        val d = pass
        val delta = deltaFrame(d)
        val rows = (0L until n).count(j => inDelta(d, j))
        val old = current
        val next = h.op(kind, rows.toDouble) {
          val v = base.upsertFrame(delta)
          v.idx.persist(disk)
          val c = v.idx.count()
          v.addSecondaryIndex("o_custkey")
          v.toDF.createOrReplaceTempView("cb_orders")
          (v, c)
        } { case (_, c) => if (c == n) None else Some(s"upsert left $c rows, want $n") }
        current = next._1
        if (old ne base) old.idx.unpersist(blocking = false)
        Array.copy(basePrice, 0, price, 0, basePrice.length)
        (0L until n).foreach(j => if (inDelta(d, j)) price(j.toInt) = deltaPrice(d, j))
      case "sql.join" =>
        h.op(kind, lineRows.toDouble) {
          h.collect(spark.sql(joinSql("cb_orders", "cb_lineitem")))
        }(checkJoin)
      case "sql.cold_fold" =>
        val c = 1L + Gen.below(seed, 520, i, customers)
        h.op(kind, n.toDouble) {
          h.collect(spark.sql(
            s"SELECT count(*), sum(o_totalprice) FROM cb_orders WHERE o_custkey = $c"))
        } { rows =>
          var cnt = 0L
          var sum = 0.0
          var j = 0
          while (j < n) { if (cust(j) == c) { cnt += 1; sum += price(j) }; j += 1 }
          val r = rows(0)
          if (r.getLong(0) == cnt && (cnt == 0 || Harness.near(r.getDouble(1), sum))) None
          else Some(s"custkey $c -> $r, want ($cnt, $sum)")
        }
      case "sql.range_scan" =>
        val maxKey = Gen.orderKey(seed, n - 1)
        val width = math.max(4L, maxKey / 100)
        val a = 1L + Gen.below(seed, 530, i, maxKey - width)
        val want = keysBetween(a, a + width)
        h.op(kind, want.toDouble) {
          h.collect(spark.sql(
            s"SELECT count(*) FROM cb_orders WHERE o_orderkey BETWEEN $a AND ${a + width}"))
        } { rows =>
          if (rows(0).getLong(0) == want) None
          else Some(s"range [$a, ${a + width}] -> ${rows(0).getLong(0)}, want $want")
        }
    }
  }

  /** Rows held on disk: the base, the current version, and lineitem. */
  def liveRows: Long = n + lineRows + (if (current ne base) n else 0)

  def probeSample(): Probes.Sample = {
    val m = math.min(lineOrders, 12000L).toInt
    val kv = (0 until m).flatMap { j =>
      (1 to lineCount(j)).map(l => ((Gen.orderKey(seed, j), l.toLong),
        (Gen.quantity(seed, j, l), Gen.extPrice(seed, j, l))))
    }
    Probes.of(kv.map(_._1).toArray, kv.map(_._2).toArray,
      new KeySerializer.ConcatTuple2Serializer[Long, Long](
        KeySerializer.LongSerializer, KeySerializer.LongSerializer))
  }
}
