package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generator. Every value is a pure function of
  * (seed, stream, index), so the executors that build a table and the
  * driver-side oracle that checks answers against it compute the same
  * rows without shipping them. Shapes follow TPC-H `orders`/`lineitem`
  * and the pipeline's `documents`. */
object Gen {
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def h(seed: Long, stream: Long, i: Long): Long =
    mix(mix(seed * 0x632BE59BD9B4E019L + stream) + i)

  /** Uniform in [0, n). */
  def below(seed: Long, stream: Long, i: Long, n: Long): Long =
    java.lang.Long.remainderUnsigned(h(seed, stream, i), n)

  def unit(seed: Long, stream: Long, i: Long): Double =
    (h(seed, stream, i) >>> 11) * (1.0 / (1L << 53))

  // ------------------------------------------------------------ orders

  /** Sparse ascending keys like TPC-H's: one of every four key values. */
  def orderKey(seed: Long, i: Long): Long = 1L + 4L * i + (h(seed, 1, i) & 3L)
  /** Index of `k`, or -1 when `k` is not an order key of this seed. */
  def orderIndex(seed: Long, k: Long, n: Long): Long = {
    val i = (k - 1) / 4
    if (k >= 1 && i < n && orderKey(seed, i) == k) i else -1L
  }
  def custKey(seed: Long, i: Long, customers: Long): Long = 1L + below(seed, 2, i, customers)
  def price(seed: Long, stream: Long, i: Long): Double =
    (100000L + below(seed, stream, i, 50000000L)) / 100.0
  def status(seed: Long, i: Long): String = "OFP".charAt(below(seed, 4, i, 3).toInt).toString
  def comment(seed: Long, stream: Long, i: Long): String =
    (0 until 2 + below(seed, stream, i, 4).toInt)
      .map(j => word(below(seed, stream + 1, i * 8 + j, 2000))).mkString(" ")

  val ordersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType, nullable = false),
    StructField("o_custkey", LongType, nullable = false),
    StructField("o_totalprice", DoubleType, nullable = false),
    StructField("o_orderstatus", StringType, nullable = false),
    StructField("o_comment", StringType, nullable = false)))

  def orderRow(seed: Long, i: Long, customers: Long): Row =
    Row(orderKey(seed, i), custKey(seed, i, customers), price(seed, 3, i),
      status(seed, i), comment(seed, 5, i))

  def ordersFrame(spark: SparkSession, seed: Long, n: Long, customers: Long): DataFrame = {
    val slices = spark.sparkContext.defaultParallelism * 2
    val rdd = spark.sparkContext.range(0L, n, 1L, slices)
      .map(i => orderRow(seed, i, customers))
    spark.createDataFrame(rdd, ordersSchema)
  }

  // ---------------------------------------------------------- lineitem

  def lines(seed: Long, order: Long): Int = 1 + below(seed, 10, order, 7).toInt
  def extPrice(seed: Long, order: Long, line: Int): Double =
    (90000L + below(seed, 11, order * 8 + line, 10000000L)) / 100.0
  def quantity(seed: Long, order: Long, line: Int): Double =
    (1L + below(seed, 12, order * 8 + line, 50L)).toDouble

  val lineitemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType, nullable = false),
    StructField("l_linenumber", LongType, nullable = false),
    StructField("l_quantity", DoubleType, nullable = false),
    StructField("l_extendedprice", DoubleType, nullable = false),
    StructField("l_returnflag", StringType, nullable = false)))

  /** Line items of the first `orders` orders (1 to 7 lines each). */
  def lineitemFrame(spark: SparkSession, seed: Long, orders: Long): DataFrame = {
    val slices = spark.sparkContext.defaultParallelism * 2
    val rdd = spark.sparkContext.range(0L, orders, 1L, slices).flatMap { j =>
      (1 to lines(seed, j)).iterator.map(l => Row(orderKey(seed, j), l.toLong,
        quantity(seed, j, l), extPrice(seed, j, l),
        "ARN".charAt(below(seed, 13, j * 8 + l, 3).toInt).toString))
    }
    spark.createDataFrame(rdd, lineitemSchema)
  }

  // --------------------------------------------------------- documents

  /** A fixed pseudo-word for vocabulary slot `w`. */
  def word(w: Long): String = {
    val x = mix(w * 0x2545F4914F6CDD1DL + 17)
    val len = 3 + (x & 7).toInt
    val sb = new StringBuilder
    var y = x >>> 3
    var j = 0
    while (j < len) { sb.append(('a' + (y % 26).toInt).toChar); y /= 26; j += 1 }
    sb.toString
  }

  /** Zipf-like skewed draw from a `vocab`-word vocabulary. */
  def tokenAt(seed: Long, stream: Long, i: Long, vocab: Int): Long = {
    val u = unit(seed, stream, i)
    (u * u * vocab).toLong
  }

  /** Zipf(s) sampler over ranks [0, n) by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val a = new Array[Double](n)
      var acc = 0.0
      var r = 0
      while (r < n) { acc += 1.0 / math.pow(r + 1, s); a(r) = acc; r += 1 }
      var j = 0
      while (j < n) { a(j) /= acc; j += 1 }
      a
    }
    def rank(u: Double): Int = {
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }
}
