package graft.sql

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSessionFixture

/**
 * Every key type a composite handle accepts works on every path that
 * takes the handle: for each column type `specFor` maps (integral,
 * temporal, string, uuid, decimal(p,0), decimal(p,s), double), a
 * composite of arity 2 (typed column second) and 3 (typed column
 * leading) goes through save → load → point read, and through a zip
 * join of the built handle with its reloaded copy. Both paths read
 * the per-component codec tags, so a key type without a tag fails here.
 */
class CompositeKeyTypesSpec extends AnyFunSuite {

  private lazy val spark = SparkSessionFixture.spark

  private val n = 60

  /** (type name, column type, value of row i, uuid column?) */
  private val keyTypes: Seq[(String, DataType, Int => Any, Boolean)] = Seq(
    ("long", LongType, i => i.toLong * 7, false),
    ("date", DateType, i => java.sql.Date.valueOf(
      java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong)), false),
    ("timestamp", TimestampType, i => new java.sql.Timestamp(
      1704067200000L + i * 3600000L), false),
    ("string", StringType, i => s"s$i", false),
    ("uuid", StringType, i => java.util.UUID.nameUUIDFromBytes(
      Array(i.toByte)).toString, true),
    ("decimal(12,0)", DecimalType(12, 0), i => new java.math.BigDecimal(i * 1000L), false),
    ("decimal(10,2)", DecimalType(10, 2), i => java.math.BigDecimal.valueOf(i * 125L, 2), false),
    ("double", DoubleType, i => i * 0.5 - 3.0, false))

  private def frame(dt: DataType, value: Int => Any): DataFrame = {
    val schema = StructType(Seq(StructField("k", dt, nullable = false),
      StructField("g", LongType, nullable = false),
      StructField("h", StringType, nullable = false),
      StructField("v", DoubleType)))
    val rows = (0 until n).map(i => Row(value(i), (i % 4).toLong, s"h${i % 3}", i * 1.5))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  private def pointFilter(r: Row, keyCols: Seq[String]): Column =
    keyCols.map(c => col(c) === lit(r.getAs[Any](c))).reduce(_ && _)

  private def sorted(rows: Array[Row]): Seq[String] = rows.map(_.toString).sorted.toSeq

  for ((name, dt, value, uuid) <- keyTypes; keyCols <- Seq(Seq("g", "k"), Seq("k", "g", "h")))
    test(s"$name key at arity ${keyCols.length}: save, load, point read, zip join") {
      implicit val s: org.apache.spark.sql.SparkSession = spark
      IndexedJoin.enable(spark)
      val df = frame(dt, value)
      val h = IndexedFrame.indexCompositeN(df, keyCols, numPartitions = 4,
        uuidCols = if (uuid) Set("k") else Set.empty)
      val path = java.nio.file.Files.createTempDirectory("graft_ck_types").toString
      IndexedFrame.save(h, path)
      val loaded = IndexedFrame.loadCompositeN(spark, path)
      assert(loaded.keyCols === keyCols && loaded.toDF.count() === n)

      val probe = df.collect()(17)
      val got = loaded.toDF.filter(pointFilter(probe, keyCols)).collect()
      assert(loaded.lastScanKind === "point")
      assert(sorted(got) === Seq(probe.toString))

      val joined = h.toDF.as("l").join(loaded.toDF.as("r"),
        keyCols.map(c => col(s"l.$c") === col(s"r.$c")).reduce(_ && _))
        .select(col("l.v"), col("r.v"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("IndexedZipJoin"), s"expected a zip join:\n$plan")
      assert(joined.count() === n)
      assert(joined.collect().forall(r => r.get(0) == r.get(1)))
      loaded.idx.unpersist(); h.idx.unpersist()
    }
}
