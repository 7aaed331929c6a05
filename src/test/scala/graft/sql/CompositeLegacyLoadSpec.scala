package graft.sql

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.{IndexedRDD, IndexedRDDIO, SparkSessionFixture}
import graft.keys.KeySerializer

/**
 * Saves written by the former two-column composite handle — partitions
 * keyed by `(a, b)` tuples through the pair serializer, a partitioner
 * that routes tuples, and a seven-field `_frame` tagged "composite" —
 * still load, through [[IndexedFrame.loadComposite]] and as the base of
 * a graft catalog table, and keep answering point, leading-range and
 * point × range queries. A save of the loaded handle (or a table
 * compaction) writes the current layout.
 */
class CompositeLegacyLoadSpec extends AnyFunSuite {

  private lazy val spark = SparkSessionFixture.spark
  import spark.implicits._

  private lazy val df: DataFrame =
    (for (a <- 1L to 20L; b <- 1L to 15L) yield (a, b, a * 100.0 + b, s"n${(a + b) % 7}"))
      .toDF("a", "b", "v", "name")

  private def fsOf(path: String): FileSystem =
    FileSystem.get(new Path(path).toUri, spark.sparkContext.hadoopConfiguration)

  /** Write `df` in the former pair layout under `path`: hash-partitioned
    * hash-trie partitions, or range-partitioned radix partitions. The
    * `_indexes` manifest lists a secondary index on `name` and zone maps
    * on `v`, as such a save carried them. */
  private def writeLegacy(path: String, range: Boolean): Unit = {
    implicit val ser: KeySerializer[(Long, Long)] =
      new KeySerializer.ConcatTuple2Serializer(KeySerializer.LongSerializer,
        KeySerializer.LongSerializer)
    val raw = df.queryExecution.toRdd.map(r =>
      ((r.getLong(0), r.getLong(1)), r.copy()))
    val idx =
      if (range) {
        implicit val ord: Ordering[(Long, Long)] = Ordering.Tuple2(Ordering.Long, Ordering.Long)
        IndexedRDD.rangePartitioned(raw, 4)
      } else IndexedRDD(raw.partitionBy(new org.apache.spark.HashPartitioner(4)))
    IndexedRDDIO.save(idx, path)
    val fs = fsOf(path)
    val out = new java.io.ObjectOutputStream(fs.create(new Path(path, "_frame"), true))
    try {
      out.writeObject("a"); out.writeBoolean(range)
      out.writeObject("composite"); out.writeObject(df.schema.json)
      out.writeObject("b"); out.writeObject("long"); out.writeObject("long")
    } finally out.close()
    val ix = new java.io.ObjectOutputStream(fs.create(new Path(path, "_indexes"), true))
    try {
      ix.writeInt(1)
      ix.writeObject("name"); ix.writeBoolean(false); ix.writeObject("sec_0")
      ix.writeObject(Set("v")); ix.writeObject(Map.empty[String, Array[IndexedFrame.Zone]])
    } finally ix.close()
  }

  private def frameTag(path: String): String = {
    val in = new java.io.ObjectInputStream(fsOf(path).open(new Path(path, "_frame")))
    try { in.readObject(); in.readBoolean(); in.readObject().asInstanceOf[String] }
    finally in.close()
  }

  private def rows(d: DataFrame): Seq[String] =
    d.select("a", "b", "v", "name").collect().map(_.toString).sorted.toSeq

  /** Point, leading-range and point × range reads against plain Spark. */
  private def checkReads(got: DataFrame, want: DataFrame): Unit =
    Seq(col("a") === 7L && col("b") === 3L,
      col("a").between(4L, 6L),
      col("a") === 11L && col("b") > 9L,
      col("name") === "n3").foreach { p =>
      assert(rows(got.filter(p)) === rows(want.filter(p)), p.toString)
    }

  private def freshDir(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_legacy_$name").toString

  for (range <- Seq(false, true))
    test(s"legacy ${if (range) "range" else "hash"}-partitioned pair save loads, " +
        "re-keys once, and re-saves under the current tag") {
      implicit val s: org.apache.spark.sql.SparkSession = spark
      val path = freshDir("io")
      writeLegacy(path, range)
      val h = IndexedFrame.loadComposite(spark, path)
      assert(h.keyCols === Seq("a", "b") && h.ordered === range)
      // a fresh partitioner of the same kind and partition count
      assert(h.idx.partitions.length === 4)
      assert(h.idx.partitioner.get.isInstanceOf[org.apache.spark.RangePartitioner[_, _]] === range)
      // the manifest's secondary and zone maps rebuilt from the rows
      assert(h.hasSecondary("name") && h.zoneSnapshot._1 === Set("v"))
      checkReads(h.toDF, df)
      if (range) {
        h.toDF.filter(col("a").between(4L, 6L)).collect()
        assert(h.lastScanKind === "range")
      }

      val src = Seq((7L, 3L, -1.0, "m"), (99L, 1L, 5.0, "new")).toDF("a", "b", "v", "name")
      val merged = h.mergeFrame(src, Seq("a", "b"),
        updateSet = Map("v" -> col("s.v")), insertAll = true)
      val want = df.filter(!(col("a") === 7L && col("b") === 3L))
        .union(Seq((7L, 3L, -1.0, "n3"), (99L, 1L, 5.0, "new")).toDF("a", "b", "v", "name"))
      val path2 = freshDir("io2")
      IndexedFrame.save(merged, path2)
      assert(frameTag(path2) === "compositeN")
      val reloaded = IndexedFrame.loadComposite(spark, path2)
      assert(rows(reloaded.toDF) === rows(want))
      checkReads(reloaded.toDF, want)
      Seq(h, merged, reloaded).foreach(_.idx.unpersist())
    }

  test("a graft table whose base is a legacy pair save opens, merges, and compacts") {
    val path = freshDir("table")
    spark.sql("DROP TABLE IF EXISTS legacy_pair_t")
    df.createOrReplaceTempView("legacy_pair_src")
    spark.sql(s"""CREATE TABLE legacy_pair_t USING graft
      |OPTIONS (key 'a,b', partitions '4') LOCATION '$path'
      |AS SELECT * FROM legacy_pair_src""".stripMargin)
    // swap the base save for the former pair layout of the same rows
    val fs = fsOf(path)
    fs.listStatus(new Path(path)).map(_.getPath)
      .filter(p => p.getName.startsWith("part-") ||
        Set("_frame", "_partitioner", "_count", "_indexes")(p.getName))
      .foreach(fs.delete(_, true))
    writeLegacy(path, range = true)
    assert(frameTag(path) === "composite")

    val s2 = spark.newSession()
    checkReads(s2.table("legacy_pair_t"), df)
    s2.sql("""CREATE OR REPLACE TEMP VIEW legacy_pair_msrc AS
      |SELECT * FROM VALUES (7L, 3L, -1.0D), (99L, 1L, 5.0D) AS m(sa, sb, sv)""".stripMargin)
    s2.sql(
      """MERGE INTO legacy_pair_t t USING legacy_pair_msrc s
        |ON t.a = s.sa AND t.b = s.sb
        |WHEN MATCHED THEN UPDATE SET v = s.sv
        |WHEN NOT MATCHED THEN INSERT (a, b, v, name) VALUES (s.sa, s.sb, s.sv, 'new')
        |""".stripMargin)
    val want = df.filter(!(col("a") === 7L && col("b") === 3L))
      .union(Seq((7L, 3L, -1.0, "n3"), (99L, 1L, 5.0, "new")).toDF("a", "b", "v", "name"))
    checkReads(s2.table("legacy_pair_t"), want)
    // compaction rewrites the base in the current layout
    s2.sql("OPTIMIZE legacy_pair_t")
    assert(frameTag(path) === "compositeN")
    val s3 = spark.newSession()
    assert(rows(s3.table("legacy_pair_t")) === rows(want))
    checkReads(s3.table("legacy_pair_t"), want)
    spark.sql("DROP TABLE IF EXISTS legacy_pair_t")
  }
}
