package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipeline.Dedup

/** The dedup pipeline pass that traced `serve_bulk` runs add after their
  * loop (kept out of the end-to-end loop to fit the run-time budget): a
  * documents-shaped corpus with planted duplicate
  * families (each base document may get one-token-edit near-duplicates
  * or an exact copy) run through exact dedup, the MinHash signature
  * expression, MinHash-LSH pairs, `resolveClusters`, and
  * `minhashPairsIncremental` of a new batch (10% of the corpus: half
  * one-edit copies of corpus documents, half fresh). The only calls
  * into `pipeline/` and `functions/`. Oracles: Spark SQL references for
  * the exact-dedup count and the cluster count (untimed), and the planted families for the pair sets and clusters:
  * one-token edits of 100+-token documents keep 3-shingle Jaccard near
  * 0.9, which 16 bands of 4 rows miss with probability below 1e-6. */
final class CorpusDedup(h: Harness) {
  private implicit val spark: SparkSession = h.spark
  private val seed = h.o.seed
  private val bases = math.max(30, (400 * h.o.scale).toInt)
  private val vocab = 5000
  private val deltaIdBase = 100000000L

  val cycle: IndexedSeq[String] = Vector("pipeline.exact", "functions.minhash_sig",
    "pipeline.minhash_pairs", "pipeline.resolve", "pipeline.incremental")

  final case class Doc(id: Long, family: Long, tokens: Array[Long]) {
    def text: String = tokens.map(Gen.word).mkString(" ")
  }

  private def baseTokens(b: Long): Array[Long] = {
    val len = 100 + Gen.below(seed, 601, b, 40).toInt
    Array.tabulate(len)(t => Gen.tokenAt(seed, 600, b * 256 + t, vocab))
  }
  /** One token replaced by a different vocabulary word. */
  private def edited(ts: Array[Long], stream: Long, j: Long): Array[Long] = {
    val p = Gen.below(seed, stream, j, ts.length).toInt
    val w = Gen.tokenAt(seed, stream + 1, j, vocab)
    val c = ts.clone()
    c(p) = if (w == ts(p)) (w + 1) % vocab else w
    c
  }

  private val corpus: IndexedSeq[Doc] = {
    var next = bases.toLong
    (0 until bases).flatMap { b =>
      val base = Doc(b + 1L, b + 1L, baseTokens(b))
      val r = Gen.unit(seed, 602, b)
      val copies =
        if (r < 0.25) (0 until 1 + Gen.below(seed, 603, b, 2).toInt).map { c =>
          next += 1; Doc(next, base.family, edited(base.tokens, 604, b * 4L + c))
        }
        else if (r < 0.30) { next += 1; Seq(Doc(next, base.family, base.tokens)) }
        else Nil
      base +: copies
    }
  }
  private val delta: IndexedSeq[Doc] = (0 until corpus.size / 10).map { j =>
    if (j % 2 == 0) {
      val b = Gen.below(seed, 610, j, bases)
      Doc(deltaIdBase + j, b + 1, edited(baseTokens(b), 611, j))
    } else Doc(deltaIdBase + j, -(j + 1L), baseTokens(1000000L + j))
  }

  private val families: Map[Long, Seq[Long]] = corpus.groupBy(_.family)
    .map { case (f, ds) => f -> ds.map(_.id).sorted }
  private val wantPairs: Set[(Long, Long)] = families.values.flatMap { ids =>
    for (a <- ids; b <- ids if a < b) yield (a, b)
  }.toSet
  private val wantClusters: Map[Long, Long] = families.values.filter(_.size > 1)
    .flatMap(ids => ids.map(_ -> ids.min)).toMap
  private val wantCross: Set[(Long, Long)] = delta.filter(_.family > 0).flatMap { d =>
    families(d.family).map(a => (a, d.id))
  }.toSet

  private val schema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("family", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))
  private val corpusRows = corpus.map(d => Row(d.id, d.family, d.text))
  private val deltaRows = delta.map(d => Row(d.id, d.family, d.text))
  private var exactRef = -1L
  private var clusterRef = -1L
  private var corpusDf: DataFrame = _
  private var deltaDf: DataFrame = _
  private var foundPairs: DataFrame = _

  private def frame(rows: Seq[Row]): DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(rows, spark.sparkContext.defaultParallelism), schema)

  def prepare(): Unit = {
    // Spark SQL references, checked against the planted structure
    frame(corpusRows).createOrReplaceTempView("cd_ref")
    exactRef = spark.sql("SELECT count(DISTINCT text) FROM cd_ref").head().getLong(0)
    clusterRef = spark.sql("SELECT count(*) FROM (SELECT family FROM cd_ref " +
      "GROUP BY family HAVING count(*) > 1)").head().getLong(0)
    spark.catalog.dropTempView("cd_ref")
    require(clusterRef == wantClusters.values.toSet.size,
      s"SQL cluster reference $clusterRef disagrees with the planted families")
  }

  def setup(): Unit = {
    corpusDf = frame(corpusRows).select("doc_id", "text").cache()
    deltaDf = frame(deltaRows).select("doc_id", "text").cache()
    corpusDf.count(); deltaDf.count()
    foundPairs = pairFrame(wantPairs.toSeq)
  }

  def teardown(): Unit = {
    corpusDf.unpersist(blocking = true)
    deltaDf.unpersist(blocking = true)
    Dedup.releasePinned()
  }

  private def pairFrame(ps: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    ps.toDF("a", "b")
  }

  private def pairSet(rows: Array[Row]): Set[(Long, Long)] =
    rows.map(r => (r.getLong(0), r.getLong(1))).toSet

  private def diff(got: Set[(Long, Long)], want: Set[(Long, Long)]): Option[String] =
    if (got == want) None
    else Some(s"${got.size} pairs, want ${want.size}; missing ${(want -- got).take(3)}, " +
      s"extra ${(got -- want).take(3)}")

  def step(i: Long): Unit = {
    val kind = cycle(Math.floorMod(i, cycle.size.toLong).toInt)
    kind match {
      case "pipeline.exact" =>
        h.op(kind, 0) {
          h.collect(Dedup.exactDedup(corpusDf, "doc_id", "text").agg(count(lit(1))))
        } { rows =>
          if (rows(0).getLong(0) == exactRef) None
          else Some(s"${rows(0).getLong(0)} kept, want $exactRef")
        }
      case "functions.minhash_sig" =>
        h.op(kind, 0) {
          h.collect(corpusDf.select(size(Dedup.minhashSignature(col("text"))).as("s"))
            .agg(min("s"), max("s"), count(lit(1))))
        } { rows =>
          val r = rows(0)
          if (r.getInt(0) == 64 && r.getInt(1) == 64 && r.getLong(2) == corpus.size) None
          else Some(s"signatures $r")
        }
      case "pipeline.minhash_pairs" =>
        h.op(kind, corpus.size.toDouble) {
          val rows = h.collect(Dedup.minhashPairs(corpusDf, "doc_id", "text",
            shingleN = 3, bands = 16, rowsPerBand = 4, threshold = 0.5).select("a", "b"))
          Dedup.releasePinned()
          rows
        } { rows =>
          diff(pairSet(rows).map { case (a, b) => (math.min(a, b), math.max(a, b)) }, wantPairs)
        }
      case "pipeline.resolve" =>
        h.op(kind, 0) {
          val rows = h.collect(Dedup.resolveClusters(foundPairs).select("id", "keep_id"))
          Dedup.releasePinned()
          rows
        } { rows =>
          val got = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
          if (got == wantClusters && got.values.toSet.size == clusterRef) None
          else Some(s"${got.values.toSet.size} clusters over ${got.size} docs, " +
            s"want $clusterRef over ${wantClusters.size}")
        }
      case "pipeline.incremental" =>
        h.op(kind, delta.size.toDouble) {
          val rows = h.collect(Dedup.minhashPairsIncremental(corpusDf, deltaDf, "doc_id",
            "text", shingleN = 3, bands = 16, rowsPerBand = 4, threshold = 0.5).select("a", "b"))
          Dedup.releasePinned()
          rows
        } { rows => diff(pairSet(rows), wantCross) }
    }
  }

  /** Counts LSH candidates, untimed: pairs at threshold 0 are exactly
    * the bucket collisions the verifier sees. */
  def countCandidates(): Unit = {
    val c = Dedup.minhashPairs(corpusDf, "doc_id", "text", shingleN = 3, bands = 16,
      rowsPerBand = 4, threshold = 0.0).count()
    Dedup.releasePinned()
    h.counters("pipeline.candidate_pairs") = c.toDouble
    h.counters("pipeline.verified_pairs") = wantPairs.size.toDouble
  }
}
