package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import Dedup.dotCols

/**
 * Approximate-nearest-neighbor search over an embedding column.
 *
 *  - [[bruteTopK]] / [[bruteAbove]]: exact cosine against every row —
 *    the correctness baseline (one scan, no shuffle until the final
 *    top-k, which is `TakeOrderedAndProject`).
 *  - [[lshTopK]]: sign-random-projection bucketing; the query probes
 *    only its own bucket plus all buckets within hamming distance 1
 *    (multiprobe), turning a full scan into a >100× partition-pruned
 *    probe at scale.
 *
 * ==Choosing knobs at corpus scale==
 *
 * The defaults (`nlist = 16`, `nprobe = 4`, `sampleSize = 512`) are
 * tuned for the sf0.01-sf0.1 fixtures; at a 100 TB embedding corpus:
 *
 *  - '''nlist''' (IVF inverted lists): each probe reads ~n/nlist rows
 *    per probed list, so per-query work ≈ nprobe·n/nlist. The
 *    standard setting is nlist ≈ √n (10^9 vectors → nlist ~ 32k),
 *    which keeps both the centroid table (nlist × dim doubles,
 *    driver/broadcast-resident — 32k × 1k dims ≈ 256 MB, still fine)
 *    and the per-list scan bounded. The saved-index layout is
 *    list-partitioned parquet, so nlist also sets the partition
 *    count: keep lists in the 100 MB-1 GB file range.
 *  - '''nprobe''' trades recall for reads linearly (nprobe/nlist of
 *    the corpus per query); 1-5% of nlist is the usual recall knee.
 *  - '''sampleSize''' (k-means training sample): needs ≥ ~40×nlist
 *    points for stable centroids; it is a driver-side collect, so cap
 *    it in the 10^5-10^6 range and train on a uniform sample, never
 *    the corpus.
 *  - '''LSH planes''' (16-bit sign-random-projection here): buckets ≈
 *    2^planes; size planes so n/2^planes rows per bucket keeps the
 *    probed set in task-sized chunks, and use multiprobe (hamming ≤ 1
 *    neighbors) rather than more planes when recall dips.
 */
object Similarity {

  /** Normalized query literal: dividing by the query norm up front
    * turns per-row cosine into dot/row-norm. */
  private def queryLit(q: Array[Double]): Column = {
    val n = math.sqrt(q.map(x => x * x).sum)
    typedLit(q.map(_ / n).toSeq)
  }

  /** Cosine of a vector column against a pre-normalized query: one dot
    * and one row-norm, both fused native kernels over the raw (float)
    * column — the single scoring definition shared by the brute, LSH,
    * and IVF paths. */
  private[graft] def cosineToQuery(vCol: Column, query: Array[Double]): Column =
    dotCols(vCol, queryLit(query)) / sqrt(dotCols(vCol, vCol))

  private def cosTo(df: DataFrame, idCol: String, vecCol: String,
      query: Array[Double]): DataFrame =
    df.select(col(idCol), col(vecCol).as("__v"))
      .select(col(idCol), cosineToQuery(col("__v"), query).as("cos"))

  /** Exact top-k by cosine (ties broken by id for determinism).
    * Unrounded: exact-replication oracles compare doubles bit-for-bit,
    * and rounding is the only cross-engine hazard. */
  def bruteTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Array[Double], k: Int): DataFrame =
    cosTo(df, idCol, vecCol, query)
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("cos"))

  /** All rows with cosine above a threshold (order-free, oracle-friendly). */
  def bruteAbove(df: DataFrame, idCol: String, vecCol: String,
      query: Array[Double], threshold: Double): DataFrame =
    cosTo(df, idCol, vecCol, query)
      .filter(col("cos") > threshold)
      .select(col(idCol), round(col("cos"), 2).as("cos"))

  /**
   * Bucketed approximate top-k with L independent SRP hash tables
   * (standard multi-table LSH): a row is a candidate if ANY table puts
   * it in the query's bucket or a hamming-1 neighbor (multiprobe). At
   * scale each table is a pre-bucketed join key, so the query touches
   * a small fraction of partitions instead of scanning everything.
   * Recall is tested against [[bruteTopK]] in the spec.
   */
  def lshTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Array[Double], k: Int, dim: Int, bits: Int = 6,
      tables: Int = 6): DataFrame = {
    val v = df.select(col(idCol), col(vecCol).as("__v"))
    // one-pass tagged row keys; the query's tagged probe set (own bucket
    // + hamming-1 neighbors per table) is a literal array, so candidacy
    // is a single arrays_overlap
    val probes = (0 until tables).flatMap { t =>
      val qKey = signKeyTable(query, dim, bits, t)
      (qKey +: (0 until bits).map(j => qKey ^ (1L << j)))
        .map(_ | (t.toLong << 32))
    }
    val isCandidate = arrays_overlap(
      Dedup.srpKeysTagged(col("__v"), dim, bits, tables), typedLit(probes))
    v.filter(isCandidate)
      .withColumn("cos", cosineToQuery(col("__v"), query))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("cos"))
  }

  /**
   * IVF (inverted-file) approximate top-k: a coarse k-means quantizer
   * (trained driver-side on a deterministic sample — at cluster scale,
   * fit on `df.sample`) assigns every row to its nearest centroid; the
   * query scans only the `nprobe` nearest inverted lists. Centroid
   * assignment is a pure Column expression (squared distance via the
   * fused dot kernel), so at scale the assignment can be written once
   * as a partition/bucket column and reused by every query.
   */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Array[Double], k: Int, nlist: Int = 16, nprobe: Int = 4,
      sampleSize: Int = 512, iters: Int = 5): DataFrame = {
    // --- train coarse quantizer on a deterministic sample (vector
    // column cast to array<double> up front so float AND double
    // embedding columns collect the same way)
    val sample = df.select(col(idCol), col(vecCol)).orderBy(col(idCol))
      .limit(sampleSize)
      .select(transform(col(vecCol), x => x.cast("double")))
      .collect().map(_.getSeq[Double](0).toArray)
    val centroids = kmeans(sample, nlist, iters)
    // --- assignment: one native pass computes argmin ||v - c||^2
    // (= argmin (c.c - 2 v.c); the v.v term is row-constant)
    val v = df.select(col(idCol), col(vecCol).as("__v"))
    val staged = v.withColumn("__list",
      graft.functions.NearestCentroid.nearestCentroid(col("__v"), centroids))
    // --- probe: the query's nprobe nearest centroids
    val qd = centroids.map(c => c.zip(query).map { case (a, b) =>
      (a - b) * (a - b) }.sum)
    val probeLists = qd.zipWithIndex.sortBy(_._1).take(nprobe)
      .map { case (_, i) => (i + 1).toLong } // array_position is 1-based
    staged.filter(col("__list").isin(probeLists: _*))
      .withColumn("cos", cosineToQuery(col("__v"), query))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("cos"))
  }

  /**
   * BATCH ANN join: the k nearest corpus rows by cosine for EVERY
   * query row at once — the retrieval / decontamination shape (each
   * eval prompt or blocklist entry gets its corpus neighbors in one
   * job instead of one driver round-trip per query). One corpus
   * assignment pass against a coarse quantizer trained exactly like
   * [[ivfTopK]]; each query ranks the centroid table (a literal — one
   * narrow expression, no join) and explodes into its `nprobe` list
   * ids; the equi-join on list id bounds candidate pairs at
   * |Q|·(nprobe/nlist)·|C| — the standard IVF batch bound, never
   * all-pairs — and a per-query window takes the top k. Both sides
   * cast to double up front so the scores replay bit-for-bit in a
   * CAST-to-DOUBLE[] SQL oracle. `nprobe = nlist` is exact per query.
   * Returns (queryId, corpusId, cos); the two id column names must
   * differ.
   */
  def ivfTopKJoin(corpus: DataFrame, corpusId: String,
      queries: DataFrame, queryId: String, vecCol: String, k: Int,
      nlist: Int = 16, nprobe: Int = 4, sampleSize: Int = 512,
      iters: Int = 5): DataFrame = {
    require(queryId != corpusId,
      s"ivfTopKJoin needs distinct id column names (both '$queryId')")
    import org.apache.spark.sql.expressions.Window
    // null embeddings drop from BOTH corpus sides: a null among the
    // first sampleSize rows was a driver NPE in the training collect,
    // and a null candidate vector scores as null cosine downstream
    // (the query side already filters — keep the two in lockstep)
    val sample = corpus.select(col(corpusId), col(vecCol))
      .where(col(vecCol).isNotNull)
      .orderBy(col(corpusId)).limit(sampleSize)
      .select(transform(col(vecCol), x => x.cast("double")))
      .collect().map(_.getSeq[Double](0).toArray)
    val centroids = kmeans(sample, nlist, iters)
    val cv = corpus.where(col(vecCol).isNotNull)
      .select(col(corpusId).as("__cid"),
        transform(col(vecCol), x => x.cast("double")).as("__cv"))
      .withColumn("__list",
        graft.functions.NearestCentroid.nearestCentroid(col("__cv"), centroids))
    // per-query probe lists: rank ||q - c||^2 over the centroid
    // literal (the q·q term is row-constant, so c·c - 2 q·c ranks
    // identically), keep the nprobe best — array_sort on (dist, list)
    // structs is deterministic on ties
    val probeArr = array(centroids.zipWithIndex.map { case (c, i) =>
      val cc = c.map(x => x * x).sum
      struct(
        (lit(cc) - lit(2.0) * dotCols(col("__qv"), typedLit(c.toSeq))).as("d"),
        lit((i + 1).toLong).as("l"))
    }: _*)
    val qv = queries.where(col(vecCol).isNotNull)
      .select(col(queryId).as("__qid"),
        transform(col(vecCol), x => x.cast("double")).as("__qv"))
      .withColumn("__probe",
        slice(array_sort(probeArr), 1, math.min(nprobe, nlist)))
      .select(col("__qid"), col("__qv"),
        explode(col("__probe").getField("l")).as("__list"))
    val w = Window.partitionBy(col("__qid"))
      .orderBy(col("cos").desc, col("__cid"))
    qv.join(cv, "__list")
      .withColumn("cos", dotCols(col("__qv"), col("__cv")) /
        (sqrt(dotCols(col("__qv"), col("__qv"))) *
          sqrt(dotCols(col("__cv"), col("__cv")))))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .select(col("__qid").as(queryId), col("__cid").as(corpusId),
        col("cos"))
  }

  /**
   * BUILD a persistent IVF index: the coarse quantizer trains exactly
   * like [[ivfTopK]] (deterministic sample, same k-means), rows are
   * assigned to their nearest-centroid list, and the assignments land
   * as parquet PARTITIONED BY list id, with the centroids alongside.
   * At 100 TB this is the production shape: build once, then every
   * query's file listing is pruned to its nprobe list directories —
   * the corpus is never re-scanned, re-sampled, or re-clustered per
   * query.
   */
  def ivfBuild(df: DataFrame, idCol: String, vecCol: String, path: String,
      nlist: Int = 16, sampleSize: Int = 512, iters: Int = 5): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    val sample = df.select(col(idCol), col(vecCol)).orderBy(col(idCol))
      .limit(sampleSize)
      .select(transform(col(vecCol), x => x.cast("double")))
      .collect().map(_.getSeq[Double](0).toArray)
    val centroids = kmeans(sample, nlist, iters)
    df.select(col(idCol), col(vecCol).as("__v"))
      .withColumn("__list",
        graft.functions.NearestCentroid.nearestCentroid(col("__v"), centroids))
      .write.mode("overwrite").partitionBy("__list").parquet(s"$path/lists")
    centroids.zipWithIndex
      .map { case (c, i) => ((i + 1).toLong, c.toSeq) }.toSeq
      .toDF("list", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** APPEND new vectors to a saved IVF index without retraining: the
    * saved centroids assign the delta rows to their lists and the
    * assignments append into the existing list partitions — the
    * corpus-growth path (pairs with Dedup.minhashPairsIncremental):
    * the existing 100 TB of assignments is never read, re-clustered,
    * or rewritten; only the delta shuffles. Queries on the grown
    * index see old + new rows through the same pruned probe. (Like
    * every IVF without retraining, heavy drift in the delta's
    * distribution degrades list balance — retrain when it does.) */
  def ivfAppend(spark: org.apache.spark.sql.SparkSession, path: String,
      df: DataFrame, idCol: String, vecCol: String): Unit = {
    val centroids = spark.read.parquet(s"$path/centroids")
      .orderBy(col("list")).collect()
      .map(r => r.getSeq[Double](r.fieldIndex("centroid")).toArray)
    df.select(col(idCol), col(vecCol).as("__v"))
      .withColumn("__list",
        graft.functions.NearestCentroid.nearestCentroid(col("__v"), centroids))
      .write.mode("append").partitionBy("__list").parquet(s"$path/lists")
  }

  /** SEARCH a saved IVF index: load centroids (driver-side, nlist
    * rows), pick the query's nprobe nearest lists, and read ONLY those
    * list partitions (parquet partition pruning — the plan's
    * PartitionFilters carry the list predicate). Exact cosine + top-k
    * over the probed rows, bit-identical to the in-memory [[ivfTopK]]
    * on the same build parameters. */
  def ivfSearchSaved(spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String, query: Array[Double], k: Int,
      nprobe: Int = 4): DataFrame = {
    val centroids = spark.read.parquet(s"$path/centroids")
      .orderBy(col("list")).collect()
      .map(r => r.getSeq[Double](r.fieldIndex("centroid")).toArray)
    val qd = centroids.map(c => c.zip(query).map { case (a, b) =>
      (a - b) * (a - b) }.sum)
    val probeLists = qd.zipWithIndex.sortBy(_._1).take(nprobe)
      .map { case (_, i) => (i + 1).toLong }
    spark.read.parquet(s"$path/lists")
      .filter(col("__list").isin(probeLists: _*))
      .withColumn("cos", cosineToQuery(col("__v"), query))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("cos"))
  }

  /** Unit-normalized double vectors staged as (id, __vn) — the norm is
    * computed once per row; shared by the PQ and IVF-PQ paths so the
    * two stay bit-identical with each other and the SQL oracles. */
  private def normalizedVectors(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol), transform(col(vecCol), x => x.cast("double")).as("__raw"))
      .select(col(idCol), col("__raw"),
        sqrt(dotCols(col("__raw"), col("__raw"))).as("__n"))
      .select(col(idCol), transform(col("__raw"), x => x / col("__n")).as("__vn"))

  /** Deterministic normalized sample (first `sampleSize` ids). */
  private def normalizedSample(vn: DataFrame, idCol: String,
      sampleSize: Int): Array[Array[Double]] =
    vn.orderBy(col(idCol)).limit(sampleSize)
      .select(col("__vn")).collect().map(_.getSeq[Double](0).toArray)

  /** Per-subspace PQ codebooks from the sample. */
  private[graft] def pqCodebooks(sample: Array[Array[Double]], m: Int, sub: Int,
      ks: Int, iters: Int): Array[Array[Array[Double]]] = {
    require(sample.length >= ks,
      s"PQ needs at least ks=$ks sample vectors, got ${sample.length}")
    Array.tabulate(m)(mm =>
      kmeans(sample.map(_.slice(mm * sub, mm * sub + sub)), ks, iters))
  }

  /** Flattened m*ks ADC lookup table for a normalized query. */
  private[graft] def pqLut(qn: Array[Double], books: Array[Array[Array[Double]]],
      m: Int, sub: Int, ks: Int): Seq[Double] =
    (0 until m).flatMap { mm =>
      val qs = qn.slice(mm * sub, mm * sub + sub)
      (0 until ks).map(c => qs.zip(books(mm)(c)).map { case (a, b) => a * b }.sum)
    }

  /** m single-pass argmin code expressions over the vector subslices. */
  private[graft] def pqCodesCol(books: Array[Array[Array[Double]]], m: Int, sub: Int,
      vecCol: String = "__vn"): Column =
    array((0 until m).map(mm =>
      graft.functions.NearestCentroid.nearestCentroid(
        slice(col(vecCol), mm * sub + 1, sub), books(mm))): _*)

  /** Driver-side first-index argmin over cc − 2·dot — the SAME
    * arithmetic and fold order as [[graft.functions.NearestCentroid]],
    * so sample-side assignments match the row-side expression
    * bit-for-bit. */
  private[graft] def assignIdx(p: Array[Double], cents: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue; var c = 0
    while (c < cents.length) {
      val cent = cents(c)
      var cc = 0.0; var dot = 0.0; var i = 0
      while (i < cent.length) { cc += cent(i) * cent(i); dot += p(i) * cent(i); i += 1 }
      val d = cc - 2.0 * dot
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  private[graft] def unitQuery(query: Array[Double]): Array[Double] = {
    val n = math.sqrt(query.map(x => x * x).sum)
    query.map(_ / n)
  }

  /** ADC score + shortlist + exact re-rank, shared by PQ and IVF-PQ.
    * `base` adds a per-row term to the ADC score (IVF-PQ's qn·c_list,
    * the constant part of qn·(c_list + residual)). */
  private def adcRerank(candidates: DataFrame, idCol: String, lut: Seq[Double],
      qn: Array[Double], ks: Int, k: Int, shortlist: Int,
      base: Option[Column] = None): DataFrame = {
    val lutLit = typedLit(lut)
    val codesSum = aggregate(
      transform(col("__codes"), (c, i) => element_at(lutLit, (i * ks + c).cast("int"))),
      lit(0.0d), (acc, x) => acc + x)
    candidates.withColumn("__adc", base.map(_ + codesSum).getOrElse(codesSum))
      .orderBy(col("__adc").desc, col(idCol)).limit(shortlist * k)
      .withColumn("cos", dotCols(col("__vn"), typedLit(qn.toSeq)))
      .orderBy(col("cos").desc, col(idCol)).limit(k)
      .select(col(idCol), col("cos"))
  }

  /**
   * Product-quantization (PQ) approximate top-k — the memory-bandwidth
   * scale path for ANN (Jégou et al., "Product Quantization for
   * Nearest Neighbor Search", TPAMI 2011): unit-normalize, split the
   * dim-d vector into `m` subspaces, learn a tiny per-subspace
   * codebook (`ks` centroids, deterministic sample + Lloyd's), and
   * store each row as m byte-sized codes. A query then scans CODES
   * (m bytes/row instead of 4·d — 32× less data moved at 100 TB),
   * scoring each row by ADC (asymmetric distance computation): the
   * per-subspace dot products of the query against every centroid go
   * into an m×ks lookup table, so a row's approximate cosine is m
   * table lookups + adds — a pure codegen'd Column fold, no UDF.
   * The ADC shortlist (`shortlist`·k rows) is then re-ranked exactly
   * against the raw vectors, so the output quality is set by recall of
   * the shortlist, not by code granularity.
   *
   * Everything is deterministic (sample = first `sampleSize` ids,
   * deterministic Lloyd's, first-index argmin ties), so a SQL oracle
   * reproduces codebooks, codes, ADC scores, and the final ranking
   * bit-for-bit.
   */
  def pqTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Array[Double], k: Int, dim: Int, m: Int = 8, ks: Int = 16,
      sampleSize: Int = 512, iters: Int = 3, shortlist: Int = 8): DataFrame = {
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val sub = dim / m
    val vn = normalizedVectors(df, idCol, vecCol)
    val books = pqCodebooks(normalizedSample(vn, idCol, sampleSize), m, sub, ks, iters)
    val qn = unitQuery(query)
    adcRerank(vn.withColumn("__codes", pqCodesCol(books, m, sub)),
      idCol, pqLut(qn, books, m, sub, ks), qn, ks, k, shortlist)
  }

  /**
   * IVF-PQ: the FAISS-style production ANN layout — a coarse IVF
   * quantizer prunes the search to `nprobe` of `nlist` inverted lists,
   * and within the probed lists rows score by PQ ADC over m one-byte
   * codes before an exact re-rank. Codes are RESIDUAL-encoded
   * (Jégou et al. §IV: quantize v − c_list, not v): within a cell the
   * residuals cluster near the origin, so the ks codes spend their
   * resolution on within-cell displacement instead of absolute
   * position — recall at the same code budget rises from ~0.75
   * (flat) to ≳0.9. The ADC score is qn·c_list (a per-list constant)
   * plus the residual LUT fold. At 100 TB: the list assignment is a
   * write-once partition column, codes are a stored 8-byte column, so
   * a query reads `nprobe/nlist` of the codes and none of the raw
   * vectors until the shortlist. Fully deterministic — both
   * quantizers, the residual chain, and every score replay in the SQL
   * oracle.
   */
  def ivfPqTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Array[Double], k: Int, dim: Int, nlist: Int = 16,
      nprobe: Int = 6, m: Int = 8, ks: Int = 16, sampleSize: Int = 512,
      coarseIters: Int = 5, pqIters: Int = 3, shortlist: Int = 16): DataFrame = {
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val sub = dim / m
    val vn = normalizedVectors(df, idCol, vecCol)
    val sample = normalizedSample(vn, idCol, sampleSize)
    require(sample.length >= nlist,
      s"IVF needs at least nlist=$nlist sample vectors, got ${sample.length}")
    // both quantizers train on the SAME normalized sample; the PQ books
    // learn the sample's RESIDUALS against the trained coarse centroids
    val coarse = kmeans(sample, nlist, coarseIters)
    val rsample = sample.map { p =>
      val cent = coarse(assignIdx(p, coarse))
      Array.tabulate(p.length)(i => p(i) - cent(i))
    }
    val books = pqCodebooks(rsample, m, sub, ks, pqIters)
    val qn = unitQuery(query)
    // probe list: the query's nprobe nearest coarse centroids
    val qd = coarse.map(c => c.zip(qn).map { case (a, b) => (a - b) * (a - b) }.sum)
    val probeLists = qd.zipWithIndex.sortBy(_._1).take(nprobe)
      .map { case (_, i) => (i + 1).toLong }
    val coarseLit = typedLit(coarse.map(_.toSeq).toSeq)
    // per-list additive ADC term: qn·vn ≈ qn·c_list + qn·residual̂
    val qcLit = typedLit(coarse.map(c =>
      c.zip(qn).map { case (a, b) => a * b }.sum).toSeq)
    val staged = vn
      .withColumn("__list", graft.functions.NearestCentroid.nearestCentroid(col("__vn"), coarse))
      .withColumn("__rv", zip_with(col("__vn"),
        element_at(coarseLit, col("__list").cast("int")), (a, b) => a - b))
      .withColumn("__codes", pqCodesCol(books, m, sub, "__rv"))
    adcRerank(staged.filter(col("__list").isin(probeLists: _*)),
      idCol, pqLut(qn, books, m, sub, ks), qn, ks, k, shortlist,
      base = Some(element_at(qcLit, col("__list").cast("int"))))
  }

  /** Tiny deterministic Lloyd's k-means (driver-side, sample-sized).
    * Shared with [[Dedup.semanticPairs]] so the semantic-dedup clusters
    * replay the same arithmetic as the IVF coarse quantizer. */
  private[graft] def kmeans(points: Array[Array[Double]], kk: Int, iters: Int): Array[Array[Double]] = {
    val dim = points.head.length
    var cents = points.take(kk).map(_.clone) // deterministic init
    for (_ <- 0 until iters) {
      val sums = Array.fill(kk)(new Array[Double](dim))
      val counts = new Array[Int](kk)
      points.foreach { p =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < kk) {
          var d = 0.0; var i = 0
          while (i < dim) { val t = p(i) - cents(c)(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += p(i); i += 1 }
      }
      cents = Array.tabulate(kk)(c =>
        if (counts(c) == 0) cents(c)
        else sums(c).map(_ / counts(c)))
    }
    cents
  }

  /** Driver-side SRP key of a query vector (same planes as the row-side
    * [[Dedup.srpKeyTable]]). */
  private def signKeyTable(q: Array[Double], dim: Int, bits: Int, table: Int): Long = {
    val planes = Dedup.planesForTable(dim, bits, table)
    planes.zipWithIndex.foldLeft(0L) { case (acc, (plane, j)) =>
      val d = q.zip(plane).map { case (x, p) => x * p }.sum
      if (d > 0) acc | (1L << j) else acc
    }
  }
}
