package graft.sql

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * DURABLE VECTOR INDEX — `CREATE INDEX e ON t USING IVF (embedding)`
 * (raw vectors in the lists) or `USING IVFPQ (embedding)` (residual
 * product-quantization codes — Jégou et al. TPAMI 2011) on a graft
 * catalog table: the persistent IVF layout
 * ([[graft.pipeline.Similarity.ivfBuild]]'s shape) promoted into the
 * catalog as a first-class index type beside HASH/BTREE/ZONEMAP.
 *
 * Layout, beside the table's delta log at `<table>/_tivf_<name>/`:
 *  - `centroids/` — the coarse quantizer (nlist rows; trained ONCE at
 *    CREATE on a deterministic sample, exactly like the library build;
 *    ivfpq trains in normalized space)
 *  - `lists/` — parquet PARTITIONED BY `__list`: (key columns, `__v`
 *    vector, `__ver` commit version) for ivf; (key columns, `__codes`
 *    m small ints, `__ver`) for ivfpq — NO raw vectors, ~30× fewer
 *    bytes per probed row at d=64
 *  - `books/` — ivfpq only: the m per-subspace residual codebooks
 *    (`OPTIONS (nlist 'N', m 'M', ks 'K')` at CREATE)
 *  - `_meta` — (kind, vector column, nlist, build version, m, ks)
 *
 * Maintenance is DELTA-COST and retrain-free: every DML commit's
 * upserts assign against the SAVED centroids and APPEND into the list
 * partitions (the existing entries are never read or rewritten — the
 * `ann_ivf_appended` growth path, now automatic). Deletes append
 * nothing: liveness is resolved at probe time.
 *
 * Probe (the `graft_ann` TVF): read ONLY the query's `nprobe` nearest
 * list partitions (parquet partition pruning), take each key's
 * NEWEST entry (`__ver` max — an updated vector supersedes its old
 * assignment), drop keys no longer in the table (broadcast left-semi
 * against the current snapshot — handles DELETE and TRUNCATE), then
 * score. ivf scores survivors by exact cosine directly; ivfpq scores
 * them by ADC (per-list constant + m LUT lookups, a codegen'd Column
 * fold over the codes) and re-ranks the 16·k shortlist by exact
 * cosine against the LIVE primary via a broadcast-sized key join.
 * With `nprobe = nlist` the ivf result is EXACT brute-force top-k
 * over the live table (the oracle lane's configuration) and the
 * ivfpq result is deterministic ADC-shortlist + exact re-rank (its
 * oracle replays the codebooks and scores bit-for-bit); smaller
 * `nprobe` trades recall for reading `nprobe/nlist` of the corpus,
 * and an update that moved a key's vector across lists is visible
 * exactly when its new list is probed.
 *
 * Scale shape at 100 TB: the corpus is assigned once; every query
 * reads `nprobe` directories; every commit appends its delta. The one
 * O(corpus) op is CREATE itself (unavoidable — it IS the assignment).
 */
private[sql] object GraftVectorIndex {

  def dir(path: String, name: String): String = s"$path/_tivf_$name"

  private def fsOf(sp: SparkSession, path: String) = {
    val p = new Path(path)
    (p.getFileSystem(sp.sparkContext.hadoopConfiguration), p)
  }

  /** `kind` ∈ ivf (raw vectors in the lists — exact at nprobe=nlist) |
    * ivfpq (m×log2(ks)-bit PQ codes in the lists — ADC shortlist,
    * exact re-rank against the LIVE primary). `m`/`ks` are 0 for ivf.
    * `listsSchemaJson` is the exact schema of the `lists/` parquet
    * layout as written (JSON; "" for pre-v3 metas) — threading it to
    * [[listsOf]] removes the footer schema-inference job a cold probe
    * otherwise pays once per (session, table version). */
  final case class IvfMeta(kind: String, vecCol: String, nlist: Int,
      buildVersion: Long, m: Int, ks: Int, listsSchemaJson: String = "")

  // _meta leads with a magic + format version so a layout change can
  // MIGRATE old sidecars instead of silently mis-parsing them (the
  // r18 kind/m/ks widening made pre-widening metas read as absent —
  // probes failed as "no index" and append() silently stopped
  // maintaining the index). Unknown FUTURE versions fail loudly.
  private val MetaMagic = 0x47564958 // "GVIX"
  private val MetaVersion = 3 // v3 appends the lists schema JSON

  private def writeMeta(sp: SparkSession, idxDir: String,
      m: IvfMeta): Unit = {
    val (fs, _) = fsOf(sp, idxDir)
    graft.MarkerFile.writeAtomic(fs, new Path(idxDir, "_meta")) { raw =>
      val out = new java.io.ObjectOutputStream(raw)
      out.writeInt(MetaMagic); out.writeInt(MetaVersion)
      out.writeObject(m.kind); out.writeObject(m.vecCol)
      out.writeInt(m.nlist); out.writeLong(m.buildVersion)
      out.writeInt(m.m); out.writeInt(m.ks)
      out.writeObject(m.listsSchemaJson)
      out.flush()
    }
  }

  private def stagePrefix(name: String): String = s"_tivftmp_$name"

  /** Unique per-run staging dir for [[swapStage]]: compaction and
    * REINDEX stage their whole rewrite here, so a rival statement's
    * recovery sweep can never mistake an IN-FLIGHT stage for the one
    * fixed crash-leftover name (the r18 scheme staged at
    * `_tivftmp_<name>` — exactly what recovery swept whenever the
    * index dir looked healthy, i.e. for the entire rewrite). */
  private def newStageDir(path: String, name: String): String =
    s"$path/${stagePrefix(name)}_${java.util.UUID.randomUUID().toString.replace("-", "")}"

  /** Is dir entry `n` a stage of THIS index? Matches the legacy fixed
    * name (`_tivftmp_<name>`) or prefix + "_" + exactly-32-hex-chars
    * (the [[newStageDir]] shape). The hex requirement makes stage
    * names UN-NESTABLE across sibling indexes whose names nest: for
    * index `e`, a bare startsWith(pre + "_") also matched every stage
    * of index `e_2` (`_tivftmp_e_2_<uuid>`), so recovery for a
    * headless `e` could promote `e_2`'s layout as `e`'s (wrong
    * vecCol/nlist — silently wrong probes) and DROP INDEX e swept
    * `e_2`'s in-flight rewrite. */
  private def isStageOf(name: String, n: String): Boolean = {
    val pre = stagePrefix(name)
    n == pre || (n.length == pre.length + 33 && n.startsWith(pre + "_") &&
      n.substring(pre.length + 1).forall(c =>
        (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f')))
  }

  /** Freshest sign of life on a stage dir: its own mtime or the
    * `_hb` heartbeat [[withStageHeartbeat]] keeps fresh during long
    * rewrites — a multi-hour REINDEX writes deep inside `lists/` and
    * never refreshes the ROOT mtime until `_meta` lands, so mtime
    * alone would let a rival's stale sweep kill a LIVE stage. */
  private def stageLastAlive(fs: org.apache.hadoop.fs.FileSystem,
      st: org.apache.hadoop.fs.FileStatus): Long =
    math.max(st.getModificationTime,
      graft.MarkerFile.readLong(fs, new Path(st.getPath, "_hb"))
        .getOrElse(0L))

  /** Run `body` (a long stage rewrite) with a daemon keeping the
    * stage's `_hb` marker fresh, so [[recoverIfNeeded]]'s stale sweep
    * ages the stage only after real abandonment (crash kills the
    * daemon with the JVM; the marker then goes stale honestly). */
  private def withStageHeartbeat[A](fs: org.apache.hadoop.fs.FileSystem,
      stage: Path)(body: => A): A = {
    val hb = new Path(stage, "_hb")
    try graft.MarkerFile.writeLong(fs, hb, System.currentTimeMillis())
    catch { case scala.util.control.NonFatal(_) => () }
    @volatile var running = true
    val t = new Thread(() => {
      while (running) {
        val step = math.max(50L, staleStageMs / 4)
        var slept = 0L
        while (running && slept < step) { Thread.sleep(50); slept += 50 }
        if (running) {
          try graft.MarkerFile.writeLong(fs, hb, System.currentTimeMillis())
          catch { case scala.util.control.NonFatal(_) => () }
        }
      }
    }, s"graft-ivf-stage-heartbeat-${stage.getName}")
    t.setDaemon(true)
    t.start()
    // JOIN, not just flag: the caller swaps the stage dir right after
    // this returns, and an in-flight `_hb` write's fs.create would
    // recreate the renamed-away dir as an empty orphan
    try body finally {
      running = false
      try t.join(5000) catch { case _: InterruptedException => () }
    }
  }

  /** Age after which an orphaned stage is provably dead and safe to
    * sweep. Compactions run minutes; anything this old beside a
    * healthy index is a crash leftover. Mutable for tests. */
  private[sql] var staleStageMs: Long = 60L * 60 * 1000

  // recovery checks ride EVERY readMeta (every probe, every DML
  // append) — a directory listing there is a measurable per-statement
  // tax on indexed tables. Recovery only matters for CRASHED swaps, so
  // a healthy index re-lists at most once per interval; a HEADLESS
  // index always takes the full path. Mutable for tests.
  private val recoveryCheckMemo =
    new scala.collection.concurrent.TrieMap[String, Long]()
  private[sql] var recoveryCheckIntervalMs: Long = 10000L

  /** Crash recovery for [[swapStage]], mirroring the table's own
    * [[GraftTables]] rebase recovery: a headless index dir beside a
    * COMPLETE staged sibling promotes the newest such sibling (the
    * interrupted swap's payload — no rival can be mid-rewrite against
    * a headless index, readMeta gates every maintenance entry point);
    * stages older than [[staleStageMs]] are swept as crash leftovers.
    * A YOUNG stage beside a healthy index is left alone — it is a
    * live rival's in-flight rewrite. Cheap in the common case (one
    * exists check between listings, see [[recoveryCheckMemo]]). */
  private def recoverIfNeeded(sp: SparkSession, path: String,
      name: String): Unit = {
    val (fs, _) = fsOf(sp, path)
    try {
      val idxDir = dir(path, name)
      val now = System.currentTimeMillis()
      if (recoveryCheckMemo.get(idxDir)
            .exists(now - _ < recoveryCheckIntervalMs) &&
          fs.exists(new Path(idxDir, "_meta"))) return
      recoveryCheckMemo.put(idxDir, now)
      val parent = new Path(path)
      val idx = new Path(dir(path, name))
      // an interrupted bury-tolerant swap can leave the stage INSIDE a
      // headless recreated idx dir — pull it back beside the table so
      // the normal listing below finds it
      if (!fs.exists(new Path(idx, "_meta")) && fs.exists(idx))
        fs.listStatus(idx).filter(st => isStageOf(name, st.getPath.getName))
          .foreach(st => fs.rename(st.getPath,
            new Path(parent, st.getPath.getName)))
      val stages = fs.listStatus(parent)
        .filter(st => isStageOf(name, st.getPath.getName)) // incl. pre-r19 name
      if (stages.isEmpty) return
      var remaining = stages
      if (!fs.exists(new Path(idx, "_meta"))) {
        val complete = stages.filter(st =>
          fs.exists(new Path(st.getPath, "_meta")))
        if (complete.nonEmpty) {
          val winner = complete.maxBy(_.getModificationTime)
          // the identity marker must exist BEFORE the promote so a
          // racing swap/recovery can tell whose layout won (a crash
          // between stage completion and swapStage's own write)
          if (!fs.exists(new Path(winner.getPath, "_stageid")))
            graft.MarkerFile.writeString(fs,
              new Path(winner.getPath, "_stageid"), winner.getPath.getName)
          // invalidate with the RAW dir string — the memo key; a
          // Path round-trip normalizes file:/// to file:/ and misses.
          // RivalOther is fine here: recovery's only job is a healthy
          // index, and a rival promoting the OTHER complete stage
          // achieved that — our candidate ages into the sweep below.
          if (promoteStageDir(fs, winner.getPath, idx) != Promote.Failed)
            invalidate(dir(path, name))
          remaining = stages.filterNot(_.getPath == winner.getPath)
        }
      }
      val cutoff = System.currentTimeMillis() - staleStageMs
      remaining.filter(st => stageLastAlive(fs, st) < cutoff)
        .foreach(st => fs.delete(st.getPath, true))
      ()
    } catch { case scala.util.control.NonFatal(_) => () }
  }

  def readMeta(sp: SparkSession, path: String,
      name: String): Option[IvfMeta] = {
    recoverIfNeeded(sp, path, name)
    readMetaAt(sp, dir(path, name), migrate = true)
  }

  /** Parse `_meta` at `idxDir`. None ONLY when the file is absent
    * (incl. the exists→open TOCTOU race); a file that EXISTS but
    * parses as garbage throws — treating it as absent would silently
    * stop DML maintenance while probes fail as "no index". Legacy
    * (pre-version-tag) layouts parse via their shape and, with
    * `migrate`, rewrite in the current format (best-effort; rivals
    * racing the rewrite all write identical bytes atomically). */
  private def readMetaAt(sp: SparkSession, idxDir: String,
      migrate: Boolean): Option[IvfMeta] = {
    val (fs, _) = fsOf(sp, idxDir)
    val f = new Path(idxDir, "_meta")
    def open() = new java.io.ObjectInputStream(fs.open(f))
    try {
      if (!fs.exists(f)) return None
      // common path: ONE open — read the tag and, on match, the rest
      // of the same stream (this runs per probe and per DML append)
      val tagged =
        try {
          val in = open()
          try {
            if (in.readInt() != MetaMagic) Left(false)
            else in.readInt() match {
              case MetaVersion => Right(
                IvfMeta(in.readObject().asInstanceOf[String],
                  in.readObject().asInstanceOf[String],
                  in.readInt(), in.readLong(), in.readInt(), in.readInt(),
                  in.readObject().asInstanceOf[String]))
              case 2 => Right( // v2: no lists schema — infer on read
                IvfMeta(in.readObject().asInstanceOf[String],
                  in.readObject().asInstanceOf[String],
                  in.readInt(), in.readLong(), in.readInt(), in.readInt()))
              case v => throw new IllegalStateException(
                s"vector-index meta $f has format version $v; this " +
                  s"build reads up to $MetaVersion — refusing to guess")
            }
          } finally in.close()
        } catch { case _: java.io.IOException => Left(true) }
      tagged match {
        case Right(m) => Some(m)
        case Left(_) =>
          // legacy untagged layouts: r18 leads with the kind string;
          // r17 leads with the vector column (no kind/m/ks)
          val in = open()
          val parsed =
            try {
              val first = in.readObject().asInstanceOf[String]
              if (first == "ivf" || first == "ivfpq")
                IvfMeta(first, in.readObject().asInstanceOf[String],
                  in.readInt(), in.readLong(), in.readInt(), in.readInt())
              else IvfMeta("ivf", first, in.readInt(), in.readLong(), 0, 0)
            } catch {
              case scala.util.control.NonFatal(e) =>
                throw new IllegalStateException(
                  s"vector-index meta $f is unreadable (not the current " +
                    "or any legacy layout) — DROP INDEX and re-CREATE", e)
            } finally in.close()
          if (migrate)
            try writeMeta(sp, idxDir, parsed)
            catch { case scala.util.control.NonFatal(_) => () }
          Some(parsed)
      }
    } catch {
      case _: java.io.FileNotFoundException => None
    }
  }

  // repeated-probe (dashboard) serving cost: centroids are immutable
  // per build (keyed by build version — a rebuild swaps them) and the
  // lists source only gains files per COMMIT (keyed by table version),
  // so neither pays parquet re-listing / re-collection per query —
  // the same memoization the z projection's base source uses
  private val centroidMemo = new scala.collection.concurrent.TrieMap[
    String, (Long, Array[Array[Double]])]()
  private val booksMemo = new scala.collection.concurrent.TrieMap[
    String, (Long, Array[Array[Array[Double]]])]()
  private val listsMemo = new scala.collection.concurrent.TrieMap[
    String, (Long, DataFrame)]()

  private[sql] def invalidate(idxDir: String): Unit = {
    centroidMemo.remove(idxDir)
    booksMemo.remove(idxDir)
    listsMemo.remove(idxDir)
    ()
  }

  private def centroidsOf(sp: SparkSession, idxDir: String,
      buildVersion: Long): Array[Array[Double]] =
    centroidMemo.get(idxDir) match {
      case Some((v, c)) if v == buildVersion => c
      case _ =>
        val c = sp.read.parquet(s"$idxDir/centroids")
          .orderBy(col("list")).collect()
          .map(r => r.getSeq[Double](r.fieldIndex("centroid")).toArray)
        centroidMemo.put(idxDir, (buildVersion, c))
        c
    }

  private def booksOf(sp: SparkSession, idxDir: String,
      buildVersion: Long): Array[Array[Array[Double]]] =
    booksMemo.get(idxDir) match {
      case Some((v, b)) if v == buildVersion => b
      case _ =>
        val rows = sp.read.parquet(s"$idxDir/books")
          .orderBy(col("mm"), col("cid")).collect()
        val b = rows.groupBy(r => r.getInt(r.fieldIndex("mm")))
          .toArray.sortBy(_._1).map(_._2
            .map(r => r.getSeq[Double](r.fieldIndex("cent")).toArray))
        booksMemo.put(idxDir, (buildVersion, b))
        b
    }

  private def listsOf(sp: SparkSession, idxDir: String,
      tableVersion: Long, m: IvfMeta): DataFrame =
    listsMemo.get(idxDir) match {
      case Some((v, df)) if v == tableVersion && (df.sparkSession eq sp) => df
      case _ =>
        // the meta carries the exact written schema (v3+): passing it
        // skips the one-task-per-file footer-inference job a cold probe
        // pays; pre-v3 metas ("" schema) fall back to inference
        val reader =
          if (m.listsSchemaJson.isEmpty) sp.read
          else sp.read.schema(org.apache.spark.sql.types.DataType
            .fromJson(m.listsSchemaJson)
            .asInstanceOf[org.apache.spark.sql.types.StructType])
        val df = reader.parquet(s"$idxDir/lists")
        listsMemo.put(idxDir, (tableVersion, df))
        df
    }

  private def assigned(df: DataFrame, keyCols: Seq[String], vecCol: String,
      centroids: Array[Array[Double]], v: Long): DataFrame =
    df.select(keyCols.map(col) :+ col(vecCol).as("__v"): _*)
      .where(col("__v").isNotNull)
      .withColumn("__ver", lit(v))
      .withColumn("__list",
        graft.functions.NearestCentroid.nearestCentroid(col("__v"), centroids))

  /** Unit-normalized (keys..., __vn) — the multi-key twin of the
    * library's normalization stage, same arithmetic order so codes
    * replay bit-for-bit in the SQL oracle. */
  private def normalized(df: DataFrame, keyCols: Seq[String],
      vecCol: String): DataFrame =
    df.select(keyCols.map(col) :+
        transform(col(vecCol), x => x.cast("double")).as("__raw"): _*)
      .where(col("__raw").isNotNull)
      .withColumn("__n", sqrt(graft.pipeline.Dedup.dotCols(col("__raw"), col("__raw"))))
      .select(keyCols.map(col) :+
        transform(col("__raw"), x => x / col("__n")).as("__vn"): _*)

  /** IVFPQ row encoding: coarse list + residual PQ codes (Jégou et al.
    * §IV — quantize vn − c_list), exactly [[graft.pipeline.Similarity
    * .ivfPqTopK]]'s staged pipeline with the codebooks loaded from the
    * index instead of trained inline. Stores NO raw vectors. */
  private def encoded(vn: DataFrame, keyCols: Seq[String],
      coarse: Array[Array[Double]], books: Array[Array[Array[Double]]],
      m: Int, sub: Int, v: Long): DataFrame = {
    val coarseLit = typedLit(coarse.map(_.toSeq).toSeq)
    vn.withColumn("__list",
        graft.functions.NearestCentroid.nearestCentroid(col("__vn"), coarse))
      .withColumn("__rv", zip_with(col("__vn"),
        element_at(coarseLit, col("__list").cast("int")), (a, b) => a - b))
      .withColumn("__codes",
        graft.pipeline.Similarity.pqCodesCol(books, m, sub, "__rv"))
      .withColumn("__ver", lit(v))
      .select(keyCols.map(col) :+ col("__codes") :+ col("__ver") :+
        col("__list"): _*)
  }

  /** Seeded hash sample order: deterministic AND representative. The
    * r18 sample was the corpus's FIRST 512 keys — at scale key order
    * correlates with ingest time / tenant, so every centroid could
    * train on one corner of the distribution and skew every list.
    * Numeric keys hash with pure modular arithmetic so the SQL oracle
    * replays the selection exactly
    * (`((k % 999999937) * 2654435761) % 1000000007` — no overflow,
    * identical in DuckDB); other key types fall back to xxhash64
    * (equally deterministic, engine-side only). Keys tie-break. */
  private[sql] def sampleOrder(df: DataFrame,
      keyCols: Seq[String]): Seq[Column] = {
    val hs = keyCols.map { c =>
      df.schema(c).dataType match {
        case _: org.apache.spark.sql.types.NumericType =>
          pmod(pmod(col(c).cast("long"), lit(999999937L)) *
            lit(2654435761L), lit(1000000007L))
        case _ => pmod(xxhash64(col(c)), lit(1000000007L))
      }
    }
    val h = if (hs.size == 1) hs.head
      else pmod(hs.reduce(_ + _), lit(1000000007L))
    h +: keyCols.map(col)
  }

  /** Train the coarse quantizer on the hash-ordered sample of `df`
    * and write the raw-vector IVF layout (lists/centroids/_meta) at
    * `outDir`. One corpus pass. */
  private def writeIvfLayout(sp: SparkSession, outDir: String,
      df: DataFrame, keyCols: Seq[String], vecCol: String, nlist: Int,
      v: Long): Unit = {
    import sp.implicits._
    val nn = df.select(keyCols.map(col) :+ col(vecCol): _*)
      .where(col(vecCol).isNotNull)
    val sample = nn.orderBy(sampleOrder(nn, keyCols): _*).limit(512)
      .select(transform(col(vecCol), x => x.cast("double")))
      .collect().map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty,
      s"CREATE INDEX USING IVF: no non-null '$vecCol' vectors to train on")
    val centroids = graft.pipeline.Similarity.kmeans(sample, nlist, 5)
    // cluster by list BEFORE the partitioned write: without it every
    // input task opens a writer per list it sees — O(tasks x nlist)
    // tiny files (32-partition tables wrote ~500 files for a 16-list
    // index), paid again by every probe's partition discovery. The
    // partition count is EXPLICIT (the session's shuffle-partition
    // setting — scale-adaptive config, not a constant): the no-N
    // variant lets AQE coalesce this small shuffle to ONE task, which
    // then opens every list writer serially (the zproj write's 7.1 s
    // failure mode).
    val rows = assigned(df, keyCols, vecCol, centroids, v)
    rows.repartition(sp.sessionState.conf.numShufflePartitions,
        col("__list"))
      .write.mode("overwrite").partitionBy("__list")
      .parquet(s"$outDir/lists")
    centroids.zipWithIndex
      .map { case (c, i) => ((i + 1).toLong, c.toSeq) }.toSeq
      .toDF("list", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/centroids")
    writeMeta(sp, outDir, IvfMeta("ivf", vecCol, nlist, v, 0, 0,
      listsReadSchemaJson(rows)))
  }

  /** The read-back schema of a `lists/` layout written from `rows`
    * (last column `__list`, the partition column): all-nullable, JSON.
    * Written into the meta so probes never pay footer inference. */
  private def listsReadSchemaJson(rows: DataFrame): String =
    org.apache.spark.sql.types.StructType(
      rows.schema.fields.map(_.copy(nullable = true))).json

  /** Train coarse quantizer + residual codebooks on one hash-ordered
    * normalized sample and write the IVFPQ layout
    * (lists/centroids/books/_meta) at `outDir`. */
  private def writePqLayout(sp: SparkSession, outDir: String,
      df: DataFrame, keyCols: Seq[String], vecCol: String, nlist: Int,
      m: Int, ks: Int, v: Long): Unit = {
    import sp.implicits._
    val vn = normalized(df, keyCols, vecCol)
    val sample = vn.orderBy(sampleOrder(vn, keyCols): _*).limit(512)
      .select(col("__vn")).collect().map(_.getSeq[Double](0).toArray)
    require(sample.length >= math.max(nlist, ks),
      s"CREATE INDEX USING IVFPQ: needs at least ${math.max(nlist, ks)} " +
        s"non-null '$vecCol' vectors to train on, got ${sample.length}")
    val dim = sample.head.length
    require(dim % m == 0, s"IVFPQ: dim $dim must divide into m=$m subspaces")
    val sub = dim / m
    val coarse = graft.pipeline.Similarity.kmeans(sample, nlist, 5)
    // the books learn the sample's RESIDUALS against the trained coarse
    // centroids — within-cell displacement, not absolute position
    val rsample = sample.map { p =>
      val c = coarse(graft.pipeline.Similarity.assignIdx(p, coarse))
      Array.tabulate(dim)(i => p(i) - c(i))
    }
    val books = graft.pipeline.Similarity.pqCodebooks(rsample, m, sub, ks, 3)
    // explicit N for the same reason as the ivf layout write above
    val rows = encoded(vn, keyCols, coarse, books, m, sub, v)
    rows.repartition(sp.sessionState.conf.numShufflePartitions,
        col("__list")) // one file per list, not tasks x lists
      .write.mode("overwrite").partitionBy("__list")
      .parquet(s"$outDir/lists")
    coarse.zipWithIndex
      .map { case (c, i) => ((i + 1).toLong, c.toSeq) }.toSeq
      .toDF("list", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/centroids")
    books.zipWithIndex.flatMap { case (book, mm) =>
      book.zipWithIndex.map { case (c, ci) => (mm, (ci + 1).toLong, c.toSeq) }
    }.toSeq.toDF("mm", "cid", "cent")
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/books")
    writeMeta(sp, outDir, IvfMeta("ivfpq", vecCol, nlist, v, m, ks,
      listsReadSchemaJson(rows)))
  }

  /** Build at CREATE INDEX: train the quantizer on a deterministic
    * hash-ordered sample of the current content, assign every row,
    * write the list-partitioned layout. One corpus pass. */
  def build(sp: SparkSession, path: String, name: String,
      df: DataFrame, keyCols: Seq[String], vecCol: String, nlist: Int,
      v: Long): Unit = {
    val idxDir = dir(path, name)
    val (fs, _) = fsOf(sp, idxDir)
    fs.delete(new Path(idxDir), true)
    writeIvfLayout(sp, idxDir, df, keyCols, vecCol, nlist, v)
    invalidate(idxDir) // a re-CREATE swaps the layout under the memos
  }

  /** Build at `CREATE INDEX ... USING IVFPQ`: the list-partitioned
    * CODES — m small ints per row instead of the d-float vector, the
    * memory-bandwidth scale path (a probe reads `nprobe/nlist` of
    * ~9 bytes/row; raw vectors are touched only for the re-rank
    * shortlist, fetched from the LIVE primary). */
  def buildPq(sp: SparkSession, path: String, name: String,
      df: DataFrame, keyCols: Seq[String], vecCol: String, nlist: Int,
      m: Int, ks: Int, v: Long): Unit = {
    val idxDir = dir(path, name)
    val (fs, _) = fsOf(sp, idxDir)
    fs.delete(new Path(idxDir), true)
    writePqLayout(sp, idxDir, df, keyCols, vecCol, nlist, m, ks, v)
    invalidate(idxDir)
  }

  /** `OPTIMIZE t REINDEX <index>` — retrain under distribution drift:
    * centroids (and PQ codebooks) are frozen at CREATE, so when the
    * live distribution drifts away from the build-time sample the
    * lists skew and recall at fixed nprobe decays with no remedy short
    * of DROP + re-CREATE. REINDEX retrains on a fresh hash-ordered
    * sample of the LIVE content, re-assigns every row, and swaps the
    * new layout in via the same staged-sibling machinery as
    * [[compactIndex]] — probes never observe a half-built index, and
    * a crash leaves the old, still-correct layout in place.
    * O(corpus) by definition (it IS a rebuild); nlist/m/ks carry. */
  def reindex(sp: SparkSession, path: String, name: String,
      live: DataFrame, keyCols: Seq[String], v: Long): Option[IvfMeta] =
    readMeta(sp, path, name).map { m =>
      val (fs, _) = fsOf(sp, path)
      val tmp = newStageDir(path, name)
      // heartbeated: an O(corpus) retrain can outlive staleStageMs —
      // without the beat a rival's recovery sweep would kill the LIVE
      // stage (root mtime only moves when _meta lands)
      withStageHeartbeat(fs, new Path(tmp)) {
        if (m.kind == "ivfpq")
          writePqLayout(sp, tmp, live, keyCols, m.vecCol, m.nlist, m.m,
            m.ks, v)
        else writeIvfLayout(sp, tmp, live, keyCols, m.vecCol, m.nlist, v)
      }
      swapStage(sp, fs, path, name, new Path(tmp), v)
      m.copy(buildVersion = v)
    }

  /** Delta-cost maintenance on commit `v`: assign the statement's
    * upserts against the saved centroids and append into the list
    * partitions. Skips quietly only when the index is gone or a schema
    * evolution removed the vector column from the upsert (the index is
    * then stale by construction; DROP or re-CREATE it) — any other
    * failure propagates so the caller can surface it. */
  def append(sp: SparkSession, path: String, name: String,
      up: DataFrame, keyCols: Seq[String], v: Long): Unit =
    readMeta(sp, path, name).foreach { m =>
      if (up.columns.contains(m.vecCol)) {
        val idxDir = dir(path, name)
        val coarse = centroidsOf(sp, idxDir, m.buildVersion)
        val rows =
          if (m.kind == "ivfpq")
            encoded(normalized(up, keyCols, m.vecCol), keyCols, coarse,
              booksOf(sp, idxDir, m.buildVersion), m.m,
              coarse.head.length / m.m, v)
          else assigned(up, keyCols, m.vecCol, coarse, v)
        // the delta often arrives on MANY tiny partitions (a filtered
        // scan keeps the source's task count): shuffling it by list is
        // delta-sized and caps the append at one file per touched list
        // instead of tasks x lists — churned-table probes then list
        // and open far fewer delta files. N is explicit so AQE cannot
        // coalesce the shuffle to one serial all-lists writer task.
        rows.repartition(sp.sessionState.conf.numShufflePartitions,
            col("__list"))
          .write.mode("append").partitionBy("__list")
          .parquet(s"$idxDir/lists")
      }
    }

  /** OPTIMIZE-time index compaction: rewrite the lists to exactly the
    * LIVE newest-entry-per-key content and stamp `buildVersion = v`.
    * Two wins for a churned table: dead entries (superseded versions,
    * deleted keys) stop inflating every probe's scan, and — because
    * the probe's read-mostly fast path keys on `changeFlagsSince
    * (buildVersion)` — probes return to the zero-join path until the
    * next DML. Retrain-free: centroids and codebooks carry verbatim,
    * so assignments never move. Crash-safe the same way the table's
    * own rebase is: the full layout stages in a sibling dir and swaps
    * in one rename; [[recoverIfNeeded]] promotes a complete stage if
    * the swap was interrupted. O(index), riding a verb that is
    * already O(corpus). */
  def compactIndex(sp: SparkSession, path: String, name: String,
      live: DataFrame, keyCols: Seq[String], v: Long): Unit =
    readMeta(sp, path, name).foreach { m =>
      val idxDir = dir(path, name)
      val (fs, _) = fsOf(sp, idxDir)
      val tmp = new Path(newStageDir(path, name))
      // heartbeated like REINDEX: the lists rewrite is O(index) and can
      // outlive staleStageMs on a big table
      withStageHeartbeat(fs, tmp) {
        // newest entry per key via max_by: a hash aggregate with
        // map-side partial merge — the sort-window shape shuffled and
        // SORTED every entry first (no partial aggregation). Ties are
        // impossible (a key appears at most once per commit version).
        val lists = sp.read.parquet(s"$idxDir/lists")
        val payload = lists.columns.filterNot(keyCols.contains).toSeq
        // getField resolves the struct field by LITERAL name — the
        // string form col("__newest.payload") parses a dotted user
        // column name as a deeper nested path and fails analysis
        lists.groupBy(keyCols.map(col): _*)
          .agg(max_by(struct(payload.map(col): _*), col("__ver"))
            .as("__newest"))
          .select(keyCols.map(col) ++
            payload.map(c => col("__newest").getField(c).as(c)): _*)
          .join(live.select(keyCols.map(col): _*), keyCols, "left_semi")
          // one file per list in the rewrite; N explicit (AQE would
          // coalesce the small shuffle to one serial all-writers task)
          .repartition(sp.sessionState.conf.numShufflePartitions,
            col("__list"))
          .write.partitionBy("__list").parquet(s"$tmp/lists")
        Seq("centroids", "books").foreach { d =>
          val src = new Path(idxDir, d)
          if (fs.exists(src))
            org.apache.hadoop.fs.FileUtil.copy(fs, src, fs,
              new Path(tmp, d), false, sp.sparkContext.hadoopConfiguration)
        }
        // the rewrite emits (keyCols ++ payload) with __list last — a
        // pre-v3 meta ("" schema) gains the exact read schema here, so
        // one OPTIMIZE upgrades old indexes to inference-free probes
        val rewrittenSchema = org.apache.spark.sql.types.StructType(
          (keyCols.map(c => lists.schema(c)) ++
            payload.map(c => lists.schema(c))).map(_.copy(nullable = true)))
        writeMeta(sp, tmp.toString,
          m.copy(buildVersion = v, listsSchemaJson = rewrittenSchema.json))
      }
      swapStage(sp, fs, path, name, tmp, v)
    }

  /** [[promoteStageDir]] outcomes: the stage is live at idx (Done —
    * whether we renamed it or a rival recovery promoted OUR stage),
    * a rival promoted a DIFFERENT stage (RivalOther — idx is healthy
    * but our rewrite did not apply), or the rename loop wore out. */
  private object Promote extends Enumeration {
    val Done, RivalOther, Failed = Value
  }

  /** Bury-tolerant promote of the stage `tmp` to `idx`: rivals can
    * recreate `idx` mid-window (a DML append's parquet write makes
    * parent dirs), and Hadoop's rename then moves the stage INSIDE the
    * recreated dir — silently burying it where no recovery listing
    * finds it (found by the writers-vs-maintenance stress matrix).
    * Detect the burial, pull the stage back out, retry.
    *
    * A `_meta` appearing at `idx` mid-loop means a rival recovery
    * promoted A stage during our headless window — but with TWO
    * maintenance ops staged concurrently (compact + REINDEX), not
    * necessarily OURS: the `_stageid` identity marker (stage dir name,
    * written before any promote) distinguishes "ours won" (Done) from
    * "another complete layout won" (RivalOther) — returning success on
    * the latter would acknowledge an OPTIMIZE/REINDEX that silently
    * did not take effect. */
  private def promoteStageDir(fs: org.apache.hadoop.fs.FileSystem,
      tmp: Path, idx: Path): Promote.Value = {
    val meta = new Path(idx, "_meta")
    def rivalOutcome(): Promote.Value =
      graft.MarkerFile.readString(fs, new Path(idx, "_stageid")) match {
        case Some(id) if id != tmp.getName => Promote.RivalOther
        // our id, or a pre-identity-marker legacy promote (only one
        // stage can exist in that world — the r18 fixed-name scheme)
        case _ => Promote.Done
      }
    var attempts = 0
    while (attempts < 10) {
      if (fs.exists(meta)) return rivalOutcome()
      if (!fs.exists(tmp)) {
        val buried = new Path(idx, tmp.getName)
        if (fs.exists(new Path(buried, "_meta"))) { fs.rename(buried, tmp); () }
        else return if (fs.exists(meta)) rivalOutcome() else Promote.Failed
      } else {
        fs.delete(idx, true)
        if (fs.rename(tmp, idx) && fs.exists(meta)) return rivalOutcome()
      }
      attempts += 1
    }
    if (fs.exists(meta)) rivalOutcome() else Promote.Failed
  }

  /** Swap a COMPLETE stage in as the live index: verify the stage one
    * last time (a mis-aged recovery sweep racing this statement must
    * fail the swap, not promote a deleted dir), stamp its identity,
    * delete the old layout, promote bury-tolerantly. If the promote
    * loses to a rival's recovery that promoted OUR stage during the
    * headless window, that is success; a rival promoting a DIFFERENT
    * stage aborts LOUDLY — this op's rewrite did not apply, and the
    * caller's statement must not be acknowledged as done. */
  private def swapStage(sp: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, path: String, name: String,
      tmp: Path, v: Long): Unit = {
    val idx = new Path(dir(path, name))
    require(fs.exists(new Path(tmp, "_meta")),
      s"vector-index stage $tmp vanished before its swap (swept by a " +
        "rival recovery?) — the live index is untouched; re-run")
    graft.MarkerFile.writeString(fs, new Path(tmp, "_stageid"), tmp.getName)
    fs.delete(idx, true)
    promoteStageDir(fs, tmp, idx) match {
      case Promote.Done => ()
      case Promote.RivalOther =>
        // the index is healthy (a rival's complete layout won) but OUR
        // rewrite never applied: clean our orphan and fail loudly so
        // the user re-runs instead of trusting a no-op OPTIMIZE/REINDEX
        try { fs.delete(tmp, true); fs.delete(new Path(idx, tmp.getName), true) }
        catch { case scala.util.control.NonFatal(_) => () }
        invalidate(dir(path, name))
        throw new java.util.ConcurrentModificationException(
          s"a concurrent maintenance op promoted its own layout for " +
            s"index at $idx during this swap — this OPTIMIZE/REINDEX did " +
            "not take effect; re-run")
      case Promote.Failed => throw new IllegalStateException(
        s"vector-index stage swap rename failed for $idx")
    }
    // the RAW dir string is the memo key (Path normalizes file:///)
    invalidate(dir(path, name))
  }

  /** The `graft_ann` probe — see the object doc for semantics. Returns
    * (key columns..., cos) ordered by cosine desc, keys. `pred` is an
    * optional SQL predicate over the TABLE's columns (filtered vector
    * search): it constrains the candidate pool BEFORE top-k — the k
    * best rows AMONG those matching, not matching rows among the k
    * best — evaluated against the live snapshot (so it may name any
    * column, not just indexed ones) and applied through the same
    * probe-bounded semi-join the liveness check uses. */
  def probe(sp: SparkSession, path: String, name: String,
      live: DataFrame, keyCols: Seq[String], query: Array[Double],
      k: Int, nprobe: Int, pred: Option[String] = None): DataFrame = {
    val m = readMeta(sp, path, name).getOrElse(
      throw new IllegalArgumentException(
        s"no IVF index '$name' at $path — CREATE INDEX ... USING IVF first"))
    val idxDir = dir(path, name)
    val centroids = centroidsOf(sp, idxDir, m.buildVersion)
    // ivfpq centroids live in normalized space — rank lists against
    // the normalized query there (same ranking the build's assignment
    // used); the flat layout keeps the raw-space ranking
    val qRank =
      if (m.kind == "ivfpq") graft.pipeline.Similarity.unitQuery(query)
      else query
    val qd = centroids.map(c => c.zip(qRank).map { case (a, b) =>
      (a - b) * (a - b) }.sum)
    val probeLists = qd.zipWithIndex.sortBy(_._1)
      .take(math.min(nprobe, centroids.length))
      .map { case (_, i) => (i + 1).toLong }
    // the read-mostly fast path: when NO delete/upsert committed since
    // the build, entries are exact — skip the per-key dedup and the
    // liveness join entirely (one O(K log_K n) metadata walk decides)
    val (anyDel, anyUp) = GraftTables.changeFlagsSince(sp, path,
      m.buildVersion)
    val cands = listsOf(sp, idxDir, GraftTables.diskVersion(sp, path), m)
      .filter(col("__list").isin(probeLists: _*))
    // newest entry per key: an UPDATE's re-appended vector supersedes
    // the stale assignment (within the probed subset)
    val latest =
      if (!anyUp) cands
      else {
        val w = Window.partitionBy(keyCols.map(col): _*)
          .orderBy(col("__ver").desc)
        cands.withColumn("__rn", row_number().over(w))
          .where(col("__rn") === 1)
      }
    // liveness + filter: deleted/truncated keys drop out, and a
    // filtered search's predicate constrains the pool here too. An
    // INNER join on the keys projection, not a left-semi: table keys
    // are unique (it is the primary), so the two are equivalent — but
    // Spark can only broadcast the RIGHT side of a semi join (the
    // corpus keys, exactly the side that grows with the table), while
    // an inner join lets AQE broadcast the probe-bounded candidate
    // side and keep the corpus shuffle-free at scale. For ivfpq this
    // must precede the shortlist or dead/filtered-out rows would crowd
    // real candidates out of the re-rank pool.
    val liveF = pred.map(p => live.where(expr(p))).getOrElse(live)
    val alive =
      if (!anyDel && pred.isEmpty) latest
      else latest.join(liveF.select(keyCols.map(col): _*), keyCols)
    if (m.kind == "ivfpq")
      probePq(sp, idxDir, m, centroids, alive, liveF, keyCols, query, k)
    else alive
      .withColumn("cos",
        graft.pipeline.Similarity.cosineToQuery(col("__v"), query))
      .orderBy(col("cos").desc +: keyCols.map(col): _*)
      .limit(k)
      .select(keyCols.map(col) :+ col("cos"): _*)
  }

  /** Distinct probed list ids of the last [[probeBatch]] call — a
    * scale gauge for the bench (the lists scan is bounded to exactly
    * this many of nlist partitions, churned table or not). */
  @volatile private[graft] var lastBatchProbedLists: Int = -1

  /** BATCH probe of a durable IVF/IVFPQ index: the k nearest live rows
    * for EVERY query row in ONE job — the decontamination-at-scale
    * shape, reusing the SAVED assignment instead of retraining per
    * call (contrast [[graft.pipeline.Similarity.ivfTopKJoin]], which
    * trains inline for ad-hoc corpora). Each query ranks the centroid
    * literal and explodes into its `nprobe` list ids; the batch's
    * DISTINCT probed ids (≤ nlist longs, one bounded driver
    * round-trip) then filter the lists scan BEFORE anything else, so
    * it is a STATIC partition prune — and the churned-table
    * newest-entry-per-key window runs over the probed lists only
    * (the single probe's documented within-probed-subset semantics;
    * r18 windowed over the ENTIRE layout first, so one stray upsert
    * made every batch probe O(index)). Liveness join as in [[probe]];
    * both skipped on read-mostly tables via the same metadata walk.
    *
    * IVFPQ batches too: the per-query ADC LUT (m·ks doubles) is a
    * codegen'd column over the broadcast codebook literal — computed
    * once per query row, never collected — then the per-query ADC
    * shortlist re-ranks exactly against the LIVE primary, exactly the
    * single probe's tail per query.
    *
    * `pred` is an optional SQL predicate over the TABLE's columns,
    * [[probe]]'s filtered-search semantics per query: it constrains
    * the candidate pool BEFORE top-k, evaluated against the live
    * snapshot. Returns (queryId, key columns..., cos). */
  def probeBatch(sp: SparkSession, path: String, name: String,
      live: DataFrame, keyCols: Seq[String], queries: DataFrame,
      queryIdCol: String, vecCol: String, k: Int,
      nprobe: Int, pred: Option[String] = None): DataFrame = {
    val m = readMeta(sp, path, name).getOrElse(
      throw new IllegalArgumentException(
        s"no IVF index '$name' at $path — CREATE INDEX ... USING IVF first"))
    require(!keyCols.contains(queryIdCol),
      s"query id column '$queryIdCol' collides with a table key column")
    require(queryIdCol != "cos" && !queryIdCol.startsWith("__"),
      s"query id column '$queryIdCol' collides with the probe's output " +
        "('cos') or internal ('__'-prefixed) columns — alias it first")
    val idxDir = dir(path, name)
    val centroids = centroidsOf(sp, idxDir, m.buildVersion)
    val np = math.min(nprobe, centroids.length)
    val pq = m.kind == "ivfpq"
    // ivfpq centroids live in normalized space — rank lists (and feed
    // the ADC LUT) with the normalized query, exactly like [[probe]]
    val qBase = queries.where(col(vecCol).isNotNull)
      .select(col(queryIdCol).as("__qid"),
        transform(col(vecCol), x => x.cast("double")).as("__qv"))
    val qNorm =
      if (!pq) qBase
      else qBase.withColumn("__qn", transform(col("__qv"),
        x => x / sqrt(graft.pipeline.Dedup.dotCols(col("__qv"), col("__qv")))))
    val rankCol = if (pq) col("__qn") else col("__qv")
    // per-query probe lists: rank ||q - c||^2 over the centroid
    // literal (row-constant q·q dropped), keep the nprobe best
    val probeArr = array(centroids.zipWithIndex.map { case (c, i) =>
      val cc = c.map(x => x * x).sum
      struct(
        (lit(cc) - lit(2.0) * graft.pipeline.Dedup.dotCols(
          rankCol, typedLit(c.toSeq))).as("d"),
        lit((i + 1).toLong).as("l"))
    }: _*)
    val qCarry = col("__qid") +: col("__qv") +:
      (if (pq) Seq(col("__qn")) else Nil)
    val qv = qNorm.withColumn("__probe", slice(array_sort(probeArr), 1, np))
      .select(qCarry :+
        explode(col("__probe").getField("l")).as("__list"): _*)
    // the batch's distinct probed list ids: bounded by nlist (the
    // centroid collect is already that size), and worth the extra
    // queries-side job — the lists scan prunes STATICALLY to
    // |probed|/nlist of the index
    val probedIds = qv.select(col("__list")).distinct()
      .collect().map(_.getLong(0)).toSeq
    lastBatchProbedLists = probedIds.length
    val (anyDel, anyUp) = GraftTables.changeFlagsSince(sp, path,
      m.buildVersion)
    val cands = listsOf(sp, idxDir, GraftTables.diskVersion(sp, path), m)
      .filter(col("__list").isin(probedIds: _*))
    val latest =
      if (!anyUp) cands
      else {
        val w = Window.partitionBy(keyCols.map(col): _*)
          .orderBy(col("__ver").desc)
        cands.withColumn("__rn", row_number().over(w))
          .where(col("__rn") === 1).drop("__rn")
      }
    val liveF = pred.map(p => live.where(expr(p))).getOrElse(live)
    val alive =
      if (!anyDel && pred.isEmpty) latest
      else latest.join(liveF.select(keyCols.map(col): _*), keyCols)
    if (pq) probeBatchPq(sp, idxDir, m, centroids, alive, liveF, keyCols,
      qv, queryIdCol, k)
    else {
      val wq = Window.partitionBy(col("__qid"))
        .orderBy(col("cos").desc +: keyCols.map(col): _*)
      qv.join(alive, "__list")
        .withColumn("cos", graft.pipeline.Dedup.dotCols(col("__qv"), col("__v")) /
          (sqrt(graft.pipeline.Dedup.dotCols(col("__qv"), col("__qv"))) *
            sqrt(graft.pipeline.Dedup.dotCols(col("__v"), col("__v")))))
        .withColumn("__rnq", row_number().over(wq))
        .where(col("__rnq") <= k)
        .select(col("__qid").as(queryIdCol) +: keyCols.map(col) :+
          col("cos"): _*)
    }
  }

  /** The batch ivfpq scoring tail: each query row computes its own
    * ADC LUT (m·ks subspace dots against the broadcast codebook
    * literal — a codegen'd nested transform, evaluated once per query
    * row and projected away right after scoring), scores the probed
    * live codes by the per-list constant + m LUT lookups, keeps a
    * per-query 16·k shortlist, and re-ranks the shortlist by exact
    * cosine against the LIVE primary — the single probe's tail, one
    * job for the whole batch. */
  private def probeBatchPq(sp: SparkSession, idxDir: String, m: IvfMeta,
      coarse: Array[Array[Double]], alive: DataFrame, liveF: DataFrame,
      keyCols: Seq[String], qv: DataFrame, queryIdCol: String,
      k: Int): DataFrame = {
    val books = booksOf(sp, idxDir, m.buildVersion)
    val sub = coarse.head.length / m.m
    val ksL = m.ks
    val booksLit = typedLit(books.map(_.map(_.toSeq).toSeq).toSeq)
    val coarseLit = typedLit(coarse.map(_.toSeq).toSeq)
    // lut[mm*ks + c] = qn_sub(mm) · books(mm)(c) — flattened to match
    // the single probe's driver-side pqLut layout
    val lutCol = flatten(transform(booksLit, (book, mm) =>
      transform(book, cent => graft.pipeline.Dedup.dotCols(
        cent, slice(col("__qn"), mm * lit(sub) + lit(1), lit(sub))))))
    val codesSum = aggregate(
      transform(col("__codes"),
        (c, i) => element_at(col("__lut"), (i * ksL + c).cast("int"))),
      lit(0.0d), (acc, x) => acc + x)
    val qcCol = graft.pipeline.Dedup.dotCols(
      element_at(coarseLit, col("__list").cast("int")), col("__qn"))
    val wAdc = Window.partitionBy(col("__qid"))
      .orderBy(col("__adc").desc +: keyCols.map(col): _*)
    val shortlist = qv.withColumn("__lut", lutCol)
      .join(alive, "__list")
      .withColumn("__adc", qcCol + codesSum)
      .select(col("__qid") +: col("__qv") +: col("__adc") +:
        keyCols.map(col): _*)
      .withColumn("__rns", row_number().over(wAdc))
      .where(col("__rns") <= PqShortlist * k)
      .select(col("__qid") +: col("__qv") +: keyCols.map(col): _*)
    val wq = Window.partitionBy(col("__qid"))
      .orderBy(col("cos").desc +: keyCols.map(col): _*)
    shortlist
      .join(liveF.select(keyCols.map(col) :+
        col(m.vecCol).as("__v"): _*), keyCols)
      .withColumn("cos", graft.pipeline.Dedup.dotCols(col("__qv"), col("__v")) /
        (sqrt(graft.pipeline.Dedup.dotCols(col("__qv"), col("__qv"))) *
          sqrt(graft.pipeline.Dedup.dotCols(col("__v"), col("__v")))))
      .withColumn("__rnq", row_number().over(wq))
      .where(col("__rnq") <= k)
      .select(col("__qid").as(queryIdCol) +: keyCols.map(col) :+
        col("cos"): _*)
  }

  /** ADC re-rank pool multiplier (shortlist·k rows re-rank exactly) —
    * [[graft.pipeline.Similarity.ivfPqTopK]]'s default. */
  private val PqShortlist = 16

  /** The ivfpq scoring tail: ADC over the probed (live) codes — the
    * per-list constant qn·c_list plus the m LUT lookups, a codegen'd
    * Column fold over ~9 bytes/row — then the shortlist fetches its
    * exact vectors from the LIVE primary (a broadcast-sized key join;
    * deleted keys already dropped upstream) for the exact-cosine
    * re-rank. Raw vectors are never stored in the index. */
  private def probePq(sp: SparkSession, idxDir: String, m: IvfMeta,
      coarse: Array[Array[Double]], alive: DataFrame, live: DataFrame,
      keyCols: Seq[String], query: Array[Double], k: Int): DataFrame = {
    val qn = graft.pipeline.Similarity.unitQuery(query)
    val books = booksOf(sp, idxDir, m.buildVersion)
    val sub = coarse.head.length / m.m
    val lutLit = typedLit(
      graft.pipeline.Similarity.pqLut(qn, books, m.m, sub, m.ks))
    val qcLit = typedLit(coarse.map(c =>
      c.zip(qn).map { case (a, b) => a * b }.sum).toSeq)
    val ks = m.ks
    val codesSum = aggregate(
      transform(col("__codes"),
        (c, i) => element_at(lutLit, (i * ks + c).cast("int"))),
      lit(0.0d), (acc, x) => acc + x)
    val shortlist = alive
      .withColumn("__adc",
        element_at(qcLit, col("__list").cast("int")) + codesSum)
      .orderBy(col("__adc").desc +: keyCols.map(col): _*)
      .limit(PqShortlist * k)
      .select(keyCols.map(col): _*)
    shortlist
      .join(live.select(keyCols.map(col) :+
        col(m.vecCol).as("__v"): _*), keyCols)
      .withColumn("cos",
        graft.pipeline.Similarity.cosineToQuery(col("__v"), query))
      .orderBy(col("cos").desc +: keyCols.map(col): _*)
      .limit(k)
      .select(keyCols.map(col) :+ col("cos"): _*)
  }

  /** Drift observability row for [[graft.sql.GraftSqlExtension
    * .indexStatsPlan]] — per-list LIVE sizes (newest entry per key,
    * liveness-joined against the current snapshot, exactly the probe's
    * candidate semantics) plus raw entry counts. `listSkew` = max/mean
    * over ALL nlist cells (empty lists count as zero rows — an
    * assignment piling everything into few lists is exactly what the
    * statistic must surface). O(index): an observability scan, not a
    * probe path. */
  final case class IndexStats(name: String, kind: String, vecCol: String,
      nlist: Int, buildVersion: Long, entries: Long, liveEntries: Long,
      listMax: Long, listMean: Double, listSkew: Double)

  def stats(sp: SparkSession, path: String, name: String,
      live: DataFrame, keyCols: Seq[String]): Option[IndexStats] =
    readMeta(sp, path, name).map { m =>
      val idxDir = dir(path, name)
      val lists = sp.read.parquet(s"$idxDir/lists")
      val w = Window.partitionBy(keyCols.map(col): _*)
        .orderBy(col("__ver").desc)
      val perList = lists
        .withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1).drop("__rn")
        .join(live.select(keyCols.map(col): _*), keyCols)
        .groupBy(col("__list")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getLong(1))
      val entries = lists.count()
      val liveEntries = perList.sum
      val mean = liveEntries.toDouble / math.max(1, m.nlist)
      val max = if (perList.isEmpty) 0L else perList.max
      IndexStats(name, m.kind, m.vecCol, m.nlist, m.buildVersion,
        entries, liveEntries, max,
        mean, if (mean > 0) max / mean else 0.0)
    }

  /** HISTORICAL probe (`graft_ann_at`): exact cosine top-k over the
    * `VERSION AS OF` snapshot. The index tracks the LIVE table — an
    * update re-appends its vector and the old assignment is superseded
    * IN PLACE at probe time, so current lists cannot reconstruct a
    * past version's pool; serving live results to a time-travel reader
    * would be silently wrong (r19 verdict). The honest semantics is an
    * exact scan of the versioned snapshot — O(snapshot), the price of
    * reproducing a past retrieval run — validated against the index's
    * meta (same vector column, same output shape as [[probe]]). */
  def probeAt(sp: SparkSession, path: String, name: String,
      version: Long, query: Array[Double], k: Int): DataFrame = {
    val m = readMeta(sp, path, name).getOrElse(
      throw new IllegalArgumentException(
        s"no IVF index '$name' at $path — CREATE INDEX ... USING IVF first"))
    val h = GraftTables.loadVersion(sp, path, version)
    val keyCols = h.keyCols
    h.toDF(sp)
      .where(col(m.vecCol).isNotNull)
      .withColumn("cos",
        graft.pipeline.Similarity.cosineToQuery(col(m.vecCol), query))
      .orderBy(col("cos").desc +: keyCols.map(col): _*)
      .limit(k)
      .select(keyCols.map(col) :+ col("cos"): _*)
  }

  def drop(sp: SparkSession, path: String, name: String): Unit = {
    val (fs, _) = fsOf(sp, path)
    fs.delete(new Path(dir(path, name)), true)
    // sweep any staged rewrites with the index they were staged for
    // ([[isStageOf]] keeps sibling indexes with nesting names — e.g.
    // `e_2` while dropping `e` — out of the blast radius)
    try {
      fs.listStatus(new Path(path))
        .filter(st => isStageOf(name, st.getPath.getName))
        .foreach(st => fs.delete(st.getPath, true))
    } catch { case scala.util.control.NonFatal(_) => () }
    invalidate(dir(path, name))
  }
}
