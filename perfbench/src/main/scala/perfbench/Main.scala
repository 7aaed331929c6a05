package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Command-line options; `perfbench/run.py` passes every one of them. */
final case class Opts(workload: String, seed: Long, seconds: Double,
    trace: Boolean, scale: Double, injectWrong: Int, work: String,
    record: String, traces: String)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", m.getOrElse("scale", "1").toDouble,
      m.getOrElse("inject-wrong", "0").toInt, need("work"),
      need("record"), need("traces"))
  }
}

/** One timed call into the program. */
final case class Sample(kind: String, ns: Long, items: Double, ok: Boolean,
    traced: Boolean)

/** The benchmark's view of one workload: it builds the program's state
  * from generated inputs, then runs one op per `step` call, timing only
  * the call into graft through [[Harness.timed]] and checking the answer
  * against its oracle after the clock stops. */
trait Workload {
  /** Op kind whose median and tail are `lat_p50_ms` / `lat_tail_ms`. */
  def headline: String
  /** Op kind whose median is `lat2_p50_ms`. */
  def second: String
  /** The op kinds of one pass of the deterministic interleave, in order. */
  def cycle: IndexedSeq[String]
  /** `work_per_s` and `work2_per_s`, from each op kind's median latency
    * (ms) and its mean items per op (see [[Workload.perSecond]]). */
  def throughputs(med: String => Double, items: String => Double): (Double, Double)
  /** Untimed work after set-up, before warm-up: reference answers. */
  def prepare(): Unit = ()
  /** Extra traced work after the loop of a traced run. */
  def traceExtras(): Unit = ()
  /** Untimed ops of the interleave run between set-up and the loop. */
  def warmOps: Int = cycle.size
  def setup(): Unit
  def teardown(): Unit
  /** Runs op `i` of the interleave (kind `cycle(i % cycle.size)`). */
  def step(i: Long): Unit
  /** Bytes the workload's store holds per live row, read after the run. */
  def storedBytesPerRow(): Double
  /** Entries handed to the direct partition/keys probes of a traced run. */
  def probeSample(): Probes.Sample
  /** Untimed end-of-run work whose cost the trace reports (e.g. draining
    * background folds); returns (metric name, value). */
  def drain(): Seq[(String, Double)] = Nil
  /** Workload-specific names of the generic end-to-end metrics, printed beside them. */
  def aliases: Map[String, String]
  /** Op kinds served from an index of the given partition count, for
    * `sql.partition_kept_ratio`. */
  def prunedKinds: Map[String, Int] = Map.empty
  /** Op kinds that commit to the catalog, with rows changed as items. */
  def commitKinds: Set[String] = Set.empty
  /** Op kind whose shuffle is attributed per delta row. */
  def deltaKind: Option[String] = None
}

object Workload {
  /** Throughput of the ops of `kinds` over one pass of `cycle`: their
    * weights summed over the pass, per second of their per-kind median
    * latencies summed, so a run that stops mid-pass does not skew the mix. */
  def perSecond(cycle: Seq[String], kinds: String => Boolean,
      med: String => Double, weight: String => Double): Double = {
    val ks = cycle.filter(kinds)
    ks.map(weight).sum / ks.map(med).sum * 1000.0
  }
}

object Main {
  val SetupReps = 3
  val WarmSeconds = 5.0

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val code = try run(o) catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] run failed: $e")
        e.printStackTrace()
        1
    }
    // Spark's non-daemon threads must not keep a failed run alive
    System.exit(code)
  }

  private def run(o: Opts): Int = {
    val t0 = System.nanoTime()
    val spark = Session.start(o)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val h = new Harness(spark, o)
    val w: Workload = o.workload match {
      case "serve_bulk" => new ServeBulk(h)
      case "catalog_oltp" => new CatalogOltp(h)
      case other =>
        System.err.println(s"[perfbench] unknown workload '$other'")
        spark.stop()
        return 2
    }
    val phases = ArrayBuffer("session" -> sessionS)
    def phase[T](name: String)(body: => T): T = {
      val t = System.nanoTime()
      val v = body
      phases += name -> (System.nanoTime() - t) / 1e9
      v
    }

    // set-up: the program's state built SetupReps times from scratch
    // (generation, index builds, pinning), the median reported; then
    // untimed warm-up passes on op indices the loop never uses
    val reps = if (o.trace) 1 else SetupReps
    h.tracer.setupPhase = true
    val setupS = (0 until reps).map { r =>
      if (r > 0) w.teardown()
      h.wallSeconds(w.setup())
    }
    phase("prepare")(w.prepare())
    phase("warmup") {
      // at least warmOps ops and WarmSeconds of them: the JIT is still
      // compiling graft's and Spark's paths when set-up ends
      val t = System.nanoTime()
      var j = 0
      while (j < w.warmOps || System.nanoTime() - t < WarmSeconds * 1e9) {
        w.step(Harness.warmIndex(w.cycle.size, j)); j += 1
      }
    }
    h.tracer.setupPhase = false
    val control = phase("control_init")(new Control(spark))
    val heapMb = Harness.heapAfterGcMb()
    val probes = if (o.trace) w.probeSample().run() else Map.empty[String, Double]

    // closed loop, one client: next op starts when the previous returns
    val controls = ArrayBuffer(control.time())
    val budgetNs = (o.seconds * 1e9).toLong
    var i = 0L
    var midDone = false
    val loopStart = System.nanoTime()
    var paused = 0L
    while (System.nanoTime() - loopStart - paused < budgetNs || i < w.cycle.size) {
      h.tracer.traced = o.trace && (i / w.cycle.size) % 2 == 0
      w.step(i)
      i += 1
      if (!midDone && System.nanoTime() - loopStart - paused >= budgetNs / 2) {
        val p0 = System.nanoTime()
        controls += control.time()
        paused += System.nanoTime() - p0
        midDone = true
      }
    }
    val busyNs = System.nanoTime() - loopStart - paused
    if (o.trace) phase("trace_extras") { h.tracer.traced = true; w.traceExtras() }
    h.tracer.traced = false
    if (!midDone) controls += control.time()
    controls += control.time()
    val drains = phase("drain")(w.drain())
    val bytesPerRow = w.storedBytesPerRow()
    w.teardown()

    val rep = Report.build(o, w, h.samples.toSeq, setupS, phases.toSeq, heapMb,
      bytesPerRow, controls.toSeq, busyNs, probes, h.tracer, drains, h.counters.toMap, h.injected)
    h.tracer.close()
    spark.stop()
    Harness.deleteTree(new File(o.work, "spark"))
    rep.printHuman()
    Files.write(Paths.get(o.record),
      rep.recordJson.getBytes(StandardCharsets.UTF_8))
    println(rep.resultJson)
    0
  }
}

/** Times calls into the program and records samples and oracle verdicts. */
final class Harness(val spark: SparkSession, val o: Opts) {
  val samples = ArrayBuffer.empty[Sample]
  val tracer = new Tracer(spark, o.trace, o)
  val counters = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private var checks = 0L

  /** Adds to a named count of the traced passes (e.g. keys asked/found). */
  def count(name: String, v: Double): Unit =
    if (tracer.isTracedOp) counters(name) = counters.getOrElse(name, 0.0) + v

  def wallSeconds(body: => Unit): Double = {
    val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9
  }

  /** Times `body` as one op of `kind` inside a root span of the same name;
    * returns the value for checking (untimed). */
  def timed[T](kind: String)(body: => T): (T, Long) = {
    tracer.beginOp(kind)
    val t = System.nanoTime()
    var ns = 0L
    val v = try tracer.span(kind)(body) finally ns = System.nanoTime() - t
    tracer.endOp()
    (v, ns)
  }

  /** Records a finished op with the oracle's verdict. */
  def record(kind: String, ns: Long, items: Double, ok: Boolean, what: => String): Unit = {
    if (!ok && !tracer.setupPhase)
      System.err.println(s"[perfbench] WRONG ANSWER ($kind): $what")
    if (!tracer.setupPhase) samples += Sample(kind, ns, items, ok, tracer.isTracedOp)
    else if (!ok) throw new IllegalStateException(s"wrong answer during set-up ($kind): $what")
  }

  /** Wrong answers handed to the checkers (`--inject-wrong N`). */
  var injected = 0L

  /** [[timed]] + [[record]] in one call. With `--inject-wrong N`, every
    * N-th measured answer that can be altered is altered before it reaches
    * its checker — the self-test that the checkers catch wrong answers. */
  def op[T](kind: String, items: Double = 1.0)(body: => T)(check: T => Option[String]): T = {
    val (v, ns) = timed(kind)(body)
    if (!tracer.setupPhase) checks += 1
    val wrong = if (o.injectWrong > 0 && !tracer.setupPhase && checks % o.injectWrong == 0)
      Harness.corrupt(v) else None
    wrong.foreach(_ => injected += 1)
    val err = try check(wrong.getOrElse(v).asInstanceOf[T])
      catch { case e: Throwable => Some(s"checker threw $e") }
    record(kind, ns, items, err.isEmpty, err.getOrElse(""))
    v
  }

  /** A statement through Catalyst: analysis, then `executedPlan`, then
    * execution, each its own span so a traced run splits plan from exec. */
  def collect(df: => org.apache.spark.sql.DataFrame): Array[org.apache.spark.sql.Row] = {
    val layer = tracer.currentLayer
    val d = tracer.span(s"$layer.analyze")(df)
    tracer.span(s"$layer.plan")(d.queryExecution.executedPlan)
    tracer.span(s"$layer.exec")(d.collect())
  }
}

object Harness {
  /** Op index `j` of the untimed warm-up: negative, so disjoint from the
    * loop's indices (0, 1, 2, ...), and aligned to the interleave, so
    * warm-up op 0 is the interleave's first op. */
  def warmIndex(cycleSize: Int, j: Long): Long = -1000000000L * cycleSize + j

  def heapAfterGcMb(): Double = {
    val rt = Runtime.getRuntime
    System.gc(); Thread.sleep(50); System.gc(); Thread.sleep(50)
    (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
  }

  /** A deliberately wrong copy of an answer, where one can be made: the
    * first row's fields shifted (or a row added to an empty result), a
    * multiget result missing a key, a row count off by one. */
  def corrupt(v: Any): Option[Any] = {
    import org.apache.spark.sql.Row
    def bump(r: Row): Row = Row.fromSeq(r.toSeq.map {
      case l: Long => l + 1
      case d: Double => d + 1.0
      case i: Int => i + 1
      case s: String => s + "x"
      case x => x
    })
    v match {
      case rows: Array[Row] if rows.nonEmpty => Some(rows.updated(0, bump(rows(0))))
      case _: Array[Row] => Some(Array[Row](Row(-1L)))
      case m: Map[_, _] if m.nonEmpty => Some(m.asInstanceOf[Map[Any, Any]] - m.head._1)
      case (a, c: Long) => Some((a, c + 1))
      case _ => None
    }
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Bytes Spark's block manager holds for persisted RDDs (memory + disk). */
  def cachedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum

  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(treeBytes).sum).getOrElse(0L)
    else if (f.isFile) f.length() else 0L

  def near(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))
}

object Session {
  def start(o: Opts): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val local = new File(o.work, "spark").getAbsolutePath
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.kryoserializer.buffer.max", "256m")
      .config("spark.sql.extensions", "graft.sql.GraftSqlExtension")
      .config("spark.local.dir", s"$local/local")
      .config("spark.sql.warehouse.dir", s"$local/warehouse")
      .config("spark.checkpoint.dir", s"$local/checkpoint")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"$local/checkpoint")
    spark
  }
}

/** The drift guard: a fixed plain-Spark aggregate over 200k generated
  * rows, identical in every run whatever `--seed` says, timed at the
  * start, middle and end of every run. It runs no graft code, so when it
  * moves between two sets of runs the machine moved, not the program. */
final class Control(spark: SparkSession) {
  time() // warm codegen and the shuffle path, untimed

  /** Median of three back-to-back executions, in ms. */
  def time(): Double = {
    val ts = (0 until 3).map { _ =>
      val t = System.nanoTime()
      spark.range(0L, 200000L, 1L, 8)
        .selectExpr("id % 3 AS f", "(id * 7919) % 100000 / 100.0 AS p", "id % 50 AS q")
        .groupBy("f").agg("p" -> "sum", "q" -> "avg", "*" -> "count")
        .collect()
      (System.nanoTime() - t) / 1e6
    }.sorted
    ts(1)
  }
}
