package perfbench

import scala.reflect.ClassTag

import org.apache.spark.SparkEnv

import graft.keys.KeySerializer
import graft.partition.{IndexedPartition, RadixIndexedPartition}

/** Direct in-process calls into the `partition` and `keys` layers on a
  * sample of the workload's own entries (traced runs only). Each figure
  * is the median of five repetitions, per entry or per call. */
object Probes {
  final case class Sample(run: () => Map[String, Double])

  def of[K: ClassTag, V: ClassTag](keys: Array[K], vals: Array[V],
      ser: KeySerializer[K]): Sample = Sample(() => measure(keys, vals, ser))

  private def med(reps: Int)(f: => Double): Double = Stats.median((0 until reps).map(_ => f))

  private def nsPer(n: Int)(body: => Unit): Double = {
    val t = System.nanoTime(); body; (System.nanoTime() - t).toDouble / n
  }

  /** Written once per probe run so the JIT cannot drop the measured work. */
  @volatile var sink: Long = 0L

  private def measure[K: ClassTag, V: ClassTag](keys: Array[K], vals: Array[V],
      ser: KeySerializer[K]): Map[String, Double] = {
    implicit val ks: KeySerializer[K] = ser
    val n = keys.length
    val rnd = new scala.util.Random(7)
    val order = rnd.shuffle(keys.indices.toVector).toArray
    def build(): IndexedPartition[K, V] =
      RadixIndexedPartition[K, V](keys.iterator.zip(vals.iterator))
    var acc = 0L
    val buildNs = med(5)(nsPer(n)(acc += build().size))
    val part = build()
    val getNs = med(5)(nsPer(n) {
      var i = 0
      while (i < n) { if (part(keys(order(i))).isDefined) acc += 1; i += 1 }
    })
    val upd = order.take(math.max(1, n / 20))
    val putNs = med(5)(nsPer(upd.length)(acc += part.multiput[V](
      upd.iterator.map(i => (keys(i), vals(i))), (_, v) => v, (_, _, v) => v).size))
    val scanNs = med(5)(nsPer(n)(part.foreachValue(_ => acc += 1)))
    val inst = SparkEnv.get.serializer.newInstance()
    var bytes = 0L
    val serdeNs = med(5)(nsPer(n) {
      val buf = inst.serialize(part)
      bytes = buf.remaining().toLong
      acc += inst.deserialize[IndexedPartition[K, V]](buf).size
    })
    var enc: Array[Array[Byte]] = null
    val encNs = med(5)(nsPer(n) { enc = keys.map(k => ser.toBytes(k)) })
    val decNs = med(5)(nsPer(n) { var i = 0; while (i < n) { if (ser.fromBytes(enc(i)) != null) acc += 1; i += 1 } })
    sink = acc
    Map(
      "partition.build_ns_per_entry" -> buildNs,
      "partition.get_ns" -> getNs,
      "partition.multiput_ns_per_entry" -> putNs,
      "partition.scan_ns_per_entry" -> scanNs,
      "partition.serde_ns_per_entry" -> serdeNs,
      "partition.ser_bytes_per_entry" -> bytes.toDouble / n,
      "keys.encode_ns" -> encNs,
      "keys.decode_ns" -> decNs)
  }
}
