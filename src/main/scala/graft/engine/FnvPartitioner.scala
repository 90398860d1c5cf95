package graft.engine

import org.apache.spark.Partitioner

/** FNV-1a 32-bit hash over a string's UTF-8 bytes, masked to 31 bits —
  * bit-identical to the reference's `ihash` (src/mr/worker.go:30-34) and, with
  * `% 12`, to the shard router `Key2Shard` (src/shardkv1/shardcfg/shardcfg.go:29-34).
  */
object Fnv1a {
  final val OffsetBasis: Long = 2166136261L
  final val Prime: Long = 16777619L
  final val Mask32: Long = 0xffffffffL

  /** Full unsigned 32-bit FNV-1a of the UTF-8 bytes of `s`, encoded on the
    * fly: no byte array per key (the shuffle partitioner calls this once
    * per emitted pair). Bit-identical to hashing `s.getBytes(UTF_8)`,
    * including the `?` it writes for an unpaired surrogate.
    */
  def hash32(s: String): Long = {
    var h = OffsetBasis
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      i += 1
      if (c < 0x80) h = mix(h, c)
      else if (c < 0x800) h = mix(mix(h, 0xc0 | (c >> 6)), 0x80 | (c & 0x3f))
      else if (!Character.isSurrogate(c))
        h = mix(mix(mix(h, 0xe0 | (c >> 12)), 0x80 | ((c >> 6) & 0x3f)),
          0x80 | (c & 0x3f))
      else if (Character.isHighSurrogate(c) && i < s.length &&
          Character.isLowSurrogate(s.charAt(i))) {
        val cp = Character.toCodePoint(c, s.charAt(i))
        i += 1
        h = mix(mix(mix(mix(h, 0xf0 | (cp >> 18)), 0x80 | ((cp >> 12) & 0x3f)),
          0x80 | ((cp >> 6) & 0x3f)), 0x80 | (cp & 0x3f))
      } else h = mix(h, '?')
    }
    h
  }

  /** One FNV-1a step: fold byte `b` (low 8 bits) into `h`. */
  @inline def mix(h: Long, b: Int): Long = ((h ^ (b & 0xffL)) * Prime) & Mask32

  /** The reference's `ihash`: FNV-1a masked to 31 bits (src/mr/worker.go:30-34). */
  def ihash(s: String): Int = (hash32(s) & 0x7fffffffL).toInt

  /** The reference's `Key2Shard` with NShards=12 (src/shardkv1/shardcfg/shardcfg.go:17-34). */
  def key2Shard(s: String, nShards: Int = 12): Int = (hash32(s) % nShards).toInt
}

/** Custom Spark partitioner reproducing the reference's shuffle routing
  * `ihash(key) % nReduce` (src/mr/worker.go:100-107) exactly.
  */
class FnvPartitioner(val nReduce: Int) extends Partitioner {
  require(nReduce > 0)
  override def numPartitions: Int = nReduce
  override def getPartition(key: Any): Int =
    Fnv1a.ihash(key.asInstanceOf[String]) % nReduce
  override def equals(other: Any): Boolean = other match {
    case p: FnvPartitioner => p.nReduce == nReduce
    case _                 => false
  }
  override def hashCode: Int = nReduce
}
