package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Fnv1a, FnvPartitioner}
import graft.functions.Hashing

class Fnv1aSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("FNV-1a 32 reference vectors") {
    // Published FNV-1a test vectors (public domain algorithm spec).
    assert(Fnv1a.hash32("") == 0x811c9dc5L)
    assert(Fnv1a.hash32("a") == 0xe40c292cL)
    assert(Fnv1a.hash32("foobar") == 0xbf9cf968L)
    // U+1D11E (a surrogate pair in UTF-16): its 4 UTF-8 bytes F0 9D 84 9E.
    assert(Fnv1a.hash32("\uD834\uDD1E") == 0x3b79d038L)
    // Unpaired surrogates hash as the '?' that String.getBytes(UTF_8)
    // substitutes for them.
    assert(Fnv1a.hash32("\uD800") == 0x3a0cb08eL)
    assert(Fnv1a.hash32("a\uDC00b") == 0x1ab552d1L)
  }

  test("hash32 equals FNV-1a over String.getBytes(UTF_8) at every width") {
    def viaBytes(s: String): Long =
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        .foldLeft(Fnv1a.OffsetBasis)((h, b) => Fnv1a.mix(h, b))
    for (s <- Seq("", "a", "\u007f", "\u0080", "\u07ff", "\u0800", "é中",
        "\uffff", "\uD834\uDD1E", "x\uDBFF\uDFFFy", "\uD800", "\uDC00\uD800",
        "\uD800a", "a\uDC00", "\uD834\uD834\uDD1E"))
      assert(Fnv1a.hash32(s) == viaBytes(s), s"mismatch for ${s.map(_.toInt)}")
  }

  test("ihash masks to 31 bits and key2shard stays in range") {
    for (s <- Seq("", "a", "xyzzy", "key-42", "é中")) {
      assert(Fnv1a.ihash(s) >= 0)
      assert(Fnv1a.ihash(s) == (Fnv1a.hash32(s) & 0x7fffffffL).toInt)
      val sh = Fnv1a.key2Shard(s)
      assert(sh >= 0 && sh < 12)
    }
  }

  test("native expression matches the Scala implementation, incl non-ASCII") {
    import spark.implicits._
    val keys = Seq("", "a", "foobar", "hello world", "été", "中文",
      "\uD834\uDD1E")
    val got = keys.toDF("k")
      .select(col("k"), Hashing.fnv1a32(col("k")).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    keys.foreach(k => assert(got(k) == Fnv1a.hash32(k), s"mismatch for '$k'"))
  }

  test("FnvPartitioner routes like the reference ihash % nReduce") {
    val p = new FnvPartitioner(10)
    for (k <- Seq("a", "b", "xyzzy", "the"))
      assert(p.getPartition(k) == Fnv1a.ihash(k) % 10)
  }
}
