package graft.functions

import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

import graft.engine.Fnv1a

/** Native Catalyst expression computing the unsigned 32-bit FNV-1a hash of a
  * string's UTF-8 bytes — the reference's `ihash`/`Key2Shard` hash family
  * (src/mr/worker.go:30-34, src/shardkv1/shardcfg/shardcfg.go:29-34).
  *
  * A native `Expression` with `doGenCode` (not a Scala UDF) so it participates
  * in whole-stage codegen: the generated Java calls a static hash loop over
  * the UTF8String's bytes — no boxing, no SerDe, no codegen fence.
  * Input must be a string column (enforced by the callers in [[Hashing]]).
  */
case class Fnv1a32(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    Fnv1a32.hashUtf8(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Fnv1a32.hashUtf8($c)")

  override protected def withNewChildInternal(newChild: Expression): Fnv1a32 =
    copy(child = newChild)
}

object Fnv1a32 {
  /** Called from generated code: FNV-1a 32 over the UTF8String's bytes,
    * read in place (`getBytes` copies whenever the string points into a
    * row).
    */
  def hashUtf8(s: UTF8String): Long = {
    var h = Fnv1a.OffsetBasis
    val n = s.numBytes
    var i = 0
    while (i < n) {
      h = Fnv1a.mix(h, s.getByte(i))
      i += 1
    }
    h
  }
}

/** Column-level hashing helpers shared by the dedup / shard-routing /
  * similarity operators. All are deterministic and PORTABLE: the same value is
  * computable in ANSI-ish SQL on other engines (the DuckDB oracle included),
  * unlike Spark's Murmur3 `hash()`.
  */
object Hashing {

  /** FNV-1a 32-bit of a string column (native expression above). */
  def fnv1a32(c: Column): Column =
    GraftShim.column(Fnv1a32(GraftShim.expression(c)))

  /** The reference's shard router: `FNV-1a(key) mod nShards`
    * (src/shardkv1/shardcfg/shardcfg.go:29-34, NShards=12).
    */
  def key2shard(c: Column, nShards: Int = 12): Column =
    fnv1a32(c) % nShards

  /** Portable seeded 32-bit hash: first 8 hex digits of md5(seed || value) as
    * an unsigned int in a long — the hex/conv reference formulation of lane 0
    * of [[Md5Lanes]] (which the hot paths use; ExtensionsSpec asserts the
    * two agree). md5 is bit-identical across engines, so minhash/simhash
    * built on this family are oracle-checkable.
    */
  def md5hash32(c: Column, seed: Int): Column =
    conv(substring(md5(concat(lit(seed.toString + ":"), c)), 1, 8), 16, 10)
      .cast(LongType)
}
