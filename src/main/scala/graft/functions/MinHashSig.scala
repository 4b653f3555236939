package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** k-wide MinHash signature over a shingle array as ONE native kernel:
  * `minhash_sig(shingles, k)` returns array<int> with element j =
  * min over shingles of murmur3(seed_j, shingle), bit-identical to the
  * composable formulation the streaming dedup used through r21 —
  * `array((0 until k).map(j => array_min(transform(shingles, s =>
  * hash(lit(j), s)))))` — because it replays Spark's Murmur3Hash
  * evaluation exactly: seed 42 → `Murmur3_x86_32.hashInt(j, 42)` for
  * the literal int, then `Murmur3_x86_32.hashUnsafeBytes(bytes, h_j)`
  * for the string (a NULL shingle leaves the running hash at h_j, the
  * Murmur3Hash null rule; an empty or NULL input yields the k-NULL
  * array `array_min(empty | NULL) = null` produced). MinHashSigSpec pins the
  * kernel to the HOF formulation element-for-element on random input.
  *
  * Why a kernel (guide §1.2 per-task work / the SimHash64 precedent):
  * the HOF form evaluates k interpreted `transform` lambdas + k
  * `array_min`s per DOCUMENT — k·|shingles| boxed expression frames
  * (~9M per 20k-doc micro-batch at k=16) on the hot path of the
  * streaming near-dup sink, where this kernel is one virtual call per
  * row with a tight primitive loop.
  */
case class MinHashSig(child: Expression, k: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if k >= 1 => TypeCheckResult.TypeCheckSuccess
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig requires k >= 1, got $k")
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig requires array<string>, got ${other.catalogString}")
  }
  // element NULL only for a NULL or empty shingle set — the
  // array_min(NULL / empty) contract of the formulation this kernel
  // replaces, whose array(...) constructor is itself never NULL
  override def dataType: DataType = ArrayType(IntegerType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "minhash_sig"

  override def eval(input: InternalRow): Any =
    MinHashSig.compute(child.eval(input).asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        graft.functions.MinHashSig.compute(${c.isNull} ? null : ${c.value}, $k);
    """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {
  /** Shared by interpreted eval and generated code; a NULL input is the
    * empty shingle set. */
  def compute(shingles: ArrayData, k: Int): ArrayData = {
    val n = if (shingles == null) 0 else shingles.numElements()
    if (n == 0) return new GenericArrayData(new Array[Any](k))
    // h_j = murmur3 of the int literal j under Spark's seed 42 — the
    // running hash Murmur3Hash(Seq(lit(j), s)) carries into the string
    val seeds = new Array[Int](k)
    var j = 0
    while (j < k) { seeds(j) = Murmur3_x86_32.hashInt(j, 42); j += 1 }
    val mins = new Array[Int](k)
    java.util.Arrays.fill(mins, Int.MaxValue)
    var i = 0
    while (i < n) {
      if (shingles.isNullAt(i)) {
        // Murmur3Hash of a NULL child returns the seed unchanged
        j = 0
        while (j < k) {
          if (seeds(j) < mins(j)) mins(j) = seeds(j)
          j += 1
        }
      } else {
        val s = shingles.getUTF8String(i)
        val base = s.getBaseObject
        val off = s.getBaseOffset
        val len = s.numBytes
        j = 0
        while (j < k) {
          val h = Murmur3_x86_32.hashUnsafeBytes(base, off, len, seeds(j))
          if (h < mins(j)) mins(j) = h
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  def column(shingles: Column, k: Int): Column =
    org.apache.spark.sql.graft.Shims.column(
      MinHashSig(org.apache.spark.sql.graft.Shims.expression(shingles), k))
}
