package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** 64-bit SimHash over a token array — a native Catalyst expression with
  * codegen, so it runs inside whole-stage codegen rather than as an
  * opaque Scala UDF.
  *
  * Algorithm (Charikar 2002, "Similarity estimation techniques from
  * rounding algorithms"): hash every token to 64 bits (xxhash64, the
  * same family Spark's built-in xxhash64 uses); for each bit position
  * keep a counter incremented when the bit is set, decremented when
  * clear; the final signature takes bit i = (counter_i > 0). Documents
  * within small edit distance land within small Hamming distance, so
  * near-dup candidate pairs come from equal fixed-width bands of the
  * signature (pigeonhole) instead of an all-pairs scan — the shuffle key
  * at 100 TB is (band_idx, 8-bit band), never document text.
  *
  * The reference's event pipeline has no sketching operator; this is a
  * scale-path addition per the LLM-pipeline charter (SURVEY.md §2c #39).
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash64 requires array<string>, got ${other.catalogString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override protected def nullSafeEval(input: Any): Any =
    SimHash64.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash64.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {
  /** Shared by interpreted eval and generated code. */
  def compute(tokens: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val s = tokens.getUTF8String(i)
        val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset,
          s.numBytes, 42L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var r = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) r |= 1L << b
      b += 1
    }
    r
  }
}

/** Column-API + SQL registration for graft's custom expressions. */
object GraftFunctions {
  def simhash64(tokens: Column): Column =
    org.apache.spark.sql.graft.Shims.column(
      SimHash64(org.apache.spark.sql.graft.Shims.expression(tokens)))

  /** SQL builder for repetition_stats with explicit arity/literal
    * checks — without them a column-valued gram size surfaces as a raw
    * NPE from eval() instead of an analysis-time message. */
  private[functions] def repetitionStatsFromSql(
      exprs: Seq[Expression]): RepetitionStats = {
    require(exprs.length == 2,
      "repetition_stats requires exactly 2 arguments: " +
        "(array<string> tokens, int gram_size)")
    require(exprs(1).foldable,
      "repetition_stats: gram_size must be a literal integer")
    // foldability alone admits NULL and non-numeric literals, which
    // would NPE / ClassCastException past the guard this builder exists
    // to provide — check the evaluated value's type too
    val v = exprs(1).eval()
    require(v != null && v.isInstanceOf[Number],
      s"repetition_stats: gram_size must be a non-null integer literal, " +
        s"got ${if (v == null) "NULL" else v.getClass.getSimpleName}")
    RepetitionStats(exprs(0), v.asInstanceOf[Number].intValue())
  }

  private def arity(name: String, n: Int)(
      f: Seq[Expression] => Expression): Seq[Expression] => Expression =
    exprs => {
      require(exprs.length == n, s"$name requires exactly $n argument(s)")
      f(exprs)
    }

  /** Builder for the (array<string> tokens, int n) n-gram kernels —
    * same literal-argument guard rationale as repetition_stats. */
  private def literalN(name: String)(
      f: (Expression, Int) => Expression): Seq[Expression] => Expression =
    exprs => {
      require(exprs.length == 2,
        s"$name requires exactly 2 arguments: (array<string> tokens, int n)")
      require(exprs(1).foldable, s"$name: n must be a literal integer")
      val v = exprs(1).eval()
      require(v != null && v.isInstanceOf[Number],
        s"$name: n must be a non-null integer literal, " +
          s"got ${if (v == null) "NULL" else v.getClass.getSimpleName}")
      f(exprs(0), v.asInstanceOf[Number].intValue())
    }

  /** (name, docs class, builder) for every SQL-callable graft function —
    * single source for both the session-level registry and the
    * extensions injection path. */
  private[functions] val sqlFunctions: Seq[
      (String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("simhash64", classOf[SimHash64],
      arity("simhash64", 1)(e => SimHash64(e.head))),
    ("array_eq_count", classOf[ArrayEqCount],
      arity("array_eq_count", 2)(e => ArrayEqCount(e(0), e(1)))),
    ("repetition_stats", classOf[RepetitionStats],
      repetitionStatsFromSql _),
    ("shingle_ngrams", classOf[ShingleNGrams],
      literalN("shingle_ngrams")((e, n) => ShingleNGrams(e, n))),
    ("minhash_sig", classOf[MinHashSig],
      literalN("minhash_sig")((e, k) => MinHashSig(e, k))),
    ("ngram_instances", classOf[NGramInstances],
      literalN("ngram_instances")((e, n) => NGramInstances(e, n))),
    ("sq8_roundtrip", classOf[Sq8Roundtrip],
      arity("sq8_roundtrip", 1)(e => Sq8Roundtrip(e.head))),
    ("sq8_stats", classOf[Sq8Stats],
      arity("sq8_stats", 1)(e => Sq8Stats(e.head))),
    ("sq8_codes", classOf[Sq8Codes],
      arity("sq8_codes", 1)(e => Sq8Codes(e.head))),
    ("sq8_decode", classOf[Sq8Decode],
      arity("sq8_decode", 3)(e => Sq8Decode(e(0), e(1), e(2)))),
    ("nearest_code", classOf[NearestCode],
      arity("nearest_code", 3)(e => NearestCode(e(0), e(1), e(2)))))

  /** Register graft functions on a session (SQL-callable). Names the
    * session already knows are kept as they are: a session built with
    * [[GraftExtensions]] has every one of them, and re-registering
    * would only replace each function with itself (and log a
    * "replaced a previously registered function" WARN per name). */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    sqlFunctions.foreach { case (name, cls, builder) =>
      val id = FunctionIdentifier(name)
      if (!registry.functionExists(id))
        registry.registerFunction(id, new ExpressionInfo(cls.getName, name),
          builder)
    }
  }
}

/** SparkSessionExtensions hook — the library-consumer path:
  * `spark.sql.extensions=graft.functions.GraftExtensions`. Registers the
  * SQL functions and injects the HOF-dot-product optimizer rewrite. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.sqlFunctions.foreach { case (name, cls, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), builder))
    }
    ext.injectOptimizerRule(_ => graft.plans.DotProductRewrite)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}
