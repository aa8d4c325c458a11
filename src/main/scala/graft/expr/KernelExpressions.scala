package graft.expr

import graft.kernel.Hashing
import org.apache.spark.sql.{Column, ExpressionColumns, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the kernel's hash functions.
  *
  * These are the custom-`Expression` tier of the extension ladder (compose
  * built-ins → native Expression → custom plan): unlike a Scala UDF or a
  * typed `Dataset.map`, they participate in whole-stage codegen — the
  * generated Java calls the kernel's static method directly on the
  * column's UTF8String, with no row deserialization, no closure dispatch
  * and no typed-boundary `DeserializeToObject`/`SerializeFromObject` pair
  * around them. Used by Dedup.simhashNearDups so the whole candidate
  * pipeline stays inside codegen. (Scala objects emit static forwarders,
  * so `graft.kernel.Hashing.simhash64(String)` is a valid Java call in
  * generated code.)
  */
case class SimHash64Expr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string argument")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash64"

  override def nullSafeEval(input: Any): Any =
    Hashing.simhash64(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.kernel.Hashing.simhash64($c.toString())")

  override protected def withNewChildInternal(newChild: Expression): SimHash64Expr =
    copy(child = newChild)
}

case class RollingFingerprintExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string argument")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_fingerprint64"

  override def nullSafeEval(input: Any): Any =
    Hashing.rollingFingerprint(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.kernel.Hashing.rollingFingerprint($c.toString())")

  override protected def withNewChildInternal(newChild: Expression): RollingFingerprintExpr =
    copy(child = newChild)
}

/** splitmix64 finisher over a LONG column — the engine-independent row
  * hash behind deterministic sampling (ScalePatterns.stratifiedSample):
  * unlike `rand()` it is replayable under task retry, and unlike
  * `xxhash64` it is re-derivable in the DuckDB oracle's HUGEINT mod-2^64
  * SQL (the same mixCtes used by q33). */
case class Mix64Expr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a bigint argument")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_mix64"

  override def nullSafeEval(input: Any): Any =
    Hashing.mix(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.kernel.Hashing.mix($c)")

  override protected def withNewChildInternal(newChild: Expression): Mix64Expr =
    copy(child = newChild)
}

/** Kernel FNV-1a (with the splitmix64 finisher baked in — see
  * Hashing.fnv1a) over a STRING column: the per-gram hash behind DSIR
  * bucket assignment (TextOps.dsirBucketWeights). Engine-independent and
  * re-derivable in the oracle's HUGEINT per-character fold + mix chain. */
case class Fnv1a64Expr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string argument")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_fnv1a64"

  override def nullSafeEval(input: Any): Any =
    Hashing.fnv1a(input.asInstanceOf[UTF8String].toString, 0L)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.kernel.Hashing.fnv1a($c.toString(), 0L)")

  override protected def withNewChildInternal(newChild: Expression): Fnv1a64Expr =
    copy(child = newChild)
}

/** Q20 fixed-point integer log2 (Hashing.ilog2Q20) over a positive LONG
  * column — the float-free log behind DSIR's importance weights. The
  * DuckDB oracle unrolls the identical 20-step digit recurrence in
  * HUGEINT SQL, so log-ratio scores are integer-exact cross-engine. */
case class Ilog2Q20Expr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a bigint argument")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_ilog2q20"

  override def nullSafeEval(input: Any): Any =
    Hashing.ilog2Q20(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.kernel.Hashing.ilog2Q20($c)")

  override protected def withNewChildInternal(newChild: Expression): Ilog2Q20Expr =
    copy(child = newChild)
}

/** Word k-gram hashes of a string: element i is Spark's
  * `xxhash64(array_join(slice(split(text, " ", -1), i + 1, k), " "))`, in
  * token-position order, `max(0, tokens - k + 1)` elements. One byte scan
  * finds the token boundaries and each k-gram is hashed in place as the
  * byte range from its first to its last token — the text is never
  * re-split, and no per-gram string is built. Values are bit-identical to
  * the built-in composition (and to the DuckDB `xxh64StrCtes` oracle). */
case class ShingleHashesExpr(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, s"graft_shingle_hashes needs k >= 1, got $k")
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string argument")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_hashes"

  override def nullSafeEval(input: Any): Any =
    Sketches.shingleHashes(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.Sketches.shingleHashes($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashesExpr =
    copy(child = newChild)
}

/** MinHash signature over 64-bit fingerprints: `sig[s] = min over x of
  * xxhash64(x, s)` for s in [0, numHashes), i.e. Spark's two-column
  * xxhash64 (`hashLong(s, hashLong(x, 42))`), so the DuckDB
  * `xxh64LongCtes`/`lshBandCtes` oracles re-derive it unchanged. An empty
  * array gives numHashes × Long.MaxValue; a null element hashes as
  * `xxhash64(null, s)` does (the null column is skipped). */
case class MinHashExpr(child: Expression, numHashes: Int) extends UnaryExpression {
  require(numHashes >= 1, s"graft_minhash needs numHashes >= 1, got $numHashes")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName requires an array<bigint> argument")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash"

  override def nullSafeEval(input: Any): Any =
    Sketches.minhash(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.Sketches.minhash($c, $numHashes)")

  override protected def withNewChildInternal(newChild: Expression): MinHashExpr =
    copy(child = newChild)
}

/** The row kernels behind [[ShingleHashesExpr]] and [[MinHashExpr]],
  * called directly from generated code. */
object Sketches {
  private val Seed = 42L

  def shingleHashes(text: UTF8String, k: Int): ArrayData = {
    // `split` decodes through toString, which replaces malformed bytes
    val s = if (text.isValid) text else UTF8String.fromString(text.toString)
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    var spaces = 0
    var j = 0
    while (j < n) {
      if (Platform.getByte(base, off + j) == ' ') spaces += 1
      j += 1
    }
    val tokens = spaces + 1
    val grams = math.max(0, tokens - k + 1)
    val out = new Array[Long](grams)
    if (grams > 0) {
      // bound(t) = byte index of the space before token t (-1 for t = 0,
      // n for t = tokens): token t spans [bound(t) + 1, bound(t + 1))
      val bound = new Array[Int](tokens + 1)
      bound(0) = -1
      bound(tokens) = n
      var t = 1
      j = 0
      while (j < n) {
        if (Platform.getByte(base, off + j) == ' ') { bound(t) = j; t += 1 }
        j += 1
      }
      var i = 0
      while (i < grams) {
        val from = bound(i) + 1
        out(i) = XXH64.hashUnsafeBytes(base, off + from, bound(i + k) - from, Seed)
        i += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  def minhash(fps: ArrayData, numHashes: Int): ArrayData = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < fps.numElements()) {
      val h = if (fps.isNullAt(i)) Seed else XXH64.hashLong(fps.getLong(i), Seed)
      var s = 0
      while (s < numHashes) {
        val v = XXH64.hashLong(s.toLong, h)
        if (v < sig(s)) sig(s) = v
        s += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }
}

object KernelExpressions {

  /** Idempotent registration in the session's function registry; the
    * expressions are then usable from SQL and via the Column helpers. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    registry.createOrReplaceTempFunction("graft_simhash64",
      exprs => SimHash64Expr(exprs.head), "built-in")
    registry.createOrReplaceTempFunction("graft_fingerprint64",
      exprs => RollingFingerprintExpr(exprs.head), "built-in")
    registry.createOrReplaceTempFunction("graft_mix64",
      exprs => Mix64Expr(exprs.head), "built-in")
    registry.createOrReplaceTempFunction("graft_fnv1a64",
      exprs => Fnv1a64Expr(exprs.head), "built-in")
    registry.createOrReplaceTempFunction("graft_ilog2q20",
      exprs => Ilog2Q20Expr(exprs.head), "built-in")
    registry.createOrReplaceTempFunction("graft_shingle_hashes",
      exprs => ShingleHashesExpr(exprs.head, intArg(exprs(1))), "built-in")
    registry.createOrReplaceTempFunction("graft_minhash",
      exprs => MinHashExpr(exprs.head, intArg(exprs(1))), "built-in")
  }

  private def intArg(e: Expression): Int = {
    require(e.foldable, s"expected a constant integer argument, got ${e.sql}")
    e.eval().asInstanceOf[Number].intValue
  }

  /** Column helpers (register + refer by name — version-stable across the
    * Spark 4 Column/ColumnNode split). */
  def simhash64(spark: SparkSession, colName: String): Column = {
    register(spark)
    expr(s"graft_simhash64($colName)")
  }

  def fingerprint64(spark: SparkSession, colName: String): Column = {
    register(spark)
    expr(s"graft_fingerprint64($colName)")
  }

  def mix64(spark: SparkSession, colName: String): Column = {
    register(spark)
    expr(s"graft_mix64($colName)")
  }

  /** `graft_shingle_hashes(text, k)` and `graft_minhash(fps, numHashes)`
    * as Columns — built from the expression directly, so they need no
    * registered session. */
  def shingleHashes(text: Column, k: Int): Column =
    ExpressionColumns.column(
      ShingleHashesExpr(ExpressionColumns.expression(text), k))

  def minhash(fps: Column, numHashes: Int): Column =
    ExpressionColumns.column(
      MinHashExpr(ExpressionColumns.expression(fps), numHashes))
}
