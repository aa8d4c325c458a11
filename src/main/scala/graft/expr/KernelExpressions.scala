package graft.expr

import graft.kernel.Hashing
import org.apache.spark.sql.{Column, ExpressionColumns, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** A long-valued scalar kernel function: its SQL name, its argument type
  * and the static `graft.kernel.Hashing` method both evaluation paths call
  * (Scala objects emit static forwarders, so `graft.kernel.Hashing.mix(x)`
  * is a valid Java call in generated code). */
sealed abstract class KernelFn(val name: String, val argType: DataType)
    extends Serializable {
  /** Interpreted path: the value for a non-null argument. */
  def eval(arg: Any): Long
  /** Codegen path: the same call as Java source over `arg`. */
  def code(arg: String): String
}

object KernelFn {
  /** SimHash-64 over whitespace tokens (near-duplicate fingerprint). */
  case object SimHash64 extends KernelFn("graft_simhash64", StringType) {
    def eval(arg: Any): Long = Hashing.simhash64(arg.toString)
    def code(arg: String): String = s"graft.kernel.Hashing.simhash64($arg.toString())"
  }
  /** Order-sensitive rolling fingerprint of a string. */
  case object Fingerprint64 extends KernelFn("graft_fingerprint64", StringType) {
    def eval(arg: Any): Long = Hashing.rollingFingerprint(arg.toString)
    def code(arg: String): String =
      s"graft.kernel.Hashing.rollingFingerprint($arg.toString())"
  }
  /** splitmix64 finisher over a bigint — the engine-independent row hash
    * behind deterministic sampling: unlike `rand()` it is replayable under
    * task retry, and unlike `xxhash64` the DuckDB oracle re-derives it in
    * HUGEINT mod-2^64 SQL (the mixCtes of q33). */
  case object Mix64 extends KernelFn("graft_mix64", LongType) {
    def eval(arg: Any): Long = Hashing.mix(arg.asInstanceOf[Long])
    def code(arg: String): String = s"graft.kernel.Hashing.mix($arg)"
  }
  /** FNV-1a with the splitmix64 finisher over a string: the per-gram hash
    * behind DSIR buckets and Bloom probes, re-derived by the oracle's
    * HUGEINT per-character fold + mix chain. */
  case object Fnv1a64 extends KernelFn("graft_fnv1a64", StringType) {
    def eval(arg: Any): Long = Hashing.fnv1a(arg.toString, 0L)
    def code(arg: String): String = s"graft.kernel.Hashing.fnv1a($arg.toString(), 0L)"
  }
  /** Q20 fixed-point integer log2 of a positive bigint — the float-free
    * log behind DSIR, bigram-LM and BM25 scores; the oracle unrolls the
    * same 20-step digit recurrence in HUGEINT SQL. */
  case object Ilog2Q20 extends KernelFn("graft_ilog2q20", LongType) {
    def eval(arg: Any): Long = Hashing.ilog2Q20(arg.asInstanceOf[Long])
    def code(arg: String): String = s"graft.kernel.Hashing.ilog2Q20($arg)"
  }

  val all: Seq[KernelFn] = Seq(SimHash64, Fingerprint64, Mix64, Fnv1a64, Ilog2Q20)
}

/** Native Catalyst expression for a [[KernelFn]] — the custom-`Expression`
  * tier of the extension ladder (compose built-ins → native Expression →
  * custom plan): unlike a Scala UDF or a typed `Dataset.map`, it takes part
  * in whole-stage codegen — the generated Java calls the kernel's static
  * method directly on the column value, with no row deserialization, no
  * closure dispatch and no typed-boundary `DeserializeToObject`/
  * `SerializeFromObject` pair around it. Prints as `graft_<fn>(child)`. */
case class KernelFnExpr(fn: KernelFn, child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == fn.argType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a ${fn.argType.sql.toLowerCase} argument")
  override def dataType: DataType = LongType
  override def prettyName: String = fn.name
  override protected def stringArgs: Iterator[Any] = Iterator(child)

  override def nullSafeEval(input: Any): Any = fn.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, fn.code)

  override protected def withNewChildInternal(newChild: Expression): KernelFnExpr =
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

/** The one way a kernel function reaches a plan: the Column helpers build
  * the native expressions directly (through [[ExpressionColumns]]), so an
  * operator never touches the session's function registry and never
  * parses a column name as SQL. [[register]] is the SQL entry point only. */
object KernelExpressions {

  /** Idempotent registration in the session's function registry, for
    * `spark.sql` users. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    for (fn <- KernelFn.all)
      registry.createOrReplaceTempFunction(fn.name,
        exprs => KernelFnExpr(fn, exprs.head), "built-in")
    registry.createOrReplaceTempFunction("graft_shingle_hashes",
      exprs => ShingleHashesExpr(exprs.head, intArg(exprs(1))), "built-in")
    registry.createOrReplaceTempFunction("graft_minhash",
      exprs => MinHashExpr(exprs.head, intArg(exprs(1))), "built-in")
  }

  private def intArg(e: Expression): Int = {
    require(e.foldable, s"expected a constant integer argument, got ${e.sql}")
    e.eval().asInstanceOf[Number].intValue
  }

  private def kernel(fn: KernelFn, c: Column): Column =
    ExpressionColumns.column(KernelFnExpr(fn, ExpressionColumns.expression(c)))

  def simhash64(text: Column): Column = kernel(KernelFn.SimHash64, text)
  def fingerprint64(text: Column): Column = kernel(KernelFn.Fingerprint64, text)
  def mix64(x: Column): Column = kernel(KernelFn.Mix64, x)
  def fnv1a64(text: Column): Column = kernel(KernelFn.Fnv1a64, text)
  def ilog2q20(n: Column): Column = kernel(KernelFn.Ilog2Q20, n)

  /** `graft_shingle_hashes(text, k)`: word k-gram hashes. */
  def shingleHashes(text: Column, k: Int): Column =
    ExpressionColumns.column(
      ShingleHashesExpr(ExpressionColumns.expression(text), k))

  /** `graft_minhash(fps, numHashes)`: MinHash signature. */
  def minhash(fps: Column, numHashes: Int): Column =
    ExpressionColumns.column(
      MinHashExpr(ExpressionColumns.expression(fps), numHashes))
}
