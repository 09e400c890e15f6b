package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo,
  UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the reference's `dn2uuid`
  * (degraded/data_aggregation.py:418-420): `BigInt(sha1(cn), 16) mod
  * 10^16`. The value exceeds Long range before the mod, so built-in
  * arithmetic can't express it — the one operator in the inventory
  * needing extension code. A native expression (not a Scala UDF) keeps
  * it inside whole-stage codegen: null handling is inlined by
  * `defineCodeGen` and the kernel is a static call, no closure
  * serialization, no Row boxing.
  */
case class Sha1Mod1e16(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dn_uuid requires STRING input, got ${child.dataType.sql}")
  override def dataType: DataType = LongType
  override def prettyName: String = "dn_uuid"

  override protected def nullSafeEval(input: Any): Any =
    Sha1Mod1e16.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.Sha1Mod1e16.compute($c)")

  override protected def withNewChildInternal(newChild: Expression)
      : Sha1Mod1e16 = copy(child = newChild)
}

object Sha1Mod1e16 {
  private val TenPow16 = BigInt(10).pow(16)

  /** Static kernel invoked from generated code. */
  def compute(s: UTF8String): Long = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    val hex = md.digest(s.getBytes)
      .map(b => f"${b & 0xff}%02x").mkString
    (BigInt(hex, 16) mod TenPow16).toLong
  }

  val info: ExpressionInfo = new ExpressionInfo(
    classOf[Sha1Mod1e16].getName, "dn_uuid")

  def builder(children: Seq[Expression]): Expression = {
    require(children.length == 1,
      s"dn_uuid expects 1 argument, got ${children.length}")
    Sha1Mod1e16(children.head)
  }
}

/** Registration shim for Spark's OWN `BloomFilterMightContain`
  * expression: it is fully implemented in spark-catalyst (used by the
  * runtime-filter planner) but not exposed in the SQL function
  * registry, so the decontamination probe (`TextOps
  * .bloomDecontaminate`) could otherwise only reach it through a
  * Scala UDF — a codegen barrier on the corpus-side scan. Injected as
  * `graft_might_contain(bloomBytes, value)`; the bloom side must be
  * foldable (a binary literal of the serialized filter), exactly the
  * expression's own contract. */
object BloomMightContain {
  val info: ExpressionInfo = new ExpressionInfo(
    classOf[org.apache.spark.sql.catalyst.expressions
      .BloomFilterMightContain].getName,
    "graft_might_contain")

  def builder(children: Seq[Expression]): Expression = {
    require(children.length == 2,
      s"graft_might_contain expects 2 arguments (bloomBytes, value), " +
        s"got ${children.length}")
    org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
      children(0), children(1))
  }
}

/** Session-extension entry point: `--conf spark.sql.extensions=
  * graft.functions.GraftExtensions` registers the engine's native
  * expressions ([[GraftExtensions.functions]]) for SQL and
  * `call_function` use (Sessions.builder sets it by default;
  * `Sessions.ensureQueryConfs` registers the same list on a session
  * built without it). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    ext.injectOptimizerRule(_ => LevenshteinThreshold)
  }
}

object GraftExtensions {
  /** The engine's native SQL functions: (name, info, builder). */
  val functions
      : Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      ("dn_uuid", Sha1Mod1e16.info, Sha1Mod1e16.builder),
      ("hash60", Md5Prefix60.info, Md5Prefix60.builder),
      ("simhash_fold", SimhashFold.info, SimhashFold.builder),
      ("nfc_normalize", NfcNormalize.info, NfcNormalize.builder),
      ("shingle_hash60", ShingleHash60.info, ShingleHash60.builder),
      ("minhash_slots", MinhashSlots.info, MinhashSlots.builder),
      ("repeat_gram", RepeatGram.info, RepeatGram.builder),
      ("shingle_hash60_all", ShingleHashAll60.info,
        ShingleHashAll60.builder),
      ("graft_might_contain", BloomMightContain.info,
        BloomMightContain.builder))
}
