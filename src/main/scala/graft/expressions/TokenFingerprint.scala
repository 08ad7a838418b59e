package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: rolling polynomial fingerprint of the
  * space-separated tokens of a string, in ONE pass over the raw bytes.
  *
  * Semantically identical to the composed higher-order-function form
  * (graft.functions.TextFns.fingerprint over split(text, " ")):
  * per token v = ascii(first char) * 7 + length, acc = (acc*31 + v)
  * mod 1e9+7 — but HOFs are interpreted (no whole-stage codegen and
  * per-element boxed eval) while this generates a tight Java loop via
  * doGenCode. Exists to keep the text-fingerprint hot path inside
  * codegen at 100 TB; the HOF form remains the reference semantic.
  *
  * ascii() semantics match Spark's: the first CODE POINT of the token
  * (0 for an empty token); length is in characters, not bytes.
  */
case class TokenFingerprint(child: Expression)
  extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"token_fingerprint requires a string argument, got ${child.dataType}")

  override protected def nullSafeEval(input: Any): Any =
    TokenFingerprint.compute(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.TokenFingerprint.compute($c.toString());")

  override protected def withNewChildInternal(newChild: Expression): TokenFingerprint =
    copy(child = newChild)

  override def prettyName: String = "token_fingerprint"
}

object TokenFingerprint {

  val Mod: Long = 1000000007L

  /** One pass over the string; token boundaries at single spaces
    * (mirrors split(text, " "): leading/trailing/double spaces yield
    * empty tokens with v = 0).
    */
  def compute(s: String): Long = {
    var acc = 0L
    var tokenStart = 0
    var i = 0
    val n = s.length
    while (i <= n) {
      if (i == n || s.charAt(i) == ' ') {
        val len = i - tokenStart
        val first = if (len > 0) s.codePointAt(tokenStart).toLong else 0L
        // character length (code points) to match Spark's length():
        val charLen =
          if (len > 0) s.codePointCount(tokenStart, i).toLong else 0L
        val v = first * 7L + charLen
        acc = ((acc * 31L) + v) % Mod
        tokenStart = i + 1
      }
      i += 1
    }
    acc
  }
}
