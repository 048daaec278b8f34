package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** JVM kernel behind the native `lowercase(str)` scalar.
  *
  * Spark 4.1.2's `lower` on a `UTF8_BINARY` string (with the default
  * `spark.sql.icu.caseMappings.enabled=true`) calls
  * `CollationAwareUTF8String.toLowerCase`, whose static initializer walks
  * all 1,114,112 code points through ICU's `toTitleCase` to fill a
  * title-case table that `lower` never reads. `Class.forName` on that
  * class took 1.93–2.08 s in a cold JVM (3 runs, 4-core Xeon VM), and
  * the first `lower` in a JVM pays it on whichever thread evaluates it
  * first: the planning thread when the call is constant-folded, a task
  * otherwise. This kernel is the same computation without that class:
  * ASCII input through `toLowerCaseAscii`, anything else through ICU's
  * `UCharacter.toLowerCase` over the string's valid-UTF-8 form (a first
  * direct call took 17–27 ms of ICU class loading). Its output is
  * therefore bit-identical to `lower`'s, invalid UTF-8 included;
  * `LowercaseParitySpec` pins that on both the interpreted and the
  * codegen path.
  *
  * Rule: the etl and corpus paths never call Spark's `lower`, `upper` or
  * `initcap`; they call this kernel. The query battery (`graft/queries`)
  * keeps Spark's functions: they are the oracle-pinned SQL surface.
  *
  * To check that a run no longer pays the table build, record it with
  * JFR: run the `java` command that `perfbench/run.py` builds (in a
  * scratch copy of the repo) by hand with
  * `-XX:StartFlightRecording=filename=run.jfr,settings=profile` added,
  * then `jfr print --events jdk.ExecutionSample run.jfr` must show no
  * frame in `com.ibm.icu` or `CollationAwareUTF8String.<clinit>`.
  */
object LowercaseOps {
  def lowercase(s: UTF8String): UTF8String =
    if (s.isFullAscii) s.toLowerCaseAscii
    else UTF8String.fromString(com.ibm.icu.lang.UCharacter.toLowerCase(s.toValidString))
}

/** `lowercase(str)`: Spark's `lower` on `UTF8_BINARY` strings as one
  * codegen'd scalar, without the first-call ICU table build (see
  * [[LowercaseOps]]).
  */
case class Lowercase(child: Expression) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = StringType
  override def prettyName: String = "lowercase"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects string, got ${other.simpleString}")
  }
  override protected def withNewChildInternal(newChild: Expression): Lowercase =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    LowercaseOps.lowercase(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.LowercaseOps.lowercase($c)")
}

object Lowercase {
  def apply(str: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graftbridge.NativeColumn
    NativeColumn(Lowercase(NativeColumn.expressionOf(str)))
  }
}
