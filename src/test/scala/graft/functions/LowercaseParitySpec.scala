package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Bit-parity pins for the native `lowercase` kernel against Spark's
  * `lower` on `UTF8_BINARY` strings: ASCII, Latin-1, sharp s, Greek
  * sigma in final and non-final position, Turkish dotted/dotless I,
  * CJK, supplementary-plane letters, invalid UTF-8, empty and null.
  * Each input is compared constant-folded (the optimizer evaluates both
  * sides interpreted) and over a non-foldable column, once under
  * whole-stage codegen and once with codegen off (rows evaluated one
  * by one). `<=>` compares the bytes, so replacement characters for
  * invalid input must match exactly too.
  */
class LowercaseParitySpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val texts: Seq[String] = Seq(
    "Hello WORLD 123 !?~",
    "ÀÉÎÕÜ àéîõü ÿ Ç Ñ Æ Ø Å",
    "Straße STRAẞE ß ẞ",
    "ΟΔΟΣ ΣΟΦΟΣ Σ ΑΣ. ΣΑ",
    "İSTANBUL Istanbul ı İ I",
    "漢字カナ 한국어 ＡＢＣ",
    "𐐀𐐁 𝔄 😀 🇦",
    "")

  /** hex of byte strings that are not valid UTF-8: a truncated 2-byte
    * sequence, a stray continuation, a truncated 3-byte sequence, an
    * encoded surrogate, a code point above U+10FFFF and a lone 0xFF
    */
  private val invalidHex = Seq("C328", "41BF42", "E282", "EDA080", "F4908080", "FF41")

  private def mismatches(df: DataFrame): Array[String] =
    df.filter(!(col("got") <=> col("want")))
      .select(concat_ws(" | ", hex(col("got")), hex(col("want")))).collect()
      .map(r => String.valueOf(r.get(0)))

  private def both(s: Column): Seq[Column] =
    Seq(Lowercase(s).as("got"), lower(s).as("want"))

  test("constant-folded lowercase equals lower on every input") {
    val one = spark.range(1).toDF()
    val folded = texts.map(t => lit(t)) ++ invalidHex.map(h => unhex(lit(h)).cast("string")) :+
      lit(null).cast("string")
    folded.foreach { c =>
      val df = one.select(both(c): _*)
      assert(!df.queryExecution.optimizedPlan.expressions.exists(_.exists(_.isInstanceOf[Lowercase])),
        "lowercase over a literal was not constant-folded")
      assert(mismatches(df).isEmpty, s"folded mismatch for $c: ${mismatches(df).mkString("; ")}")
    }
  }

  test("lowercase over a column equals lower, codegen and interpreted") {
    import spark.implicits._
    // repartition keeps the projection off the local relation, so it is
    // neither folded nor converted to a local relation by the optimizer
    val strings = (texts.map(Option(_)) :+ None).toDF("s").repartition(2)
    val bytes = invalidHex.toDF("h").repartition(2)
      .select(unhex(col("h")).cast("string").as("s"))
    val modes = Seq(("true", "FALLBACK"), ("false", "NO_CODEGEN"))
    for ((wholeStage, factory) <- modes) {
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      spark.conf.set("spark.sql.codegen.factoryMode", factory)
      try {
        Seq(strings, bytes).foreach { in =>
          val df = in.select(both(col("s")): _*)
          assert(df.collect().length == in.count())
          val codegen = find(df.queryExecution.executedPlan)(
            _.isInstanceOf[WholeStageCodegenExec]).nonEmpty
          assert(codegen == (wholeStage == "true"))
          val bad = mismatches(df)
          assert(bad.isEmpty, s"codegen=$wholeStage mismatches: ${bad.mkString("; ")}")
        }
      } finally {
        spark.conf.set("spark.sql.codegen.wholeStage", "true")
        spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
  }
}
