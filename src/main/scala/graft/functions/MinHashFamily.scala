package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Universal-hash family for MinHash sketches, shared between the
  * query-side expressions ([[graft.queries.DedupQueries]]) and the typed
  * [[MinHashSketchAgg]] aggregator, and reproduced verbatim in the DuckDB
  * oracles: h_i(x) = (a_i·x + b_i) mod P over an md5-derived 48-bit base,
  * P = 1e9+7 so products stay < 2^63. Constants are arbitrary fixed
  * values; what matters is both engines compute the same ones.
  */
object MinHashFamily {
  val P: Long = 1000000007L
  val H: Int = 16

  def a(i: Int): Long = 2654435761L % P * (2 * i + 1) % P
  def b(i: Int): Long = (40503L * (i + 7) * (i + 7) + 17) % P

  def hash(i: Int, base: Long): Long = (a(i) * base + b(i)) % P

  /** SQL literal arrays for oracles (1-indexed in DuckDB). */
  def aSql: String = (0 until H).map(a).mkString("[", ", ", "]")
  def bSql: String = (0 until H).map(b).mkString("[", ", ", "]")

  /** JVM-side twin of the SQL base computation (fold of the first 12 md5
    * hex digits, mod P) — used by the streaming sketch updater; must stay
    * digit-for-digit identical to [[basesFromShinglesExprSql]].
    */
  def base(t: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString.substring(0, 12)
    hex.foldLeft(0L)((b, c) => b * 16 + "0123456789abcdef".indexOf(c)) % P
  }

  /** word-bigram shingles (split on single spaces keeping empties,
    * <2 words → none). NOTE: duplicates are RETAINED — unlike the
    * query-side withShingles, which applies array_distinct. That is
    * harmless for the min-sketch consumer (min is idempotent under
    * repeats), but do NOT use this for set-cardinality/Jaccard math;
    * apply .distinct first if set semantics are needed.
    */
  def shingles(text: String): Iterator[String] = {
    val w = text.split(" ", -1)
    if (w.length < 2) Iterator.empty
    else w.iterator.sliding(2).withPartial(false).map(_.mkString(" "))
  }

  /** array of bases for an array-of-strings column, ONE md5 per element:
    * the inner transform materializes each md5 hex string once, the outer
    * lambda folds its first 12 digits. Narrow per-row work — no explode,
    * no shuffle — shared by the LSH signature build and the sketch UDAF.
    */
  def basesFromShinglesExprSql(arrCol: String): String =
    s"""transform(transform($arrCol, t -> md5(t)), h ->
       |  aggregate(transform(sequence(1, 12),
       |    i -> instr('0123456789abcdef', substring(h, i, 1)) - 1),
       |    cast(0 as bigint), (b, c) -> b * 16 + c) % $P)""".stripMargin
}

/** Typed MinHash-sketch aggregator (SURVEY §7.3: a custom Aggregator for
  * sketch-merge): per group, the element-wise minimum of the H universal
  * hashes over all input bases. Sketches merge associatively and
  * commutatively, so Spark is free to partial-aggregate map-side and
  * merge across partitions — the property that makes sketching work on a
  * 1000-executor shuffle. `finish` renders the signature as a joined
  * string for engine-portable comparison.
  */
class MinHashSketchAgg extends Aggregator[Long, Array[Long], String] {
  import MinHashFamily._

  override def zero: Array[Long] = Array.fill(H)(Long.MaxValue)

  override def reduce(buf: Array[Long], base: Long): Array[Long] = {
    var i = 0
    while (i < H) {
      val h = hash(i, base)
      if (h < buf(i)) buf(i) = h
      i += 1
    }
    buf
  }

  override def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
    var i = 0
    while (i < H) { if (y(i) < x(i)) x(i) = y(i); i += 1 }
    x
  }

  override def finish(buf: Array[Long]): String = buf.mkString("|")

  override def bufferEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[String] = Encoders.STRING
}
