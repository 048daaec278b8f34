package graft.etl

import org.apache.spark.sql.DataFrame

/** [[Validator.audit]] as the close runs it, over an in-memory
  * all-strings frame read whole: no corrupt lines, and a header that is
  * `header`, by default the frame's own columns.
  */
object Audits {
  def of(raw: DataFrame, table: Dq.TableSchema, coa: Option[DataFrame] = None,
      header: Option[Seq[String]] = None): Validator.Audit = {
    val spark = raw.sparkSession
    val read = EtlIO.AuditedCsv(raw, Dq.emptyExceptions(spark).drop("severity"),
      header.getOrElse(raw.columns.toSeq))
    Validator.audit(spark, read, table, coa)
  }
}
