package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit

/** [[Dq.audit]] as the close runs it, over an in-memory all-strings
  * frame read whole: no corrupt lines, and a header that is `header`, by
  * default the frame's own columns.
  */
object Audits {
  def of(raw: DataFrame, table: Dq.TableSchema, coa: Option[DataFrame] = None,
      header: Option[Seq[String]] = None): Dq.Audit = {
    val noCorruptLines = Dq.auditRows(raw.filter(lit(false)), table.name,
      lit(null), lit(null), lit("corrupt_record"), lit(null), "DataFrameSchema")
    val read = EtlIO.AuditedCsv(raw, noCorruptLines, header.getOrElse(raw.columns.toSeq))
    Dq.audit(raw.sparkSession, read, table, coa)
  }
}
