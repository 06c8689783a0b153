package graft.engine

import org.apache.spark.sql.DataFrame

/** The reference's sink: line 1 is the comma-space-joined header, then
  * one comma-space-joined row per line (printOutput at
  * /root/reference/sqlengine.py:237-241, header at :350/:361/:407);
  * "No Results Found" when the result is empty (:255-256).
  *
  * Collecting to the driver is the point here — this formatter exists for
  * the CLI tail of a query, after limits/aggregation, mirroring the
  * reference contract. It is not a data-scale sink (those are parquet
  * writes on the DataFrame itself).
  */
object ResultFormatter {

  /** Render the full result (reference parity: it prints everything).
    * Streams rows through toLocalIterator instead of collect(), so the
    * driver holds one PARTITION at a time, not the whole result — the
    * difference between "slow" and "OOM" if the shell is pointed at a
    * big table.
    */
  def render(df: DataFrame): String = {
    val header = df.columns.mkString(", ")
    val it = df.toLocalIterator()
    if (!it.hasNext) s"$header\nNo Results Found"
    else {
      val sb = new StringBuilder(header)
      while (it.hasNext) {
        sb += '\n'
        sb ++= it.next().toSeq.map {
          case null => "NULL"
          case v => v.toString
        }.mkString(", ")
      }
      sb.toString
    }
  }
}
