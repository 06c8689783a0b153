package graft.engine

import org.apache.spark.sql.DataFrame

/** The reference's sink: line 1 is the comma-space-joined header, then
  * one comma-space-joined row per line (printOutput at
  * /root/reference/sqlengine.py:237-241, header at :350/:361/:407);
  * "No Results Found" when the result is empty (:255-256).
  *
  * It collects the whole result to the driver and builds the output as
  * one String: it is the CLI tail of a query, after limits and
  * aggregation, mirroring the reference, which prints everything. It is
  * not a data-scale sink (those are parquet writes on the DataFrame
  * itself); a result larger than `spark.driver.maxResultSize` fails the
  * action, and `Cli.execute` reports it as one error line.
  */
object ResultFormatter {

  /** Render the full result, collected by one action run in the execution
    * mode `Engine.interprets` selects for `df`.
    */
  def render(df: DataFrame): String = render(df, Engine.interprets(df))

  /** `render` with the execution mode given. */
  private[engine] def render(df: DataFrame, interpret: Boolean): String = {
    val header = df.columns.mkString(", ")
    val rows = Engine.inMode(df, interpret)(df.collect())
    if (rows.isEmpty) s"$header\nNo Results Found"
    else (header +: rows.toSeq.map(_.toSeq.map {
      case null => "NULL"
      case v => v.toString
    }.mkString(", "))).mkString("\n")
  }
}
