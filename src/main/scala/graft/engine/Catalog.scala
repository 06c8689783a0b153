package graft.engine

import scala.io.Source

import org.apache.spark.sql.types._

/** The reference's external catalog: `metadata.txt` blocks of
  * `<begin_table>` / table name / one attribute per line / `<end_table>`
  * (format parsed at /root/reference/sqlengine.py:72-90; spec in the
  * assignment PDF p.1 §Dataset.3). All columns are integers by mandate,
  * so every attribute maps to LongType.
  */
object Catalog {

  /** Parse a metadata.txt into table -> schema, preserving attribute
    * order (the reference keys projection and star expansion off it).
    * A block with no `<end_table>`, a line outside any block, an
    * `<end_table>` before a table name, or a second block for a table
    * name already defined (compared case-insensitively, as Spark
    * resolves views) raises IllegalArgumentException naming the table
    * or the line.
    */
  def parse(lines: Iterator[String]): Map[String, StructType] = {
    val out = scala.collection.mutable.LinkedHashMap[String, StructType]()
    // lower-cased name -> (name, line of its <begin_table>)
    val begun = scala.collection.mutable.Map[String, (String, Int)]()
    var begin = 0 // line of the open block's <begin_table>, 0 outside one
    var table: Option[String] = None
    var cols = Vector.empty[String]
    def unterminated = s"the block of table ${table.getOrElse("<unnamed>")}" +
      s" begun on line $begin has no <end_table>"
    def malformed(msg: String) = throw new IllegalArgumentException(msg)
    for ((raw, i) <- lines.zipWithIndex; n = i + 1; line = raw.trim
         if line.nonEmpty) line match {
      case "<begin_table>" =>
        if (begin > 0) malformed(s"$unterminated (line $n begins another)")
        begin = n; table = None; cols = Vector.empty
      case "<end_table>" =>
        if (begin == 0) malformed(s"line $n: <end_table> outside a block")
        val t = table.getOrElse(
          malformed(s"line $n: <end_table> before a table name"))
        out(t) = StructType(cols.map(c => StructField(c, LongType)))
        begin = 0
      case _ =>
        if (begin == 0) malformed(s"line $n: \"$line\" is outside a " +
          "<begin_table> ... <end_table> block")
        if (table.isEmpty) {
          val key = line.toLowerCase(java.util.Locale.ROOT)
          for ((first, at) <- begun.get(key)) malformed(s"table $line " +
            s"begun on line $begin repeats table $first begun on line $at")
          begun(key) = (line, begin)
          table = Some(line)
        } else cols :+= line
    }
    if (begin > 0) malformed(unterminated)
    out.toMap
  }

  /** `parse` a catalog file; a malformed one raises
    * IllegalArgumentException prefixed with its path.
    */
  def load(metadataPath: String): Map[String, StructType] = {
    val src = Source.fromFile(metadataPath)
    try parse(src.getLines())
    catch {
      case e: IllegalArgumentException =>
        throw new IllegalArgumentException(s"$metadataPath: ${e.getMessage}", e)
    } finally src.close()
  }
}
