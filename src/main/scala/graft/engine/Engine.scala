package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The thin shell SURVEY.md §7.1 calls for: `spark.sql` + Catalyst IS the
  * engine; what the reference uniquely specifies is the catalog bootstrap
  * (Catalog/CsvCatalogSource), a two-token dialect pre-pass, and the
  * output format (ResultFormatter).
  *
  * Deliberate deviations from reference bugs (SURVEY.md §7.5, each
  * asserted in EngineSpec): aggregates respect WHERE, aggregate names are
  * case-insensitive, negative literals work, explicit JOIN syntax works,
  * ORDER BY / LIMIT / GROUP BY execute instead of being ignored, unknown
  * columns raise instead of returning silent emptiness, ambiguous
  * unqualified columns raise AMBIGUOUS_REFERENCE instead of fanning out.
  */
object Engine {

  /** Dialect pre-pass (SURVEY.md §7.3.3): the reference's grammar treats
    * `==` as `=` (sqlengine.py:139,178-179 / parser.py:77). Everything
    * else it accepts is already ANSI, so this is a single token rewrite —
    * applied outside string literals, line comments, and bracketed
    * comments (an apostrophe inside a comment must not flip the
    * string-literal state for the rest of the query).
    */
  def prePass(query: String): String = {
    val out = new StringBuilder
    var inStr = false
    var i = 0
    val n = query.length
    def at(j: Int, c: Char) = j < n && query.charAt(j) == c
    while (i < n) {
      val c = query.charAt(i)
      if (inStr) {
        // '' and \' are escaped quotes inside a literal (Spark's lexer
        // accepts both); copy the escape pair and stay inside
        if (c == '\\' && i + 1 < n) { out += c; out += query.charAt(i + 1); i += 2 }
        else if (c == '\'' && at(i + 1, '\'')) { out ++= "''"; i += 2 }
        else { if (c == '\'') inStr = false; out += c; i += 1 }
      } else if (c == '\'') { inStr = true; out += c; i += 1 }
      else if (c == '-' && at(i + 1, '-')) {
        val end = query.indexOf('\n', i)
        val stop = if (end < 0) n else end
        out ++= query.substring(i, stop); i = stop
      } else if (c == '/' && at(i + 1, '*')) {
        // bracketed comments nest in Spark's lexer
        var depth = 1
        var j = i + 2
        while (j < n && depth > 0) {
          if (at(j, '/') && at(j + 1, '*')) { depth += 1; j += 2 }
          else if (at(j, '*') && at(j + 1, '/')) { depth -= 1; j += 2 }
          else j += 1
        }
        out ++= query.substring(i, j); i = j
      } else if (c == '=' && at(i + 1, '=')) { out += '='; i += 2 }
      else { out += c; i += 1 }
    }
    out.toString
  }

  /** Run one query text against the registered catalog views. */
  def run(spark: SparkSession, query: String): DataFrame =
    spark.sql(prePass(query))

  /** Bootstrap a data directory (metadata.txt + CSVs) and return a
    * runner — the whole reference lifecycle (sqlengine.py:384-410) as a
    * closure over the session. Each table is read on first use and held
    * for the session in Spark's columnar cache, spilling to local disk
    * rather than running out of memory; a file rewritten afterwards is
    * seen only once the directory is bootstrapped again, as the reference
    * sees only what it loaded at startup (CsvCatalogSource.registerAll).
    */
  def forDirectory(spark: SparkSession, dir: String): String => DataFrame = {
    val catalog = Catalog.load(s"$dir/metadata.txt")
    CsvCatalogSource.registerAll(spark, dir, catalog)
    q => run(spark, q)
  }
}
