package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.CodegenObjectFactoryMode
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LocalRelation, OneRowRelation}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.internal.SQLConf

import graft.Confs

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
  *
  * Execution mode. An ad-hoc query has a new shape and new literals, so
  * compiled execution generates and compiles fresh Java classes for it
  * (about 4.7 per cli_csv query, about 10 ms each) before it reads a row.
  * On small inputs that fixed cost exceeds what the compiled code saves,
  * so the engine interprets first and compiles only work large enough to
  * repay it (Kohn, Leis and Neumann, "Adaptive Execution of Compiled
  * Queries", ICDE 2018). `interprets` selects interpreted execution
  * (no whole-stage codegen, no generated expression code) when the
  * optimized plan, subqueries included, reads exactly one relation, that
  * relation's row count is known exactly (a loaded columnar cache, or
  * literal rows), and the count is at most `InterpretedRows`. Everything
  * else runs compiled: joins, and the first query on a table, whose cache
  * is not loaded yet. An interpreted query compiles nothing new, except
  * that aggregation compiles one row joiner per pair of key and buffer
  * schemas, which later queries reuse.
  *
  * The rule comes from a measured crossover, not from the benchmark's
  * tables. Interpreted / compiled median seconds per query (CLI path: run,
  * plan, collect, format) for the cli_csv generator's strata, on its
  * tables built at x0.1, x1, x2 and x10 rows (table1 200k rows and 5
  * columns at x1, table2 120k and 3, table3 60k and 3); 4-core host,
  * local[4], caches loaded, 7 queries per mode (11 at x2), modes
  * alternating:
  * {{{
  *   stratum                      x0.1       x1         x2         x10
  *   projection, star             0.40-0.66  0.49-0.74  0.41-0.82  0.29-0.70
  *   DISTINCT                     0.41-0.42  0.43-0.49  0.51-0.56  0.64-1.11
  *   aggregates                   0.62-0.67  0.73-0.98  0.87-1.15  0.78-2.05
  *   GROUP BY                     0.44-0.72  0.57-0.81  0.60-0.88  1.06-1.11
  *   ORDER BY/LIMIT               0.60-1.09  0.82-0.91  0.77-0.83  0.58-1.20
  *   2-, 3-way join rows          0.61-0.65  0.69-0.86  0.73-0.81  0.60-0.68
  *   2-, 3-way join aggregates    0.64-0.68  0.62-1.01  0.49-0.76  1.05-1.25
  * }}}
  * A second run, 15 queries per mode, on table1 at 100k, 200k, 400k and
  * 800k rows: ORDER BY/LIMIT 0.96, 1.03, 1.00, 1.17; aggregates 0.76,
  * 0.80, 0.68, 0.88 (and 2.05 at 2M). So the first single-input shape
  * stops gaining between 200k and 400k rows, and `InterpretedRows` is
  * 2^18 = 262,144 rows, inside that range; above it the heavy shapes
  * lose and the bound errs towards compiling. Joins gained at the small
  * sizes too, but lost at x10, and interpreting them (a trial with a
  * 64 MB size bound) raised the cli_csv benchmark's peak RSS by 9.5%:
  * interpreted expressions box every long they evaluate. So the
  * shape condition is one input relation, and joins run compiled.
  *
  * The bound is not a knob: it is where the measured cost of the two
  * modes meets, and a user has no better information to set it from.
  *
  * The mode is applied through the session's SQL confs, so it holds for
  * planning (whole-stage collapse) and for the action (expression
  * factories read the conf propagated with the job). A session therefore
  * runs one CLI query at a time: a query run concurrently on the same
  * session would see another query's mode.
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

  /** Most rows an interpreted query reads; see the object's doc. */
  private val InterpretedRows = 1L << 18

  private val Interpreted = Seq(
    SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key -> "false",
    SQLConf.CODEGEN_FACTORY_MODE.key -> CodegenObjectFactoryMode.NO_CODEGEN.toString)

  /** Whether `df` runs interpreted: it reads one relation of exactly
    * known size at most `InterpretedRows`. The optimized plan and its
    * statistics are memoized, so every call on one DataFrame answers
    * alike while no other query loads a cache in between.
    */
  private[engine] def interprets(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectWithSubqueries {
      case l: LeafNode => l
    } match {
      case Seq(r: InMemoryRelation) if r.cacheBuilder.isCachedColumnBuffersLoaded =>
        r.stats.rowCount.exists(_ <= InterpretedRows)
      case Seq(l: LocalRelation) => l.data.size <= InterpretedRows
      case Seq(_: OneRowRelation) => true
      case _ => false
    }

  /** `f`, planning `df` or running an action on it, under the SQL confs
    * of its execution mode.
    */
  private[engine] def inMode[T](df: DataFrame, interpret: Boolean)(f: => T): T =
    if (interpret) Confs.withSQLConf(df.sparkSession, Interpreted: _*)(f) else f

  /** Run one query text against the registered catalog views. An
    * interpreted query is planned here, under its mode's confs;
    * `ResultFormatter.render` runs its action under them again.
    */
  def run(spark: SparkSession, query: String): DataFrame = {
    val df = spark.sql(prePass(query))
    plan(df, interprets(df))
  }

  /** `df`, its physical plan built now in the interpreted mode when
    * `interpret`; otherwise planned later, compiled, by its first action.
    */
  private[engine] def plan(df: DataFrame, interpret: Boolean): DataFrame = {
    if (interpret) inMode(df, interpret)(df.queryExecution.executedPlan)
    df
  }

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
