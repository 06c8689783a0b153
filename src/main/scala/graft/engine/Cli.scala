package graft.engine

import java.io.{FileNotFoundException, PrintStream}

import org.apache.spark.SparkException
import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.catalyst.parser.ParseException

/** CLI mirroring the reference's only entry point (`20172086.sh:1` →
  * `python sqlengine.py "<query>"`): query text as argv(0), data
  * directory (metadata.txt + CSVs) as optional argv(1), result printed in
  * the reference format. Errors come out as clean one-line messages
  * instead of raw tracebacks (SURVEY.md §2.11).
  */
object Cli {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: graft.engine.Cli \"<sql query>\" [dataDir]")
      sys.exit(1)
    }
    val query = args(0)
    val dir = if (args.length > 1) args(1) else "."
    val spark = graft.GraftSession
      .builder(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .appName("graft-cli")
      .getOrCreate()
    // failures reach the user as execute's one line, not as Spark's
    // task-failure logs with their stack traces
    spark.sparkContext.setLogLevel("OFF")
    val code = try execute(spark, query, dir, System.out, System.err)
      finally spark.stop()
    if (code != 0) sys.exit(code)
  }

  /** Bootstrap `dir`, run `query` and print its result to `out`; the exit
    * code. A user error is one line on `err`: `parse error:` (exit 3) for
    * a query Spark cannot parse, `error:` (exit 2) for an unknown column
    * or table, a missing or malformed catalog file, or a CSV that cannot
    * be read as integers.
    */
  def execute(spark: SparkSession, query: String, dir: String,
      out: PrintStream, err: PrintStream): Int = {
    def fail(code: Int, line: String): Int = { err.println(line); code }
    try {
      val run = Engine.forDirectory(spark, dir)
      out.println(ResultFormatter.render(run(query)))
      0
    } catch {
      // ParseException is an AnalysisException: match it first
      case e: ParseException =>
        fail(3, s"parse error: ${firstLine(e.getMessage)}")
      case e: AnalysisException => fail(2, s"error: ${e.getSimpleMessage}")
      case e: FileNotFoundException =>
        fail(2, s"error: cannot read catalog ${e.getMessage}")
      case e: IllegalArgumentException =>
        fail(2, s"error: ${firstLine(e.getMessage)}")
      case e: SparkException
          if Option(e.getCondition).exists(_.startsWith("FAILED_READ_FILE")) =>
        fail(2, s"error: ${firstLine(e.getMessage)}" +
          Option(e.getCause).map(c => s": ${firstLine(c.getMessage)}")
            .getOrElse(""))
    }
  }

  private def firstLine(s: String): String =
    Option(s).flatMap(_.linesIterator.nextOption()).getOrElse("")
}
