package graft.engine

import java.nio.file.{Files, Path}

import org.apache.spark.SparkException
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.types.StructType

import graft.SparkTestBase

/** The load-once contract of CsvCatalogSource.registerAll on temp-dir
  * catalogs: registration is lazy, the first query parses a table into
  * the columnar cache and later queries scan it, re-registration never
  * serves stale rows, and a malformed cell fails instead of reading as
  * NULL.
  */
class CsvCatalogSourceSpec extends SparkTestBase with AdaptiveSparkPlanHelper {
  import CsvCatalogSourceSpec._

  private def sumOf(table: String, col: String): Long =
    Engine.run(spark, s"select sum($col) from $table").collect()(0).getLong(0)

  test("registerAll starts no job; the first query caches the table and " +
    "the next one scans memory, not the CSV") {
    withCatalog(spark, "cc_lazy" -> "1,\"20\"\n3,40\n") { (dir, catalog) =>
      assert(jobsStartedBy("cc-register")(
        CsvCatalogSource.registerAll(spark, dir, catalog)) == 0)
      assert(jobsStartedBy("cc-first")(assert(sumOf("cc_lazy", "q") == 60L)) > 0)
      assert(spark.catalog.isCached("cc_lazy"))
      val second = Engine.run(spark, "select p from cc_lazy where q > 30")
      assert(second.collect().map(_.getLong(0)).toSeq == Seq(3L))
      val plan = second.queryExecution.executedPlan
      assert(collect(plan) { case s: InMemoryTableScanExec => s }.nonEmpty, plan)
      assert(collect(plan) { case s: FileSourceScanExec => s }.isEmpty, plan)
    }
  }

  test("re-registering a rewritten file serves the new rows, not the " +
    "cached old ones") {
    withCatalog(spark, "cc_stale" -> "1,10\n2,20\n") { (dir, catalog) =>
      CsvCatalogSource.registerAll(spark, dir, catalog)
      assert(sumOf("cc_stale", "q") == 30L)
      write(dir, "cc_stale", "1,100\n2,200\n")
      CsvCatalogSource.registerAll(spark, dir, catalog)
      assert(sumOf("cc_stale", "q") == 300L)
    }
  }

  test("a non-integer cell fails the query, and after the file is fixed " +
    "and re-registered the same query succeeds") {
    withCatalog(spark, "cc_bad" -> "1,2\n\"3\",x\n") { (dir, catalog) =>
      CsvCatalogSource.registerAll(spark, dir, catalog)
      val e = intercept[SparkException](sumOf("cc_bad", "q"))
      assert(e.getCondition.startsWith("FAILED_READ_FILE"), e.getMessage)
      assert(e.getMessage.contains("cc_bad.csv"), e.getMessage)
      write(dir, "cc_bad", "1,2\n\"3\",4\n")
      CsvCatalogSource.registerAll(spark, dir, catalog)
      assert(sumOf("cc_bad", "q") == 6L)
      assert(spark.catalog.isCached("cc_bad"))
    }
  }
}

object CsvCatalogSourceSpec {

  /** Run `f` on a temp data directory holding a metadata.txt catalog of
    * two-column (p, q) tables and their CSVs, given the directory and the
    * catalog; then drop the tables' views (and their cached data) and the
    * directory.
    */
  def withCatalog[T](spark: SparkSession, tables: (String, String)*)(
      f: (String, Map[String, StructType]) => T): T = {
    val dir = Files.createTempDirectory("graftcat")
    try {
      val metadata = tables.map { case (name, _) =>
        s"<begin_table>\n$name\np\nq\n<end_table>\n"
      }.mkString
      Files.writeString(dir.resolve("metadata.txt"), metadata)
      tables.foreach { case (name, rows) => write(dir.toString, name, rows) }
      f(dir.toString, Catalog.load(dir.resolve("metadata.txt").toString))
    } finally {
      tables.foreach { case (name, _) => spark.catalog.dropTempView(name) }
      dir.toFile.listFiles.foreach(_.delete())
      dir.toFile.delete()
    }
  }

  def write(dir: String, table: String, rows: String): Path =
    Files.writeString(Path.of(dir, s"$table.csv"), rows)
}
