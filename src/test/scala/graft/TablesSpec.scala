package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Tables.load's events normalization: the driver has shipped
  * events.parquet with two different `ts` encodings across rounds
  * (INT64 TIMESTAMP(NANOS) through round 12, plain TIMESTAMP_MICROS /
  * NTZ from round 13), and the loader branches on the footer rather
  * than assuming either. Pin that both encodings of the SAME instants
  * load to identical TIMESTAMP values — so the next driver-side
  * encoding change fails here, loudly, instead of as 35 analysis
  * errors deep inside the events suites.
  *
  * And Tables.load's schema memo: a repeated load starts no Spark job,
  * still returns a fresh relation, and a rewritten table is inferred
  * again.
  */
class TablesSpec extends SparkTestBase {

  // two instants, the second carrying sub-millisecond micros (the
  // precision Sessionize's unix_micros arithmetic depends on)
  private val micros = Seq(1700000000000000L, 1700000123456789L)

  private def loadTs(dir: String): Seq[Long] =
    Tables.load(spark, dir, "events")
      .select(unix_micros(col("ts")))
      .collect().map(_.getLong(0)).toSeq.sorted

  private def writeEvents(dir: String, tsCol: org.apache.spark.sql.Column,
      tsType: DataType): Unit = {
    import spark.implicits._
    micros.zipWithIndex.toDF("us", "event_id")
      .select(col("event_id").cast(LongType), tsCol.cast(tsType).as("ts"),
        lit(1L).as("user_id"), lit("click").as("event_type"),
        lit(0.0).as("value"), lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  test("NTZ-micros events load to the same instants as legacy nanos longs") {
    val ntzDir = Files.createTempDirectory("tab_ntz").toString
    // timestamp_micros gives TIMESTAMP; cast to NTZ under the UTC
    // session keeps the same wall clock = same micros — written to
    // parquet as TIMESTAMP(MICROS, isAdjustedToUTC=false), the round-13
    // driver encoding
    writeEvents(ntzDir, timestamp_micros(col("us")), TimestampNTZType)
    assert(loadTs(ntzDir) == micros)

    // the pre-round-13 encoding: a plain long column named ts holding
    // NANOS since epoch (Spark can't write INT64 TIMESTAMP(NANOS), but
    // the loader's legacy path reads exactly this long-typed shape)
    val nanosDir = Files.createTempDirectory("tab_nanos").toString
    writeEvents(nanosDir, col("us") * 1000L, LongType)
    assert(loadTs(nanosDir) == micros)
  }

  test("already-TIMESTAMP events (our own generated slices) pass through") {
    val dir = Files.createTempDirectory("tab_ltz").toString
    writeEvents(dir, timestamp_micros(col("us")), TimestampType)
    assert(loadTs(dir) == micros)
  }

  test("an unrecognized ts encoding fails at the loader, naming the type") {
    // e.g. a future driver switch to string timestamps — must die HERE,
    // not as analysis errors deep inside the events suites
    val dir = Files.createTempDirectory("tab_bad").toString
    writeEvents(dir, date_format(timestamp_micros(col("us")),
      "yyyy-MM-dd HH:mm:ss"), StringType)
    val e = intercept[IllegalStateException] { loadTs(dir) }
    assert(e.getMessage.contains("StringType"))
  }

  test("a second load of a table starts no Spark job, reads the inferred " +
    "schema, and self-joins with distinct sides") {
    Tables.load(spark, sfDir, "documents")
    val jobs = jobsStartedBy("tables-second-load") {
      Tables.load(spark, sfDir, "documents"); ()
    }
    assert(jobs == 0, s"a memoized load started $jobs jobs")
    // events' loader rewrites ts, so its schema is not the file's
    Tables.all.filterNot(_ == "events").foreach { n =>
      Tables.load(spark, sfDir, n)
      assert(Tables.load(spark, sfDir, n).schema ==
        spark.read.parquet(s"$sfDir/$n.parquet").schema, n)
    }
    val a = Tables.load(spark, sfDir, "documents")
    val b = Tables.load(spark, sfDir, "documents")
    val n = a.count()
    // one relation served twice would make the condition a tautology
    // and the join a cross product of n * n rows
    assert(a.join(b, a("doc_id") === b("doc_id")).count() == n)
  }

  test("a table rewritten with another schema in the same session is " +
    "inferred again; events' ts branch runs on a memo hit") {
    import spark.implicits._
    val dir = Files.createTempDirectory("tab_stale").toString
    def docs = Tables.load(spark, dir, "documents")
    Seq((1L, "a b")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(docs.columns.toSeq == Seq("doc_id", "text"))
    assert(jobsStartedBy("tables-stale-hit") { docs; () } == 0)
    Seq((1L, "a b", "en")).toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(docs.columns.toSeq == Seq("doc_id", "text", "lang"))
    assert(docs.select("lang").as[String].collect().toSeq == Seq("en"))

    // NTZ micros, loaded twice (the second a memo hit), then rewritten
    // as legacy nanos longs: every load lands on the same instants
    writeEvents(dir, timestamp_micros(col("us")), TimestampNTZType)
    assert(loadTs(dir) == micros)
    assert(loadTs(dir) == micros)
    writeEvents(dir, col("us") * 1000L, LongType)
    assert(loadTs(dir) == micros)
    assert(loadTs(dir) == micros)
  }
}
