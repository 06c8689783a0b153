package graft.engine

import java.io.{ByteArrayOutputStream, File, PrintStream}
import java.lang.management.ManagementFactory
import java.nio.file.Files
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import graft.SparkTestBase

/** Cli.execute's mapping of user errors to one `error:` / `parse error:`
  * line and a non-zero exit code, instead of a stack trace.
  */
class CliSpec extends SparkTestBase {
  import CsvCatalogSourceSpec.withCatalog

  /** Cli.execute's exit code, stdout and stderr lines. */
  private def cli(query: String, dir: String): (Int, String, Seq[String]) = {
    val out = new ByteArrayOutputStream
    val err = new ByteArrayOutputStream
    val code = Cli.execute(spark, query, dir, new PrintStream(out, true),
      new PrintStream(err, true))
    (code, out.toString, err.toString.linesIterator.toSeq)
  }

  test("a query over a catalog prints its result and exits 0") {
    withCatalog(spark, "cli_ok" -> "1,\"20\"\n3,40\n") { (dir, _) =>
      val (code, out, err) = cli("select sum(q) as s from cli_ok", dir)
      assert(code == 0 && err.isEmpty, err)
      assert(out.linesIterator.toSeq == Seq("s", "60"))
    }
  }

  test("a missing metadata.txt or CSV is one error line naming it, exit 2") {
    val dir = Files.createTempDirectory("graftcli")
    try {
      val (code, out, err) = cli("select * from t", dir.toString)
      assert(code == 2 && out.isEmpty)
      assert(err.size == 1 && err.head.startsWith("error: ") &&
        err.head.contains(s"$dir/metadata.txt"), err)
    } finally Files.delete(dir)
    // a malformed metadata.txt: an unterminated block, an attribute
    // line after <end_table> that another <end_table> follows, and a
    // second block for a table name already defined
    for ((meta, named) <- Seq(
        "<begin_table>\ncli_open\nA\n" -> "cli_open",
        "<begin_table>\ncli_t\nA\n<end_table>\nB\n<end_table>\n" -> "\"B\"",
        "<begin_table>\ncli_t\nA\nB\n<end_table>\n" +
          "<begin_table>\nCLI_T\nC\n<end_table>\n" ->
          "CLI_T begun on line 6 repeats table cli_t begun on line 1")) {
      val dir = Files.createTempDirectory("graftcli")
      val metaFile = dir.resolve("metadata.txt")
      try {
        Files.writeString(metaFile, meta)
        val (code, out, err) = cli("select * from cli_t", dir.toString)
        assert(code == 2 && out.isEmpty)
        assert(err.size == 1 && err.head.startsWith("error: ") &&
          err.head.contains(metaFile.toString) && err.head.contains(named), err)
      } finally { Files.delete(metaFile); Files.delete(dir) }
    }
    withCatalog(spark, "cli_gone" -> "1,2\n") { (dir, _) =>
      Files.delete(java.nio.file.Path.of(dir, "cli_gone.csv"))
      val (code, out, err) = cli("select * from cli_gone", dir)
      assert(code == 2 && out.isEmpty)
      assert(err.size == 1 && err.head.startsWith("error: ") &&
        err.head.contains("cli_gone.csv"), err)
    }
  }

  test("a non-integer cell is one error line naming the file, exit 2") {
    withCatalog(spark, "cli_bad" -> "1,2\n\"3\",x\n") { (dir, _) =>
      val (code, out, err) = cli("select sum(q) from cli_bad", dir)
      assert(code == 2 && out.isEmpty)
      assert(err.size == 1 && err.head.startsWith("error: ") &&
        err.head.contains("cli_bad.csv"), err)
    }
  }

  test("division by zero and long overflow are one error line, exit 2") {
    withCatalog(spark, "cli_ansi" -> "1,2\n3,4\n") { (dir, _) =>
      for ((query, condition) <- Seq(
          "select p/0 from cli_ansi" -> "DIVIDE_BY_ZERO",
          "select sum(p*9223372036854775807) from cli_ansi" ->
            "ARITHMETIC_OVERFLOW")) {
        val (code, out, err) = cli(query, dir)
        assert(code == 2 && out.isEmpty, s"$query: exit $code, $out")
        assert(err.size == 1 && err.head.startsWith("error: ") &&
          err.head.contains(condition), s"$query: $err")
      }
    }
  }

  test("analysis and parse errors keep their one-line forms") {
    withCatalog(spark, "cli_err" -> "1,2\n") { (dir, _) =>
      val (code, _, err) = cli("select nope from cli_err", dir)
      assert(code == 2 && err.size == 1 && err.head.startsWith("error: "), err)
      val (pcode, _, perr) = cli("selec p from cli_err", dir)
      assert(pcode == 3 && perr.size == 1 &&
        perr.head.startsWith("parse error: "), perr)
    }
  }

  test("a result over spark.driver.maxResultSize is one error line, exit 2") {
    // the limit is fixed when the SparkContext starts: run Cli.main in a
    // JVM of its own, with this JVM's options and classpath
    val rows = (0 until 20000).map(i => s"$i,${i * 7919L % 100003}")
    withCatalog(spark, "cli_big" -> rows.mkString("", "\n", "\n")) { (dir, _) =>
      val java = s"${System.getProperty("java.home")}/bin/java"
      val cmd = Seq(java) ++
        ManagementFactory.getRuntimeMXBean.getInputArguments.asScala ++
        Seq("-Xmx1g", "-Dspark.driver.maxResultSize=64k",
          "-cp", System.getProperty("java.class.path"), "graft.engine.Cli",
          "select p, q from cli_big", dir)
      val (outFile, errFile) = (new File(dir, "out.txt"), new File(dir, "err.txt"))
      val proc = new ProcessBuilder(cmd: _*)
        .redirectOutput(outFile).redirectError(errFile).start()
      val exited = proc.waitFor(120, TimeUnit.SECONDS)
      if (!exited) proc.destroyForcibly().waitFor()
      assert(exited, "the CLI did not exit within 120 s")
      val out = Files.readString(outFile.toPath)
      val err = Files.readAllLines(errFile.toPath).asScala
        .filter(_.startsWith("error:")).toSeq
      assert(proc.exitValue == 2 && out.isEmpty, out)
      assert(err.size == 1 && err.head.contains("spark.driver.maxResultSize"), err)
    }
  }
}
