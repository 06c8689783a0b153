package graft.engine

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.Files

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
    // a malformed metadata.txt: an unterminated block, and an attribute
    // line after <end_table> that another <end_table> follows
    for ((meta, named) <- Seq(
        "<begin_table>\ncli_open\nA\n" -> "cli_open",
        "<begin_table>\ncli_t\nA\n<end_table>\nB\n<end_table>\n" -> "\"B\"")) {
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

  test("analysis and parse errors keep their one-line forms") {
    withCatalog(spark, "cli_err" -> "1,2\n") { (dir, _) =>
      val (code, _, err) = cli("select nope from cli_err", dir)
      assert(code == 2 && err.size == 1 && err.head.startsWith("error: "), err)
      val (pcode, _, perr) = cli("selec p from cli_err", dir)
      assert(pcode == 3 && perr.size == 1 &&
        perr.head.startsWith("parse error: "), perr)
    }
  }
}
