package graft.engine

import java.nio.file.Files

import graft.SparkTestBase

/** Behavioral parity with the reference (values verified by executing
  * /root/reference — see SURVEY.md §2 and FIXTURES.md) plus the
  * deliberate deviations of SURVEY.md §7.5, each asserted here.
  * Fixtures are read from the live reference CSVs at runtime (read-only);
  * tests cancel cleanly if the reference tree is absent.
  */
class EngineSpec extends SparkTestBase {

  private val refDir = "/root/reference"
  private def withRef(): Unit =
    assume(new java.io.File(s"$refDir/metadata.txt").exists(),
      "reference fixtures not present")

  private lazy val run: String => org.apache.spark.sql.DataFrame = {
    withRef()
    Engine.forDirectory(spark, refDir)
  }

  test("catalog parses metadata.txt blocks in order") {
    withRef()
    val cat = Catalog.load(s"$refDir/metadata.txt")
    assert(cat.keySet == Set("table1", "table2", "table3", "table4"))
    assert(cat("table1").fieldNames.toSeq == Seq("A", "B", "C"))
    assert(cat("table2").fieldNames.toSeq == Seq("B", "D"))
  }

  test("CSV scan reads quoted and unquoted ints (table2 mixes both)") {
    // table2.csv mixes `158,"11191"` and `773,14421` — SURVEY.md §1 CSV dialect
    val sumD = run("select sum(D) as s from table2").collect()(0).getLong(0)
    assert(sumD == 107459L) // [verified] sum(D) from the live reference
  }

  test("select * keeps bag semantics (table1 ships a duplicate row)") {
    val n = run("select * from table1").count()
    val nd = run("select distinct * from table1").count()
    assert(n == 11 && nd == 10) // FIXTURES.md: row 10 == row 11
  }

  test("distinct composes with projection") {
    val nd = run("select distinct A, B from table1").count()
    assert(nd == 10)
  }

  test("aggregates match reference values: max(A)=922, min(C)=1318") {
    val r = run("select max(A) as ma, min(C) as mc from table1").collect()(0)
    assert(r.getLong(0) == 922L && r.getLong(1) == 1318L)
  }

  test("avg is float division: avg(B) = 6102/11") {
    val r = run("select avg(B) as ab from table1").collect()(0)
    assert(math.abs(r.getDouble(0) - 554.7272727272727) < 1e-9)
  }

  test("comma-FROM cross join + WHERE equality = the reference's only join") {
    val joined = run(
      "select A, D from table1, table2 where table1.B = table2.B")
    // every table1.B has exactly one table2 match (FIXTURES.md) and
    // table1 has 11 rows (with dup) -> 11 joined rows
    assert(joined.count() == 11)
  }

  test("AND binds tighter than OR (parser.py:82-83 semantics)") {
    val n1 = run(
      "select A from table1 where A > 0 AND B > 300 OR C > 9000").count()
    val n2 = run(
      "select A from table1 where (A > 0 AND B > 300) OR C > 9000").count()
    assert(n1 == n2)
  }

  test("dialect pre-pass: == is accepted as = outside string literals") {
    assert(Engine.prePass("select * from t where a == 5") ==
      "select * from t where a = 5")
    assert(Engine.prePass("select '==' from t where a == 1") ==
      "select '==' from t where a = 1")
    val n = run("select A from table1 where A == 922").count()
    assert(n == 1)
  }

  test("pre-pass ignores comments and escaped quotes") {
    // an apostrophe in a comment must not disable the rewrite below it
    assert(Engine.prePass("select a from t -- don't\nwhere a == 5") ==
      "select a from t -- don't\nwhere a = 5")
    assert(Engine.prePass("select a /* isn't */ from t where a == 5") ==
      "select a /* isn't */ from t where a = 5")
    // '' escape inside a literal keeps the literal state
    assert(Engine.prePass("select 'it''s == fine' from t where a == 1") ==
      "select 'it''s == fine' from t where a = 1")
    // == inside a comment is left alone
    assert(Engine.prePass("select a from t -- x == y\nwhere a == 2") ==
      "select a from t -- x == y\nwhere a = 2")
    // backslash-escaped quote keeps the literal open; == inside survives
    assert(Engine.prePass("select 'don\\'t == x' from t where a == 1") ==
      "select 'don\\'t == x' from t where a = 1")
    // nested bracketed comments close at the OUTER terminator
    assert(Engine.prePass("/* o /* i */ don't */ select 'a == b' where x == 1") ==
      "/* o /* i */ don't */ select 'a == b' where x = 1")
  }

  // ---- deliberate deviations from reference bugs (SURVEY.md §7.5) ----

  test("deviation 1: aggregates respect WHERE (reference ignores it)") {
    // reference [verified]: `select max(A) from table1 where A < 0` -> 922
    // (the unfiltered global max). Correct semantics: max over only the
    // negative values, which is itself negative.
    val r = run("select max(A) as m from table1 where A < 0").collect()(0)
    assert(!r.isNullAt(0) && r.getLong(0) < 0)
    // and a predicate matching nothing yields NULL, not the global max
    val r2 = run("select max(A) as m from table1 where A < -100000")
      .collect()(0)
    assert(r2.isNullAt(0))
  }

  test("deviation 2: aggregate names are case-insensitive (MAX works)") {
    // reference [verified]: uppercase MAX -> header-only empty output
    val r = run("select MAX(A) as m from table1").collect()(0)
    assert(r.getLong(0) == 922L)
  }

  test("deviation 3: negative literals work (reference crashes)") {
    val n = run("select A from table1 where A > -100000").count()
    assert(n == 11)
  }

  test("deviation 4: explicit JOIN ... ON works (reference crashes)") {
    val n = run(
      "select A, D from table1 join table2 on table1.B = table2.B").count()
    assert(n == 11)
  }

  test("deviation 5: ambiguous unqualified column raises, not fan-out") {
    withRef() // before intercept, which would swallow the cancel
    // reference [verified]: `select B from table1, table2` -> BOTH B columns
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      run("select B from table1, table2").collect()
    }
    assert(e.getMessage.contains("AMBIGUOUS"))
  }

  test("deviation 6: ORDER BY / LIMIT execute (reference ignores them)") {
    val rows = run("select A from table1 order by A desc limit 3").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(922L, 827L, 740L).take(3)
      || rows.length == 3 && rows(0).getLong(0) == 922L)
  }

  test("deviation 7: unknown column is an error, not silent emptiness") {
    withRef() // before intercept, which would swallow the cancel
    intercept[org.apache.spark.sql.AnalysisException] {
      run("select NOPE from table1").collect()
    }
  }

  test("formatter renders reference output shape") {
    val out = ResultFormatter.render(
      run("select A, B from table1 where A = 922"))
    val lines = out.linesIterator.toSeq
    assert(lines.head == "A, B")
    assert(lines(1).matches("922, \\d+"))
  }

  test("formatter: empty result renders No Results Found") {
    val out = ResultFormatter.render(
      run("select A from table1 where A < -100000"))
    assert(out.linesIterator.toSeq == Seq("A", "No Results Found"))
  }

  test("golden replay: requirements/sample_output.txt queries through " +
    "Engine + ResultFormatter") {
    // /root/reference/requirements/sample_output.txt:1-30 is the
    // reference's only golden file: two queries over the requirements/
    // fixture tables. Replay both and compare VALUES verbatim. Two
    // documented format deviations from the golden file itself:
    // - its rows are comma-joined with no space; the reference PROGRAM
    //   prints ', '.join (sqlengine.py:240) — we normalize separators.
    // - its query-1 header (sample_output.txt:5) is `table1.B,table2.D`,
    //   attributing table2's own B column to table1 — the golden file's
    //   known header bug (SURVEY.md §2.7); neither the reference program
    //   (which would print table2.B — fetchAllColumns, sqlengine.py:
    //   358-363) nor this engine reproduces it. We assert our header
    //   (unqualified single-table star) and golden VALUES.
    withRef()
    val golden = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$refDir/requirements/sample_output.txt"))
    // block k = the run of nonempty, non-"N." lines after "output:"
    // marker k, values normalized to no-space comma separation
    val lines = golden.linesIterator.toVector
    val blocks = lines.zipWithIndex
      .filter(_._1.trim.toLowerCase.startsWith("output"))
      .map { case (_, i) =>
        lines.drop(i + 1)
          .takeWhile(l => l.trim.nonEmpty && !l.matches("^\\d+\\..*"))
          .map(_.trim.replace(", ", ","))
      }
    assert(blocks.length == 2, s"golden file parse drift: $blocks")
    val req = Engine.forDirectory(spark, s"$refDir/requirements")
    def rendered(q: String): Seq[String] =
      ResultFormatter.render(req(q)).linesIterator
        .map(_.replace(", ", ",")).toSeq
    val out1 = rendered("Select * from table2")
    assert(out1.head == "B,D") // corrected header, see above
    assert(out1.tail.sorted == blocks(0).tail.sorted, s"q1 values: $out1")
    val out2 = rendered("Select A from table1")
    assert(out2.head == "A")
    assert(out2.tail.sorted == blocks(1).tail.sorted, s"q2 values: $out2")
  }

  test("star over a comma join keeps BOTH copies of a shared column name " +
    "(reference prints join keys twice — sqlengine.py:260-265, SURVEY §2.7)") {
    // table3(A,B,C) x table4(B,D): star expansion must yield 5 columns
    // with B appearing once per table, not a deduplicated 4
    val cross = run("select * from table3, table4")
    assert(cross.columns.toSeq == Seq("A", "B", "C", "B", "D"))
    assert(cross.count() == 8) // 2 x 4 rows
    val eq = run("select * from table3, table4 where table3.C = table4.B")
    assert(eq.columns.toSeq == Seq("A", "B", "C", "B", "D"))
    val rows = eq.collect()
    assert(rows.length == 1 &&
      rows(0).toSeq == Seq(1L, 2L, 3L, 3L, 4L))
    // the duplicate header survives the formatter verbatim
    assert(ResultFormatter.render(eq).linesIterator.next() == "A, B, C, B, D")
  }

  test("catalog parser handles synthetic metadata with blank lines") {
    val cat = Catalog.parse(Iterator(
      "<begin_table>", "t", "x", "y", "<end_table>", "",
      "<begin_table>", "u", "z", "<end_table>"))
    assert(cat("t").fieldNames.toSeq == Seq("x", "y"))
    assert(cat("u").fieldNames.toSeq == Seq("z"))
  }

  test("catalog parser rejects an unterminated block and a line outside " +
    "a block, naming the table or the line") {
    val open = intercept[IllegalArgumentException](Catalog.parse(Iterator(
      "<begin_table>", "t", "x", "<end_table>", "<begin_table>", "u", "z")))
    assert(open.getMessage.contains("table u") &&
      open.getMessage.contains("no <end_table>"), open.getMessage)
    val stray = intercept[IllegalArgumentException](Catalog.parse(Iterator(
      "<begin_table>", "t", "x", "<end_table>", "y", "<end_table>")))
    assert(stray.getMessage.contains("line 5") &&
      stray.getMessage.contains("\"y\""), stray.getMessage)
  }

  test("csv source reads a synthetic headerless file with given schema") {
    val dir = Files.createTempDirectory("graftcsv").toFile
    val f = new java.io.File(dir, "tt.csv")
    Files.writeString(f.toPath, "1,\"20\"\n3,40\n")
    val cat = Catalog.parse(Iterator("<begin_table>", "tt", "p", "q",
      "<end_table>"))
    val df = CsvCatalogSource.read(spark, dir.getAbsolutePath, "tt", cat("tt"))
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 20L), (3L, 40L)))
  }
}
