package graft.engine

import scala.util.Random

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.internal.SQLConf

import graft.SparkTestBase

/** The CLI's execution-mode selection (Engine.interprets): interpreted
  * and compiled execution render the same bytes, a small single-input
  * query on a loaded cache runs interpreted, everything else compiled,
  * and the session's codegen confs survive every exit of `render`.
  */
class ExecutionModeSpec extends SparkTestBase with AdaptiveSparkPlanHelper {
  import CsvCatalogSourceSpec.withCatalog

  /** `q` run through the CLI path with the execution mode forced. */
  private def rendered(q: String, interpret: Boolean): String =
    ResultFormatter.render(
      Engine.plan(spark.sql(Engine.prePass(q)), interpret), interpret)

  private def wholeStage(df: DataFrame): Boolean =
    collect(df.queryExecution.executedPlan) {
      case w: WholeStageCodegenExec => w
    }.nonEmpty

  private val codegenKeys =
    Seq(SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key, SQLConf.CODEGEN_FACTORY_MODE.key)
  private def codegenConfs = codegenKeys.map(spark.conf.getOption)

  /** `n` rows of (p, q): p unique, q in [-60, 60], every 17th q NULL;
    * about a quarter of the cells quoted.
    */
  private def rows(n: Int, seed: Long): String = {
    val rng = new Random(seed)
    def cell(v: Long) = if (rng.nextInt(4) == 0) "\"" + v + "\"" else v.toString
    (0 until n).map { i =>
      val q = if (i % 17 == 5) "" else cell(rng.nextInt(121) - 60L)
      s"${cell(i - n / 2L)},$q"
    }.mkString("", "\n", "\n")
  }

  /** Seeded texts in the reference grammar over em_t (single-table
    * shapes) and em_t joined with em_u on em_t.q = em_u.p.
    */
  private def texts(rng: Random, n: Int): Seq[String] = {
    def lit() = (rng.nextInt(141) - 70).toString
    def cmp() = Seq("<", "<=", ">", ">=", "=", "==", "!=")(rng.nextInt(7))
    def where(cols: Seq[String]): String = {
      def leaf() = s"${cols(rng.nextInt(cols.size))} ${cmp()} ${lit()}"
      if (rng.nextBoolean()) leaf()
      else s"(${leaf()} ${if (rng.nextBoolean()) "AND" else "OR"} ${leaf()})"
    }
    def agg(cols: Seq[String]) = {
      val f = Seq("max", "min", "sum", "avg", "MAX", "Sum")(rng.nextInt(6))
      s"$f(${cols(rng.nextInt(cols.size))})"
    }
    val single = Seq("p", "q")
    val joined = Seq("em_t.p", "em_t.q", "em_u.p", "em_u.q")
    val join = "em_t.q == em_u.p"
    val shapes: Seq[() => String] = Seq(
      () => s"select p, q from em_t where ${where(single)}",
      () => s"select * from em_t where ${where(single)}",
      () => s"select ${agg(single)}, ${agg(single)} from em_t where ${where(single)}",
      () => s"select distinct q from em_t where ${where(single)} order by q",
      () => s"select p, q from em_t order by q desc, p limit ${1 + rng.nextInt(30)}",
      () => s"select em_t.p, em_u.q from em_t, em_u where $join and ${where(joined)}",
      () => s"select ${agg(joined)}, ${agg(joined)} from em_t, em_u where $join",
      () => s"select distinct em_u.q from em_t, em_u where $join order by em_u.q",
      () => s"select em_t.p, em_u.q from em_t, em_u where $join " +
        s"order by em_t.p desc limit ${1 + rng.nextInt(30)}")
    (0 until n).map(i => shapes(i % shapes.size)())
  }

  test("interpreted and compiled execution render the same bytes") {
    withCatalog(spark, "em_t" -> rows(400, 1), "em_u" -> rows(120, 2)) { (dir, _) =>
      val run = Engine.forDirectory(spark, dir)
      ResultFormatter.render(run("select count(*) from em_t"))
      ResultFormatter.render(run("select count(*) from em_u"))
      for (q <- texts(new Random(11), 18)) {
        assert(rendered(q, interpret = true) == rendered(q, interpret = false), q)
      }
      assert(rendered("select p from em_t where p == -200", interpret = true) ==
        "p\n-200")
      assert(rendered("select p, q from em_t where q is null and p < -190",
        interpret = false) == "p, q\n-195, NULL")
      for (interpret <- Seq(true, false))
        intercept[ArithmeticException](rendered("select p/0 from em_t", interpret))
    }
  }

  test("a fresh single-table query on a loaded cache runs interpreted and " +
    "compiles nothing; joins and first touches keep whole-stage codegen") {
    withCatalog(spark, "sel_t" -> rows(2000, 3), "sel_u" -> rows(300, 4)) { (dir, _) =>
      val run = Engine.forDirectory(spark, dir)
      val first = run("select max(p) from sel_t")
      assert(!Engine.interprets(first))
      ResultFormatter.render(first)
      assert(wholeStage(first), first.queryExecution.executedPlan)

      // interpreted aggregation still compiles one row joiner per pair of
      // key and buffer schemas (GenerateUnsafeRowJoiner has no
      // interpreted form): a first query with the fresh one's schemas
      // pays for it
      ResultFormatter.render(
        run("select q % 3, max(p) from sel_t where p > 3 group by q % 3"))
      val fresh = run("select q % 5 as g, max(p * 7) from sel_t " +
        "where q * 3 + p > 97 - p group by q % 5")
      assert(Engine.interprets(fresh))
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      // plan outside render, as a traced benchmark run does: run must
      // already have planned it interpreted
      fresh.queryExecution.executedPlan
      assert(ResultFormatter.render(fresh).linesIterator.size > 2)
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiled)
      assert(!wholeStage(fresh), fresh.queryExecution.executedPlan)

      ResultFormatter.render(run("select count(*) from sel_u"))
      val join = run("select sum(sel_u.q) from sel_t, sel_u where sel_t.p = sel_u.q")
      assert(!Engine.interprets(join))
      ResultFormatter.render(join)
      assert(wholeStage(join), join.queryExecution.executedPlan)
    }
  }

  test("render leaves the session's codegen confs as it found them, " +
    "whether it returns or throws") {
    withCatalog(spark, "cf_t" -> rows(50, 5)) { (dir, _) =>
      val run = Engine.forDirectory(spark, dir)
      ResultFormatter.render(run("select count(*) from cf_t"))
      for (preset <- Seq(Nil, Seq(SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key -> "true")))
          withSQLConf(preset: _*) {
        val before = codegenConfs
        val ok = run("select min(q) from cf_t")
        assert(Engine.interprets(ok))
        ResultFormatter.render(ok)
        assert(codegenConfs == before)
        val bad = run("select p / 0 from cf_t")
        assert(Engine.interprets(bad))
        intercept[ArithmeticException](ResultFormatter.render(bad))
        assert(codegenConfs == before)
      }
    }
  }
}
