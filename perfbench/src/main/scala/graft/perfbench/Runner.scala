package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, Executors}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Bench, GraftSession, SparkEntry, Tables}
import graft.engine.{Catalog, CsvCatalogSource, Engine, ResultFormatter}

/** The benchmark's JVM side, launched by perfbench/run.py. It calls the
  * program only through its public entry points and writes plain files
  * that run.py checks and summarises.
  *
  *   list  <out.json>  the inventory's query names, their oracle SQL and
  *                     the smoke entry's input directory
  *   setup <options>   set up session and tables, print `setup_s=<s>`
  *   run   <options>   set up, warm up, check pass, timed rounds; results
  *                     to --out
  *
  * Options: --workload cli_csv|inventory, --data <dir>, --queries <file>
  * (one query text or name per line, in run order; cli_csv: consecutive
  * rounds of --round-size texts, inventory: one round, repeated),
  * --warmup <file> (cli_csv: query texts run before timing), --out <dir>,
  * --seconds <n>, --min-rounds <n>, --trace 0|1, --cores <n>,
  * --launch-ns <epoch ns>.
  */
object Runner {

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("list") => list(args(1))
    case Some(mode @ ("setup" | "run")) =>
      val opts = args.drop(1).grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
      if (mode == "setup") setupOnly(opts) else run(opts)
    case _ =>
      System.err.println("usage: Runner list <out.json> | setup|run --workload ... ")
      sys.exit(2)
  }

  private def epochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  private def session(cores: Int): SparkSession = {
    val spark = GraftSession.builder(s"local[$cores]", cores)
      .appName("graft-perfbench").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def list(out: String): Unit = {
    val spark = session(1)
    val smoke = try {
      SparkEntry.entry(spark).inputFiles.headOption
        .map(f => new java.io.File(new java.net.URI(f)).getParent).getOrElse("")
    } catch { case NonFatal(_) => "" }
    spark.stop()
    val names = SparkEntry.queries.keys.toSeq.sorted.map { n =>
      Json.str(n) + ":" + SparkEntry.oracleSql.get(n).map(Json.str).getOrElse("null")
    }
    Files.writeString(Paths.get(out),
      s"""{"smoke_dir":${Json.str(smoke)},"queries":{${names.mkString(",")}}}""")
  }

  private def workload(opts: Map[String, String]): Workload = {
    def lines(key: String) = opts.get(key).toIndexedSeq.flatMap { f =>
      Files.readAllLines(Paths.get(f), UTF_8).asScala.filter(_.nonEmpty)
    }
    opts("workload") match {
      case "cli_csv" =>
        new CliCsv(opts("data"), lines("queries"), opts("round-size").toInt, lines("warmup"))
      case "inventory" => new Inventory(opts("data"), lines("queries"))
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
  }

  /** JVM start (the launcher's clock, passed in) until the session is
    * built and the workload's tables are registered.
    */
  private def setUp(opts: Map[String, String], w: Workload,
      tr: Tracer): (SparkSession, Double) = {
    val spark = tr.span("setup.session", -1)(session(opts("cores").toInt))
    w.setup(spark, tr)
    (spark, (epochNs() - opts("launch-ns").toLong) / 1e9)
  }

  private def setupOnly(opts: Map[String, String]): Unit = {
    val (spark, setupS) = setUp(opts, workload(opts), Tracer.off)
    println(f"setup_s=$setupS%.6f")
    spark.stop()
  }

  /** One execution; `result` is the rendered text, or null. */
  private final case class Exec(name: String, round: Int, seconds: Double,
      error: String, result: String)

  private def attempt(name: String, round: Int)(body: => String): Exec = {
    val q0 = System.nanoTime()
    val (result, error) =
      try (body, null)
      catch { case NonFatal(e) => (null, String.valueOf(e.getMessage)) }
    Exec(name, round, (System.nanoTime() - q0) / 1e9, error, result)
  }

  private def run(opts: Map[String, String]): Unit = {
    val w = workload(opts)
    val tr = if (opts("trace") == "1") new Tracer else Tracer.off
    val (spark, setupS) = setUp(opts, w, tr)
    val out = opts("out")
    val sc = spark.sparkContext

    // Warm-up, untimed (JIT and codegen), one query at a time like the
    // timed region: run concurrently, it left the first timed round 25%
    // slower than the second instead of 7%. Its errors count as failures
    // and its outputs are checked.
    val w0 = System.nanoTime()
    val warmed = w.warmup.map(n => attempt(n, 0)(w.execute(spark, n, Tracer.off, -1)))
    val warmupS = (System.nanoTime() - w0) / 1e9

    // Check pass, untimed: outputs that run.py compares with the oracle.
    // It runs before the timed region so that it adds to the warm-up:
    // after the warm-up alone, the first of three timed rounds of
    // pipeline_sf0.1 ran 3-23% slower than the last.
    val checkDir = s"$out/check"
    Files.createDirectories(Paths.get(checkDir))
    val checked = runAll(w.checked, opts("cores").toInt)(n => w.check(spark, n, checkDir))

    System.gc() // what warm-up and check pass left is not collected in the timed region

    // Timed region: whole rounds, one query at a time, until --seconds
    // have passed and at least --min-rounds are done.
    val listener = if (tr.on) Some(new JobListener(tr)) else None
    listener.foreach(sc.addSparkListener)
    val execs = ArrayBuffer.empty[Exec]
    val roundSeconds = ArrayBuffer.empty[Double]
    val budgetNs = (opts("seconds").toDouble * 1e9).toLong
    val minRounds = opts("min-rounds").toInt
    val t0 = System.nanoTime()
    var names = w.round(0)
    while (names.nonEmpty &&
        (roundSeconds.size < minRounds || System.nanoTime() - t0 < budgetNs)) {
      val round = roundSeconds.size + 1
      val r0 = System.nanoTime()
      names.get.foreach { n =>
        val id = execs.size
        if (tr.on) sc.setJobGroup(s"pb-$id", n, interruptOnCancel = false)
        execs += attempt(n, round)(tr.span("query", id, n)(w.execute(spark, n, tr, id)))
      }
      roundSeconds += (System.nanoTime() - r0) / 1e9
      names = w.round(round)
    }
    val timedS = (System.nanoTime() - t0) / 1e9
    if (tr.on) {
      sc.clearJobGroup()
      org.apache.spark.perfbench.ListenerShim.drain(sc)
    }

    spark.stop()

    def write(file: String, lines: Iterable[String]): Unit =
      Files.write(Paths.get(s"$out/$file"), lines.asJava, UTF_8)
    write("check.jsonl", (warmed.map(e => e.name -> e.error) ++ checked).map { case (n, e) =>
      s"""{"name":${Json.str(n)},"error":${Json.str(e)}}""" })
    (warmed ++ execs).filter(_.result != null).foreach { e =>
      Files.writeString(Paths.get(s"$checkDir/${e.name}.txt"), e.result)
    }
    write("timed.jsonl", execs.map { e =>
      val (digest, rows) =
        if (e.result == null) ("", 0) else (Json.sha1(e.result), CliCsv.rows(e.result))
      s"""{"name":${Json.str(e.name)},"round":${e.round},"seconds":${e.seconds},""" +
        s""""error":${Json.str(e.error)},"digest":${Json.str(digest)},"rows":$rows}""" })
    if (tr.on) {
      write("spans.jsonl", tr.lines)
      write("counters.jsonl", listener.get.lines)
    }
    write("summary.json", Seq(
      s"""{"setup_s":$setupS,"warmup_s":$warmupS,"timed_s":$timedS,""" +
        s""""round_seconds":${roundSeconds.mkString("[", ",", "]")},""" +
        s""""peak_rss_mb":${peakRssMb()}}"""))
  }

  /** Run `f` on every name, `threads` at a time: (name, error or null). */
  private def runAll(names: IndexedSeq[String], threads: Int)(
      f: String => Unit): IndexedSeq[(String, String)] = {
    val pool = Executors.newFixedThreadPool(threads)
    try {
      names.map { n =>
        pool.submit(new Callable[(String, String)] {
          def call(): (String, String) =
            try { f(n); n -> null }
            catch { case NonFatal(e) => n -> String.valueOf(e.getMessage) }
        })
      }.map(_.get())
    } finally pool.shutdown()
  }

  /** VmHWM of this JVM, in MB. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}

/** One workload's queries, as the warm-up, timed region and check pass
  * see them.
  */
private[perfbench] trait Workload {
  /** The names of timed round `i` (from 0), or None when there is none. */
  def round(i: Int): Option[IndexedSeq[String]]
  def setup(spark: SparkSession, tr: Tracer): Unit
  /** Run through `execute`, untimed, before the timed region. */
  def warmup: IndexedSeq[String]
  /** Timed: run one query as its user would; the rendered text (which
    * the runner saves and run.py checks), or null.
    */
  def execute(spark: SparkSession, name: String, tr: Tracer, id: Int): String
  /** Run through `check` after the timed region. */
  def checked: IndexedSeq[String] = IndexedSeq.empty
  /** Untimed: run one query and write its output under `dir`. */
  def check(spark: SparkSession, name: String, dir: String): Unit = ()
}

/** The reference's use case: ad-hoc query texts over a metadata.txt
  * catalog of CSV tables, rendered in the reference's output format.
  */
private[perfbench] final class CliCsv(dir: String, texts: IndexedSeq[String],
    roundSize: Int, warmupTexts: IndexedSeq[String]) extends Workload {
  private val names: IndexedSeq[String] = texts.indices.map(i => f"c$i%03d")
  /** Further texts, never timed: each timed text is a shape not seen before. */
  val warmup: IndexedSeq[String] = warmupTexts.indices.map(i => f"w$i%03d")
  private val byName = names.zip(texts).toMap ++ warmup.zip(warmupTexts)

  /** Each round its own texts: no text runs twice. */
  def round(i: Int): Option[IndexedSeq[String]] =
    Some(names.slice(i * roundSize, (i + 1) * roundSize)).filter(_.size == roundSize)

  def setup(spark: SparkSession, tr: Tracer): Unit = {
    val catalog = tr.span("engine.catalog_load", -1)(Catalog.load(s"$dir/metadata.txt"))
    tr.span("engine.register", -1)(CsvCatalogSource.registerAll(spark, dir, catalog))
  }

  def execute(spark: SparkSession, name: String, tr: Tracer, id: Int): String = {
    val text = byName(name)
    if (tr.on) tr.span("engine.prepass", id)(Engine.prePass(text))
    val df = tr.span("engine.analyze", id)(Engine.run(spark, text))
    if (tr.on) tr.span("catalyst.plan", id)(df.queryExecution.executedPlan)
    tr.span("engine.render", id)(ResultFormatter.render(df))
  }
}

private[perfbench] object CliCsv {
  /** Rows in a rendered result: its lines after the header. */
  def rows(rendered: String): Int = {
    val lines = rendered.split("\n", -1).length - 1
    if (lines == 1 && rendered.endsWith("\nNo Results Found")) 0 else lines
  }
}

/** Graded inventory queries (SparkEntry.queries) over a parquet dataset,
  * each built and then fully materialized the way graft.Bench times it.
  */
private[perfbench] final class Inventory(dir: String,
    names: IndexedSeq[String]) extends Workload {
  def warmup: IndexedSeq[String] = names
  def round(i: Int): Option[IndexedSeq[String]] = Some(names)

  def setup(spark: SparkSession, tr: Tracer): Unit =
    tr.span("tables.register", -1)(Tables.registerAll(spark, dir))

  override def checked: IndexedSeq[String] = names

  override def check(spark: SparkSession, name: String, out: String): Unit =
    SparkEntry.queries(name)(spark, dir).coalesce(1).write.mode("overwrite")
      .parquet(s"$out/$name")

  def execute(spark: SparkSession, name: String, tr: Tracer, id: Int): String = {
    val df: DataFrame =
      tr.span("queries.construct", id)(SparkEntry.queries(name)(spark, dir))
    if (tr.on) tr.span("catalyst.plan", id)(df.queryExecution.executedPlan)
    tr.span("exec.materialize", id)(Bench.materialize(df))
    null
  }
}

private[perfbench] object Json {
  def str(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def sha1(s: String): String =
    java.security.MessageDigest.getInstance("SHA-1").digest(s.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString
}
