package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite (lazy; sbt forks one JVM for the
  * test run so sessions are reused via getOrCreate).
  */
trait SparkTestBase extends AnyFunSuite {
  import SparkTestBase.JobsPerGroup

  lazy val spark: SparkSession = GraftSession.builder()
    .appName("graft-test")
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"

  /** Run `f` with session confs overridden, restoring (or unsetting)
    * them afterwards — the session is shared across suites, so a leaked
    * conf would bleed into unrelated tests.
    */
  def withSQLConf[T](pairs: (String, String)*)(f: => T): T =
    Confs.withSQLConf(spark, pairs: _*)(f)

  /** Run `f` in job group `group`; the Spark jobs it started. The
    * listener bus is asynchronous, so a fence job in a group of its own
    * runs after `f` and the count is read once the fence has been seen.
    */
  def jobsStartedBy(group: String)(f: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new JobsPerGroup
    def inGroup(g: String)(body: => Unit): Unit = {
      sc.setJobGroup(g, g)
      try body finally sc.clearJobGroup()
    }
    sc.addSparkListener(jobs)
    try {
      inGroup(group)(f)
      inGroup(s"$group-fence")(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (jobs.in(s"$group-fence") == 0 && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(jobs.in(s"$group-fence") == 1, "listener never saw the fence job")
      jobs.in(group)
    } finally sc.removeSparkListener(jobs)
  }
}

object SparkTestBase {

  /** Spark jobs started per job group, as the listener bus reports them. */
  private final class JobsPerGroup extends SparkListener {
    private val byGroup = new ConcurrentHashMap[String, AtomicInteger]
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .foreach(g => byGroup.computeIfAbsent(g, _ => new AtomicInteger).incrementAndGet())
    def in(group: String): Int = Option(byGroup.get(group)).fold(0)(_.get)
  }
}
