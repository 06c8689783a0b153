package graft.perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._

/** In-memory spans for the traced run: name, start, end, parent span and
  * query execution id. Nothing is written until the run ends. A span's
  * parent is the innermost open span on the same thread; spans outside
  * any query (set-up) carry query -1. `Tracer.off` runs bodies untouched,
  * so the untraced run pays one boolean test per call site.
  */
private[perfbench] final class Tracer(val on: Boolean = true) {
  private val base = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private val buf = mutable.ArrayBuffer.empty[String]
  private var nextId = 0
  private val open = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  def span[T](name: String, query: Int, qname: String = null)(body: => T): T =
    if (!on) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = open.get.headOption.getOrElse(0)
      open.set(id :: open.get)
      val start = base + System.nanoTime()
      try body
      finally {
        open.set(open.get.tail)
        record(id, name, start, base + System.nanoTime(), parent, query, qname)
      }
    }

  /** Add a finished span; parent 0 means "none recorded". */
  def record(id: Int, name: String, startNs: Long, endNs: Long, parent: Int,
      query: Int, qname: String): Unit = synchronized {
    buf += s"""{"id":$id,"name":${Json.str(name)},"start_ns":$startNs,""" +
      s""""end_ns":$endNs,"parent":$parent,"query":$query,"qname":${Json.str(qname)}}"""
  }

  def newId(): Int = synchronized { nextId += 1; nextId }

  def lines: Seq[String] = synchronized(buf.toList)
}

private[perfbench] object Tracer {
  val off = new Tracer(on = false)
}

/** Spark-side counts for the traced run. Jobs are attributed to a query
  * execution through the job group the benchmark sets (`pb-<id>`);
  * stages and tasks through their job. Each job also becomes a
  * `spark.job` span. Listener events arrive on one bus thread.
  */
private[perfbench] final class JobListener(tr: Tracer) extends SparkListener {
  private final class Acc {
    var jobs, stages, tasks, tasksOk = 0L
    var runMs, cpuNs, gcMs, schedMs = 0L
    var shuffleWrite, shuffleRead, spill, inputBytes, inputRecords = 0L
  }
  private val acc = mutable.LinkedHashMap.empty[Int, Acc]
  private val stageQuery = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, (Int, Long)]

  private def of(q: Int) = acc.getOrElseUpdate(q, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group.filter(_.startsWith("pb-")).map(_.drop(3).toInt).foreach { q =>
      jobStart(e.jobId) = (q, e.time)
      e.stageIds.foreach(s => stageQuery(s) = q)
      of(q).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStart.remove(e.jobId).foreach { case (q, start) =>
      tr.record(tr.newId(), "spark.job", start * 1000000L, e.time * 1000000L, 0, q, null)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageQuery.get(e.stageInfo.stageId).foreach(of(_).stages += 1)

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    stageQuery.get(e.stageId).foreach(of(_).tasks += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageQuery.get(e.stageId).foreach { q =>
      val a = of(q)
      if (e.reason == Success) a.tasksOk += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.inputBytes += m.inputMetrics.bytesRead
        a.inputRecords += m.inputMetrics.recordsRead
      }
    }

  /** One JSON line of counters per query execution. */
  def lines: Seq[String] = acc.toSeq.map { case (q, a) =>
    s"""{"query":$q,"jobs":${a.jobs},"stages":${a.stages},"tasks":${a.tasks},""" +
      s""""tasks_ok":${a.tasksOk},"task_run_s":${a.runMs / 1e3},""" +
      s""""task_cpu_s":${a.cpuNs / 1e9},"gc_s":${a.gcMs / 1e3},""" +
      s""""sched_delay_s":${a.schedMs / 1e3},"shuffle_write_bytes":${a.shuffleWrite},""" +
      s""""shuffle_read_bytes":${a.shuffleRead},"spill_bytes":${a.spill},""" +
      s""""input_bytes":${a.inputBytes},"input_records":${a.inputRecords}}"""
  }
}
