package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Spark work per benchmark call, keyed by job tag: the benchmark tags
  * the jobs a call starts ([[SparkCounters.tagged]]) and this listener
  * sums their tasks' metrics. */
final class SparkCounters extends SparkListener {
  final class Agg {
    var jobs = 0L; var tasks = 0L; var cpuNs = 0L
    var shuffleWrite = 0L
  }
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val aggs = new ConcurrentHashMap[String, Agg]()

  private def agg(tag: String): Agg = aggs.computeIfAbsent(tag, _ => new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(SparkCounters.JobTags)))
      .flatMap(_.split(",").find(_.startsWith(SparkCounters.Prefix)))
      .foreach { tag =>
        val a = agg(tag.stripPrefix(SparkCounters.Prefix))
        a.synchronized(a.jobs += 1)
        e.stageIds.foreach(stageTag.put(_, tag.stripPrefix(SparkCounters.Prefix)))
      }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageTag.get(e.stageId)).foreach { tag =>
      val a = agg(tag)
      val m = e.taskMetrics
      a.synchronized {
        a.tasks += 1
        if (m != null) {
          a.cpuNs += m.executorCpuTime
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }

  /** Totals for `tag`, after every posted event has been delivered. */
  def get(sc: SparkContext, tag: String): Agg = {
    org.apache.spark.PerfbenchBus.drain(sc)
    agg(tag)
  }
}

object SparkCounters {
  val Prefix = "perfbench-"
  /** The job property Spark stores a job's tags in, comma-separated. */
  val JobTags = "spark.job.tags"

  /** Run `f` with every Spark job it starts on this thread tagged. */
  def tagged[T](sc: SparkContext, tag: String)(f: => T): T = {
    sc.addJobTag(Prefix + tag)
    try f finally sc.removeJobTag(Prefix + tag)
  }
}
