package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.graftbridge.Bridge

/** The one way graft times a query: build its DataFrame, write the full
  * result to the `noop` sink, and report what that cost.
  *
  * `count()` is not used because Catalyst prunes every projection the
  * count does not need (98 of the 216 queries lose more than a fifth of
  * their expressions under it), so a count times a different plan from
  * the one the oracle hashes. The noop write evaluates every output
  * column and discards it.
  *
  * The Spark counters of a run come from one listener per
  * `SparkContext`, keyed by a job tag that is unique to the run, so
  * runs on different threads never mix their counts. The listener bus
  * is drained before the counters are read: no sleep.
  */
object Measure {

  /** One timed run. Wall, process CPU and GC seconds cover the whole
    * window, DataFrame construction included; the other fields count
    * the Spark jobs the run started. `outputRows` is the number of
    * rows the result holds. */
  final case class Sample(
      wallSec: Double, cpuSec: Double, gcSec: Double,
      jobs: Long, stages: Long, tasks: Long, executorCpuSec: Double,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
      outputRows: Long) {
    /** The counters as one JSON object (`queries_counters` entries). */
    def countersJson: String =
      f"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,"executor_cpu_sec":$executorCpuSec%.3f,"shuffle_read_bytes":$shuffleReadBytes,"shuffle_write_bytes":$shuffleWriteBytes,"spill_bytes":$spillBytes,"output_rows":$outputRows}"""
  }

  /** Build `df` and write its full result to the noop sink, with every
    * Spark job of the window tagged. `tag` names the run in Spark's job
    * tags (no commas). Throws what the query throws. */
  def run(spark: SparkSession, tag: String)(df: => DataFrame): Sample = {
    val sc = spark.sparkContext
    val listener = listenerFor(sc)
    val jobTag = s"graft-measure-${runs.incrementAndGet()}-$tag"
    val acc = new Acc
    listener.active.put(jobTag, acc)
    val obs = Observation()
    val g0 = gcTimeSec()
    val c0 = osBean.getProcessCpuTime
    val t0 = System.nanoTime()
    sc.addJobTag(jobTag)
    try {
      df.observe(obs, count(lit(1)).as("rows"))
        .write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (osBean.getProcessCpuTime - c0) / 1e9
      val gc = gcTimeSec() - g0
      val rows = obs.get("rows").asInstanceOf[Long]
      Bridge.drainListenerBus(sc)
      acc.synchronized(Sample(wall, cpu, gc, acc.jobs, acc.stages, acc.tasks,
        acc.cpuNs / 1e9, acc.shuffleRead, acc.shuffleWrite, acc.spill, rows))
    } finally {
      sc.removeJobTag(jobTag)
      listener.forget(jobTag, acc)
    }
  }

  /** Cumulative stop-the-world GC seconds of this JVM, all collectors. */
  private[graft] def gcTimeSec(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private val runs = new AtomicLong

  private final class Acc {
    var jobs, stages, tasks, cpuNs, shuffleRead, shuffleWrite, spill = 0L
  }

  /** Sums the work of the jobs whose tags name an active run. A stage
    * belongs to the run whose job submitted it; a task to its stage. */
  private final class TagListener extends SparkListener {
    val active = new ConcurrentHashMap[String, Acc]()
    private val stageAcc = new ConcurrentHashMap[Int, Acc]()

    private def accOf(props: java.util.Properties): Option[Acc] =
      // the job property Spark keeps a job's tags in, comma-separated
      Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .flatMap(_.split(",").iterator.map(active.get).find(_ != null))

    override def onJobStart(e: SparkListenerJobStart): Unit =
      accOf(e.properties).foreach(a => a.synchronized(a.jobs += 1))

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      accOf(e.properties).foreach { a =>
        stageAcc.put(e.stageInfo.stageId, a)
        a.synchronized(a.stages += 1)
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageAcc.get(e.stageId)).foreach { a =>
        val m = e.taskMetrics
        a.synchronized {
          a.tasks += 1
          if (m != null) {
            a.cpuNs += m.executorCpuTime
            a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            a.spill += m.diskBytesSpilled
          }
        }
      }

    def forget(jobTag: String, acc: Acc): Unit = {
      active.remove(jobTag)
      stageAcc.values.removeIf(_ eq acc)
    }
  }

  private var installed: (SparkContext, TagListener) = _

  /** The listener of `sc`, added on first use (a stopped context's
    * listener goes with it). */
  private def listenerFor(sc: SparkContext): TagListener = synchronized {
    if (installed == null || (installed._1 ne sc)) {
      val l = new TagListener
      sc.addSparkListener(l)
      installed = (sc, l)
    }
    installed._2
  }

  // ---- bench artifacts ------------------------------------------------

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper

  private def fields(node: com.fasterxml.jackson.databind.JsonNode)
      : Map[String, com.fasterxml.jackson.databind.JsonNode] =
    node.properties().asScala.map(e => e.getKey -> e.getValue).toMap

  /** The flat `{"name": number}` object `field` of a bench artifact or
    * snapshot (numbers written as strings are read too). Throws when
    * the field is absent. */
  def numMap(json: String, field: String): Map[String, Double] =
    Option(mapper.readTree(json).get(field))
      .map(fields(_).map { case (k, v) => k -> v.asDouble })
      .getOrElse(throw new NoSuchElementException(s"no $field field"))

  /** `queries_counters` of a bench artifact: query -> counter -> value;
    * empty for artifacts written before the field existed. */
  def counters(json: String): Map[String, Map[String, Double]] =
    Option(mapper.readTree(json).get("queries_counters"))
      .map(fields(_).map { case (q, c) =>
        q -> fields(c).map { case (k, v) => k -> v.asDouble } })
      .getOrElse(Map.empty)
}
