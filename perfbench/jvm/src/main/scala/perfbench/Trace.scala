package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `layer` is one of graft's modules (session,
  * tables, operators, artifacts, functions, sources, streaming, spark)
  * or "bench" for the benchmark's own run/workload/phase spans.
  */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Per-stage task totals gathered from the Spark listener. */
final class StageAgg {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedMs = 0L
  var shuffleReadB = 0L
  var shuffleWriteB = 0L
  var spillB = 0L
  val taskRunMs = mutable.ArrayBuffer.empty[Long]
}

/** In-memory span recorder. Disabled, every call is a direct pass-through
  * and no listener is registered, so untraced runs carry no tracing cost.
  * The benchmark opens spans around its own calls into graft; Spark jobs
  * and stages become child spans of the call that was open when they
  * started, linked through a job-local property.
  */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private var stack: List[Long] = Nil
  private val overheadNs = new AtomicLong(0)
  private val PropKey = "perfbench.span"

  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Long)]()
  private val stageStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Long)]()
  private val stageOfJob = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageAgg]()
  val planMs = new AtomicLong(0)
  private var sc: SparkContext = _

  private def now: Long = System.nanoTime()

  private def current: Long = stack.headOption.getOrElse(0L)

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val o0 = now
      val id = ids.incrementAndGet()
      val parent = current
      stack = id :: stack
      if (sc != null) sc.setLocalProperty(PropKey, id.toString)
      val start = now
      overheadNs.addAndGet(start - o0)
      try body
      finally {
        val end = now
        spans.add(Span(id, parent, name, layer, start, end))
        stack = stack.tail
        if (sc != null) sc.setLocalProperty(PropKey,
          stack.headOption.map(_.toString).orNull)
        overheadNs.addAndGet(now - end)
      }
    }

  /** Attach the Spark listeners to a session (traced runs only). */
  def attach(spark: SparkSession): Unit = if (enabled) {
    sc = spark.sparkContext
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = timed {
        val parent = Option(e.properties).flatMap(p =>
          Option(p.getProperty(PropKey))).map(_.toLong).getOrElse(0L)
        val jid = ids.incrementAndGet()
        jobStart.put(e.jobId, (jid, parent, now))
        e.stageIds.foreach(s => stageOfJob.put(s, jid))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
        Option(jobStart.remove(e.jobId)).foreach { case (jid, parent, t0) =>
          spans.add(Span(jid, parent, s"job ${e.jobId}", "spark", t0, now))
        }
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
        val parent = Option(stageOfJob.get(e.stageInfo.stageId)).getOrElse(0L)
        stageStart.put(e.stageInfo.stageId, (ids.incrementAndGet(), parent, now))
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
        val sid = e.stageInfo.stageId
        Option(stageStart.remove(sid)).foreach { case (id, parent, t0) =>
          spans.add(Span(id, parent, s"stage $sid", "spark", t0, now))
        }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
        val m = e.taskMetrics
        if (m != null) {
          val a = stages.computeIfAbsent(e.stageId, _ => new StageAgg)
          a.synchronized {
            a.tasks += 1
            a.runMs += m.executorRunTime
            a.cpuNs += m.executorCpuTime
            a.gcMs += m.jvmGCTime
            a.schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
              m.executorDeserializeTime - m.resultSerializationTime)
            a.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
            a.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
            a.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
            a.taskRunMs += m.executorRunTime
          }
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        timed { planMs.addAndGet(planningMs(qe)) }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }

  private def timed(body: => Unit): Unit = {
    val t = now
    body
    overheadNs.addAndGet(now - t)
  }

  /** Analysis + optimization + planning time of one executed plan. */
  def planningMs(qe: QueryExecution): Long =
    qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum

  def all: Seq[Span] = spans.asScala.toSeq

  def overheadS: Double = overheadNs.get / 1e9

  /** Each layer's self time: a span's duration minus the part of it that
    * its child spans cover.
    */
  def selfTimeByLayer: Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.layer).map { case (layer, xs) =>
      layer -> xs.map { s =>
        val covered = Tracer.unionNs(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
        (s.durNs - covered) / 1e9
      }.sum
    }
  }

  /** Write every span as one JSON line. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startNs).map { s =>
      s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"layer":"${s.layer}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  /** Total length covered by a set of [start, end) intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a; curE = b
      } else if (b > curE) curE = b
    }
    if (curE > curS) total += curE - curS
    total
  }
}
