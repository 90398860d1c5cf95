package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One clock for the whole run: epoch milliseconds with sub-millisecond
  * resolution, so driver-side spans (timed with `nanoTime`) and Spark's
  * listener events (stamped with `currentTimeMillis`) share an axis.
  */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def ms(ns: Long): Double = baseMs + (ns - baseNs) / 1e6
  def now(): Double = ms(System.nanoTime())
}

/** A timed phase of one operation (`queries.construct`, `action`,
  * `engine.run`, `sources.commit.merge`, ...). Its id rides on the driver
  * thread's local properties, so every Spark job the phase starts carries
  * it and is attributed without guessing from timestamps.
  */
final case class Phase(id: Long, name: String, startMs: Double, endMs: Double)

/** Per-operation context handed to an operation's body. */
final class OpCtx(sc: SparkContext, ids: AtomicLong) {
  val phases = mutable.ArrayBuffer.empty[Phase]
  val extra = mutable.LinkedHashMap.empty[String, Any]
  val problems = mutable.ArrayBuffer.empty[String]

  def phase[A](name: String)(body: => A): A = {
    val id = ids.incrementAndGet()
    sc.setLocalProperty(Recorder.PhaseProp, id.toString)
    val s = System.nanoTime()
    try body
    finally {
      phases += Phase(id, name, Clock.ms(s), Clock.now())
      sc.setLocalProperty(Recorder.PhaseProp, null)
    }
  }
}

/** Records jobs, stages, task metrics and Catalyst phase times in memory,
  * from Spark's public listener APIs. Registered only for traced passes.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  import Recorder._

  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Double, Long, Seq[Int])]()
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val plans = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val taskAgg = new java.util.concurrent.ConcurrentHashMap[(Int, Int), TaskAgg]()

  private final class TaskAgg {
    var tasks, failed = 0L
    var runMs, cpuNs, gcMs, shRead, shWrite, spill, peakMem = 0L
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val phase = Option(e.properties).flatMap(p => Option(p.getProperty(PhaseProp)))
      .map(_.toLong).getOrElse(-1L)
    jobStarts.put(e.jobId, (e.time.toDouble, phase, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val (start, phase, stageIds) = Option(jobStarts.remove(e.jobId))
      .getOrElse((e.time.toDouble, -1L, Seq.empty[Int]))
    jobs.add(Map("job" -> e.jobId, "phase" -> phase, "start_ms" -> start,
      "end_ms" -> e.time.toDouble, "stages" -> stageIds))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = taskAgg.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new TaskAgg)
    a.synchronized {
      a.tasks += 1
      if (!e.taskInfo.successful) a.failed += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shRead += m.shuffleReadMetrics.totalBytesRead
        a.shWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.diskBytesSpilled
        a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stages.add(Map("stage" -> i.stageId, "attempt" -> i.attemptNumber(),
      "submit_ms" -> i.submissionTime.getOrElse(0L).toDouble,
      "end_ms" -> i.completionTime.getOrElse(0L).toDouble))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    plan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    plan(qe)

  private def plan(qe: QueryExecution): Unit =
    plans.add(Map("phases" -> qe.tracker.phases.map { case (name, p) =>
      name -> Map("start_ms" -> p.startTimeMs.toDouble, "end_ms" -> p.endTimeMs.toDouble)
    }))

  /** Everything recorded since the last call, as plain maps for JSON. */
  def drain(): Map[String, Any] = {
    def take[A](q: ConcurrentLinkedQueue[A]): Seq[A] = {
      val out = Seq.newBuilder[A]
      var x = q.poll()
      while (x != null) { out += x; x = q.poll() }
      out.result()
    }
    val tasks = taskAgg.asScala.toSeq.map { case ((s, att), a) =>
      Map("stage" -> s, "attempt" -> att, "tasks" -> a.tasks, "failed" -> a.failed,
        "run_ms" -> a.runMs, "cpu_ns" -> a.cpuNs, "gc_ms" -> a.gcMs,
        "shuffle_read_bytes" -> a.shRead, "shuffle_write_bytes" -> a.shWrite,
        "spill_bytes" -> a.spill, "peak_exec_mem_bytes" -> a.peakMem)
    }
    taskAgg.clear()
    Map("jobs" -> take(jobs), "stages" -> take(stages), "tasks" -> tasks,
      "plans" -> take(plans))
  }
}

object Recorder {
  val PhaseProp = "perfbench.phase"
}
