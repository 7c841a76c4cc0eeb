package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Spans kept in memory for the traced run, plus the Spark counters
  * attributed to them.
  *
  * A span is (name, start, end, parent, op id). The client issues one
  * operation at a time, so a Spark job belongs to the innermost span
  * that was open when the job was submitted, and a query's planning
  * time to the span open when its planning ended. Listener events
  * arrive asynchronously; they are matched to spans by time when the
  * run ends (`attribute`), after the listener bus has drained.
  *
  * `active` is switched per operation: traced runs alternate traced and
  * untraced operations of each kind, and the latency difference between
  * the two halves is the tracing overhead. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  private def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  var active: Boolean = enabled
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil

  private val jobs = mutable.ArrayBuffer[Job]()
  private val jobOfStage = mutable.Map[Int, Job]()
  private val jobById = mutable.Map[Int, Job]()
  private val plans = mutable.ArrayBuffer[(Double, Double)]() // (end ms, planning ms)

  if (enabled) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
        val j = new Job(e.time.toDouble)
        jobs += j
        jobById(e.jobId) = j
        e.stageInfos.foreach(s => jobOfStage(s.stageId) = j)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
        jobById.remove(e.jobId).foreach(_.end = e.time.toDouble)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
        val i = e.stageInfo
        jobOfStage.get(i.stageId).foreach { j =>
          val m = i.taskMetrics
          val c = j.counters
          c.stages += 1
          c.tasks += i.numTasks
          c.taskMs += m.executorRunTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.input += m.inputMetrics.bytesRead
          c.gcMs += m.jvmGCTime
          c.spill += m.diskBytesSpilled
        }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
        if (e.reason != org.apache.spark.Success)
          jobOfStage.get(e.stageId).foreach(_.counters.failedTasks += 1)
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
      private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
        val ph = qe.tracker.phases
        val planning = Seq("analysis", "optimization", "planning").flatMap(ph.get)
        if (planning.nonEmpty)
          plans += ((planning.map(_.endTimeMs).max.toDouble, planning.map(_.durationMs).sum.toDouble))
      }
    })
  }

  private var nextId = 0L

  /** Run `body` inside a span; a no-op wrapper when tracing is off. */
  def span[T](name: String, op: Long)(body: => T): T =
    if (!active) body
    else {
      nextId += 1
      val s = new Span(nextId, name, stack.headOption.map(_.id).getOrElse(0L), op, nowMs)
      stack = s :: stack
      try body
      finally {
        s.end = nowMs
        stack = stack.tail
        spans += s
      }
    }

  /** Assign jobs and planning records to the innermost enclosing span. */
  def attribute(): Seq[Span] = synchronized {
    org.apache.spark.graftbridge.ListenerFlush.waitUntilEmpty(spark.sparkContext)
    val byStart = spans.sortBy(s => (s.start, -s.end)).toIndexedSeq
    def innermost(t: Double): Option[Span] =
      byStart.filter(s => s.start <= t && t <= s.end).sortBy(s => s.end - s.start).headOption
    jobs.foreach { j =>
      innermost(j.start).foreach { s =>
        s.counters.add(j.counters)
        s.counters.jobs += 1
        s.jobIntervals += ((j.start, if (j.end < 0) s.end else math.min(j.end, s.end)))
      }
    }
    // an explicit "plan" span is its own planning time; planning
    // recorded by the query listener counts where no such span was open
    byStart.filter(_.name == "plan").foreach(s => s.planMs = s.end - s.start)
    plans.foreach { case (end, ms) =>
      innermost(end).filter(_.name != "plan").foreach(_.planMs += ms) }
    byStart
  }
}

object Tracer {
  final class Counters {
    var jobs, stages, tasks, failedTasks = 0L
    var taskMs, gcMs, shuffleWrite, shuffleRead, input, spill = 0L
    def add(o: Counters): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks; failedTasks += o.failedTasks
      taskMs += o.taskMs; gcMs += o.gcMs; shuffleWrite += o.shuffleWrite
      shuffleRead += o.shuffleRead; input += o.input; spill += o.spill
    }
  }
  final class Job(val start: Double) {
    var end: Double = -1
    val counters = new Counters
  }
  final class Span(val id: Long, val name: String, val parent: Long, val op: Long,
      val start: Double) {
    var end: Double = start
    val counters = new Counters
    var planMs = 0.0
    val jobIntervals = mutable.ArrayBuffer[(Double, Double)]()
  }

  /** Length of the union of intervals. */
  def unionMs(iv: Iterable[(Double, Double)]): Double = {
    var total, reach = 0.0
    var first = true
    iv.toSeq.sortBy(_._1).foreach { case (a, b) =>
      if (first || a > reach) { total += b - a; reach = b; first = false }
      else if (b > reach) { total += b - reach; reach = b }
    }
    total
  }
}
