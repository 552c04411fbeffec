package perfbench

import scala.collection.mutable

import org.apache.spark.perfbench.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** What the engine did inside one span: the wall time seen by the caller,
  * the Spark jobs and tasks it ran, the part of the wall covered by at
  * least one running job (`busyS`), the Catalyst phase times of every query
  * it executed, and task-level GC, output bytes and spill.
  */
final case class Span(wallS: Double, jobs: Int, tasks: Long, busyS: Double,
                      analysisS: Double, optimizationS: Double, planningS: Double,
                      gcS: Double, bytesWritten: Long, spillBytes: Long) {
  /** Driver-side time: the wall minus the union of job spans. */
  def gapS: Double = math.max(0.0, wallS - busyS)
}

/** Spans around calls into the library, recorded from outside it: one
  * `SparkListener` for jobs and tasks and one `QueryExecutionListener` for
  * the `QueryExecution.tracker` phases. The benchmark is a closed loop with
  * one client, so every event between a span's start and end belongs to it.
  * Attached only in the traced run.
  */
final class Tracer(spark: SparkSession) {
  private val lock = new Object
  private val running = mutable.Map.empty[Int, Long]
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private var tasks, gcMs, bytes, spill, analysisMs, optimizationMs, planningMs = 0L

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      lock.synchronized { running(e.jobId) = e.time }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      lock.synchronized { running.remove(e.jobId).foreach(s => jobSpans += ((s, e.time))) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      tasks += 1
      Option(e.taskMetrics).foreach { m =>
        gcMs += m.jvmGCTime
        bytes += m.outputMetrics.bytesWritten
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
    private def phases(qe: QueryExecution): Unit = {
      val p = qe.tracker.phases
      def ms(name: String) = p.get(name).map(_.durationMs).getOrElse(0L)
      lock.synchronized {
        analysisMs += ms("analysis")
        optimizationMs += ms("optimization")
        planningMs += ms("planning")
      }
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(queryListener)
  }

  def detach(): Unit = {
    ListenerBusDrain.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(queryListener)
  }

  private def reset(): Unit = lock.synchronized {
    running.clear(); jobSpans.clear()
    tasks = 0; gcMs = 0; bytes = 0; spill = 0
    analysisMs = 0; optimizationMs = 0; planningMs = 0
  }

  /** Runs `f` as one span. */
  def span[T](f: => T): (T, Span) = {
    ListenerBusDrain.drain(spark.sparkContext)
    reset()
    val t0ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = f
    val wall = (System.nanoTime() - t0) / 1e9
    val t1ms = System.currentTimeMillis()
    ListenerBusDrain.drain(spark.sparkContext)
    lock.synchronized {
      val clipped = jobSpans.map { case (s, e) => (math.max(s, t0ms), math.min(e, t1ms)) }
        .filter { case (s, e) => e > s }.sortBy(_._1)
      var busyMs = 0L
      var curS = -1L
      var curE = -1L
      clipped.foreach { case (s, e) =>
        if (s > curE) { busyMs += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      busyMs += curE - curS
      (r, Span(wall, jobSpans.size, tasks, math.min(wall, busyMs / 1e3),
        analysisMs / 1e3, optimizationMs / 1e3, planningMs / 1e3,
        gcMs / 1e3, bytes, spill))
    }
  }
}

object Stats {
  /** Quantile with linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
