package perfbench

import java.io.File

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

final case class Metric(value: Double, unit: String)

/** One workload's measured figures.
  *  - `e2e`: the contract metrics, the same names for every workload;
  *  - `named`: the workload's own end-to-end metrics (rows_per_s,
  *    append_p90_s, ...) with their sample counts;
  *  - `layers`: the generic per-operation engine metrics (traced run);
  *  - `namedLayers`: the per-module layer metrics (traced run);
  *  - `opCounts`: (operation kind, Spark jobs, tasks) of each traced
  *    operation, in execution order.
  */
final case class Outcome(e2e: ListMap[String, Metric], named: ListMap[String, Metric],
                         layers: ListMap[String, Metric], namedLayers: ListMap[String, Metric],
                         opCounts: Seq[(String, Int, Long)])

/** Session life cycle, set-up rounds, the closed loop and the failure
  * ledger shared by the workloads.
  */
final class Harness(val seed: Long, val seconds: Double, val traced: Boolean, val workDir: File) {
  val cores: Int = Runtime.getRuntime.availableProcessors()
  private var session: SparkSession = _
  def spark: SparkSession = session

  private var attemptedOps = 0
  private var failedOps = 0
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  def attempted: Int = attemptedOps
  def failed: Int = failedOps

  /** local[nproc], shuffle partitions = nproc, through the library's own
    * production session defaults.
    */
  private def startSession(): Unit = {
    session = graft.LogPipeline.session("perfbench", s"local[$cores]", cores)
    session.sparkContext.setLogLevel("ERROR")
  }

  def stop(): Unit = if (session != null) { session.stop(); session = null }

  def dir(name: String): File = new File(workDir, name)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  def bytesUnder(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(bytesUnder).sum
    else if (f.getName.endsWith(".crc")) 0L
    else f.length()

  /** Wall of each set-up round, the first one in a cold JVM. */
  var setupTimes: Seq[Double] = Nil

  /** Wall of each measured operation of the untraced loop, in order. */
  var opWalls: Seq[Double] = Nil

  /** Runs `body` (input generation and warm-up) `rounds` times, each on a
    * freshly started session over an emptied data directory, and returns
    * the median round time. The last round's session and inputs stay for
    * the measurement.
    */
  def setupRounds(rounds: Int)(body: => Unit): Double = {
    setupTimes = (1 to rounds).map { _ =>
      stop()
      deleteTree(dir("data"))
      dir("data").mkdirs()
      Stats.time { startSession(); body }._2
    }
    Stats.median(setupTimes)
  }

  /** One attempted operation: it fails when `body` throws or returns a
    * non-empty mismatch description.
    */
  def attempt(what: String)(body: => Option[String]): Unit = {
    attemptedOps += 1
    val problem =
      try body
      catch { case NonFatal(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    problem.foreach { p =>
      failedOps += 1
      if (failures.size < 20) failures += s"$what: $p"
    }
  }

  /** A set-up check: counted as one attempted operation. */
  def expect(what: String, ok: Boolean, detail: => String): Unit =
    attempt(what)(if (ok) None else Some(detail))

  /** Untimed operations between set-up and measurement: the driver-side
    * code (analysis, optimization, generated classes) keeps getting faster
    * for several runs after set-up, and the measured loop should see the
    * steady state a long-running pipeline sees. Not part of `setup_s`.
    */
  def settle(times: Int)(op: => Unit): Unit = (1 to times).foreach(_ => op)

  /** Closed loop with one client: `step(i)` runs until the budget is spent
    * and at least `minSteps` steps have run.
    */
  def loop(budgetS: Double, minSteps: Int)(step: Int => Unit): Int = {
    val deadline = System.nanoTime() + (budgetS * 1e9).toLong
    var i = 0
    while (i < minSteps || System.nanoTime() < deadline) { step(i); i += 1 }
    i
  }

  lazy val tracer: Tracer = new Tracer(spark)
}

object Harness {
  def metrics(xs: (String, Double, String)*): ListMap[String, Metric] =
    ListMap(xs.map { case (n, v, u) => n -> Metric(v, u) }: _*)

  /** The generic per-operation engine metrics over a set of traced spans. */
  def engineLayers(spans: Seq[Span], overhead: Double): ListMap[String, Metric] = {
    def m(f: Span => Double) = Stats.mean(spans.map(f))
    metrics(
      ("engine.jobs_per_op", m(_.jobs.toDouble), "count"),
      ("engine.tasks_per_op", m(_.tasks.toDouble), "count"),
      ("engine.job_busy_s_per_op", m(_.busyS), "s"),
      ("engine.driver_gap_s_per_op", m(_.gapS), "s"),
      ("engine.analysis_s_per_op", m(_.analysisS), "s"),
      ("engine.optimization_s_per_op", m(_.optimizationS), "s"),
      ("engine.planning_s_per_op", m(_.planningS), "s"),
      ("engine.gc_s_per_op", m(_.gcS), "s"),
      ("engine.bytes_written_per_op", m(_.bytesWritten.toDouble), "bytes"),
      ("trace_overhead", overhead, "ratio"))
  }
}
