package perfbench

import java.io.File

import scala.collection.immutable.ListMap

/** The benchmark driver: one process, one Spark session at local[nproc].
  *
  * {{{
  * Main --workload route_bulk|config_small|snapshot_mixed|all --seed N
  *      --seconds S --trace 0|1 --work DIR
  * }}}
  *
  * Prints, per workload, one `report` line with the workload's own
  * end-to-end metrics, one `layers` line when traced, and as the last line
  * one result object `{"correct", "attempted", "failed", "metrics"}`: the
  * contract end-to-end metrics untraced, the per-layer metrics traced.
  * Exits 1 when any output check failed.
  */
object Main {
  val Workloads: ListMap[String, Harness => Outcome] = ListMap(
    "route_bulk" -> RouteBulk.run,
    "config_small" -> ConfigSmall.run,
    "snapshot_mixed" -> SnapshotMixed.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val names = if (workload == "all") Workloads.keys.toSeq else Seq(workload)
    require(names.forall(Workloads.contains), s"unknown workload $workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = new File(opt("work"))

    var attempted = 0
    var failed = 0
    var metrics = ListMap.empty[String, Metric]
    names.foreach { name =>
      val h = new Harness(seed, seconds, traced, new File(work, name))
      val out = try Workloads(name)(h) finally { h.stop(); h.deleteTree(h.workDir) }
      attempted += h.attempted
      failed += h.failed
      val errorRate = Metric(h.failed.toDouble / math.max(1, h.attempted), "ratio")
      val report = out.named + ("error_rate" -> errorRate) +
        ("attempted_ops" -> Metric(h.attempted.toDouble, "count"))
      println(Json.obj("workload" -> Json.str(name), "seed" -> seed.toString,
        "cores" -> h.cores.toString, "report" -> Json.metrics(report),
        "setup_rounds_s" -> Json.arr(h.setupTimes.map(Json.num)),
        "op_walls_s" -> Json.arr(h.opWalls.map(Json.num)),
        "failures" -> Json.arr(h.failures.map(Json.str).toSeq)))
      if (traced) {
        println(Json.obj("workload" -> Json.str(name), "layers" -> Json.metrics(out.namedLayers),
          "op_counts" -> Json.arr(out.opCounts.map { case (k, j, t) =>
            Json.arr(Seq(Json.str(k), j.toString, t.toString)) })))
      }
      val contract = if (traced) out.layers else out.e2e
      val prefix = if (names.size > 1) s"$name/" else ""
      metrics ++= contract.map { case (k, v) => (prefix + k) -> v }
    }
    println(Json.obj("correct" -> (failed == 0).toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString, "metrics" -> Json.metrics(metrics)))
    System.out.flush()
    sys.exit(if (failed == 0) 0 else 1)
  }
}

/** Just enough JSON for the result lines. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"not a finite number: $d")
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString
  }

  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")

  def metrics(ms: ListMap[String, Metric]): String =
    obj(ms.toSeq.map { case (k, m) => k -> obj("value" -> num(m.value), "unit" -> str(m.unit)) }: _*)
}
