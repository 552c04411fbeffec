package perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable

import graft.lscl.{Lscl, LsclRun}
import graft.operators.Route

/** `config_small`: back-to-back `LsclRun.runConfig` calls of one config
  * text over a generator input of a few thousand events. The config has a
  * `json` filter with no schema (so schema inference runs), `grok`,
  * `translate`, `mutate` and an if / else if / else output section to four
  * sinks. Per-run fixed cost dominates: planning, inference and the number
  * of Spark jobs, not per-row work.
  */
object ConfigSmall {
  val Events = 4000
  val Lines = 16
  private val levels = IndexedSeq("ERROR", "WARN", "INFO", "INFO", "DEBUG")
  private val verbs = IndexedSeq("GET", "POST", "PUT", "DELETE")
  private val hosts = (0 until 8).map(k => s"h$k")
  private val dc = Map("h0" -> "east", "h1" -> "east", "h2" -> "west", "h3" -> "west",
    "h4" -> "east", "h5" -> "north")

  final case class Line(lvl: String, host: String, verb: String, bytes: Int, n: Int) {
    def json: String =
      s"""{"lvl": "$lvl", "host": "$host", "msg": "$verb $bytes", "n": $n}"""
    /** The output section, evaluated on the model. */
    def sink: String =
      if (lvl == "ERROR") "errors"
      else if (bytes > 500) "big"
      else if (dc.getOrElse(host, "none") == "east") "east"
      else "rest"
  }

  /** Sixteen lines, four aimed at each sink so that no sink is empty; the
    * seed draws every field within those constraints and the line order.
    */
  def lines(rng: SplittableRandom): IndexedSeq[Line] = {
    def any[T](xs: IndexedSeq[T]) = xs(rng.nextInt(xs.size))
    val east = hosts.filter(h => dc.get(h).contains("east"))
    val notEast = hosts.filterNot(east.contains)
    val calm = levels.filterNot(_ == "ERROR")
    val aimed = (0 until Lines).map { i =>
      val verb = any(verbs)
      val n = rng.nextInt(100)
      i % 4 match {
        case 0 => Line("ERROR", any(hosts), verb, 1 + rng.nextInt(999), n)
        case 1 => Line(any(calm), any(hosts), verb, 501 + rng.nextInt(499), n)
        case 2 => Line(any(calm), any(east), verb, 1 + rng.nextInt(500), n)
        case _ => Line(any(calm), any(notEast), verb, 1 + rng.nextInt(500), n)
      }
    }
    Gen.shuffle(rng, aimed)
  }

  def configText(ls: Seq[Line]): String = {
    val dictEntries = dc.toSeq.sorted.map { case (k, v) => s""""$k" => "$v"""" }.mkString(" ")
    s"""input {
       |  generator {
       |    count => $Events
       |    lines => [${ls.map(l => s"'${l.json}'").mkString(", ")}]
       |  }
       |}
       |filter {
       |  json { source => "message" }
       |  grok { match => { "msg" => "%{WORD:verb} %{INT:bytes:int}" } }
       |  translate { source => "host" target => "dc" dictionary => { $dictEntries } fallback => "none" }
       |  mutate { lowercase => ["verb"] add_field => { "pipeline" => "perfbench" } }
       |  if [lvl] == "ERROR" { mutate { add_tag => ["bad"] } }
       |}
       |output {
       |  if "bad" in [tags] { sink { id => "errors" } }
       |  else if [bytes] > 500 { sink { id => "big" } }
       |  else if [dc] == "east" { sink { id => "east" } }
       |  else { sink { id => "rest" } }
       |}
       |""".stripMargin
  }

  def run(h: Harness): Outcome = {
    val ls = lines(new SplittableRandom(h.seed))
    val text = configText(ls)
    // the generator cycles the lines: event i carries line i mod Lines
    val expected: Map[String, Long] = {
      val perLine = ls.indices.map(j => Events / Lines + (if (j < Events % Lines) 1 else 0))
      val bySink = ls.zip(perLine).groupMapReduce(_._1.sink)(_._2.toLong)(_ + _)
      Seq("errors", "big", "east", "rest").map(s => s -> bySink.getOrElse(s, 0L)).toMap ++
        Map("_default" -> 0L, "_total" -> Events.toLong, "_in" -> Events.toLong)
    }
    val outRoot = h.dir("data/out")
    var n = 0
    def freshOut(): String = { n += 1; new File(outRoot, s"run-$n").getPath }
    def problem(res: Route.RunResult): Option[String] = {
      val got = expected.keys.map(k => k -> res.counts.getOrElse(k, -1L)).toMap
      if (got == expected) None else Some(s"counts $got != expected $expected")
    }

    val setupS = h.setupRounds(3) {
      LsclRun.runConfig(h.spark, text, freshOut(), Map.empty) // warm-up
      h.deleteTree(outRoot)
    }
    val spark = h.spark

    var lastOut: String = null
    def step(timed: (=> Route.RunResult) => (Route.RunResult, Double)): Option[Double] = {
      if (lastOut != null) h.deleteTree(new File(lastOut))
      lastOut = freshOut()
      var wall: Option[Double] = None
      h.attempt(s"runConfig $n") {
        val (res, t) = timed(LsclRun.runConfig(spark, text, lastOut, Map.empty))
        wall = Some(t)
        problem(res)
      }
      wall
    }

    h.settle(6) {
      LsclRun.runConfig(spark, text, freshOut(), Map.empty)
      h.deleteTree(outRoot)
    }
    val walls = mutable.ArrayBuffer.empty[Double]
    h.loop(if (h.traced) h.seconds * 0.4 else h.seconds, minSteps = 5) { _ =>
      walls ++= step(f => Stats.time(f))
    }
    val outBytes = h.bytesUnder(new File(lastOut))
    h.opWalls = walls.toSeq
    val p50 = Stats.median(walls.toSeq)
    val e2e = Harness.metrics(
      ("op_p50_s", p50, "s"),
      ("rows_per_s", Events.toDouble * walls.size / walls.sum, "rows/s"),
      ("out_bytes_per_row", outBytes.toDouble / Events, "bytes/row"),
      ("setup_s", setupS, "s"))
    val named = Harness.metrics(
      ("run_p50_s", p50, "s"),
      ("setup_s", setupS, "s"),
      ("run_samples", walls.size.toDouble, "count"),
      ("events_per_run", Events.toDouble, "rows"))
    if (!h.traced) { h.deleteTree(outRoot); return Outcome(e2e, named, Harness.metrics(), Harness.metrics(), Nil) }

    val tr = h.tracer
    tr.attach()
    val spans = mutable.ArrayBuffer.empty[Span]
    val parseS = mutable.ArrayBuffer.empty[Double]
    h.loop(h.seconds * 0.6, minSteps = 3) { _ =>
      parseS += Stats.median((1 to 5).map(_ => Stats.time(Lscl.parse(text, Map.empty))._2))
      step { f =>
        val (r, s) = tr.span(f)
        spans += s
        (r, s.wallS)
      }
    }
    tr.detach()
    h.deleteTree(outRoot)
    def med(f: Span => Double) = Stats.median(spans.map(f).toSeq)
    val overhead = med(_.wallS) / p50 - 1
    val namedLayers = Harness.metrics(
      ("lscl.parse_s", Stats.median(parseS.toSeq), "s"),
      ("lscl.run_s", med(_.wallS), "s"),
      ("lscl.jobs_per_run", med(_.jobs.toDouble), "count"),
      ("lscl.tasks_per_run", med(_.tasks.toDouble), "count"),
      ("lscl.job_busy_s", med(_.busyS), "s"),
      ("lscl.driver_gap_s", med(_.gapS), "s"),
      ("lscl.analysis_s", med(_.analysisS), "s"),
      ("lscl.optimization_s", med(_.optimizationS), "s"),
      ("lscl.planning_s", med(_.planningS), "s"),
      ("trace_overhead", overhead, "ratio"),
      ("traced_samples", spans.size.toDouble, "count"))
    Outcome(e2e, named, Harness.engineLayers(spans.toSeq, overhead), namedLayers,
      spans.map(s => ("LsclRun.runConfig", s.jobs, s.tasks)).toSeq)
  }
}
