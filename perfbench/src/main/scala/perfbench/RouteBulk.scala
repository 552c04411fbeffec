package perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{LogPipeline, StandardPipeline}
import graft.model.Tok
import graft.operators.{Route, SnapshotTable}

/** `route_bulk`: pre-tokenized rows `(doc_id, tokens, n_tok, source)` read
  * from a snapshot table through StandardPipeline parse -> enrich -> three
  * sinks + default with `LogPipeline.run`. Per-row kernels and the Route
  * write path do nearly all the work; `lscl` is not on the path.
  *
  * Set-up writes a seeded documents table and replicates it `Reps` times
  * into the source table (tokenized on the way), so every output count is
  * the replication-scaled count of the base documents.
  */
object RouteBulk {
  val BaseDocs = 4000
  val Reps = 20

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def run(h: Harness): Outcome = {
    val docs = Gen.docs(new SplittableRandom(h.seed), BaseDocs)
    val rows = BaseDocs.toLong * Reps
    val sinksOf = docs.map(d => d -> Gen.standardSinks(d))
    val sinkNames = StandardPipeline.sinks.map(_.name) :+ "_default"
    val expectedCounts: Map[String, Long] =
      sinkNames.map(s => s -> sinksOf.count(_._2.contains(s)).toLong * Reps).toMap +
        ("_total" -> rows)
    // read-back checksum per sink: the row hash of `tokens` alone, so all
    // replicas of a document hash alike
    val expectedSums: Map[String, (Long, Long)] = sinkNames.map { s =>
      val in = sinksOf.collect { case (d, ss) if ss.contains(s) => Gen.rowHash(0L, d.tokens) }
      s -> (in.size.toLong * Reps, in.sum * Reps)
    }.toMap

    val docsPath = h.dir("data/documents.parquet").getPath
    val table = h.dir("data/source_table").getPath
    val outRoot = h.dir("data/out")

    def amplified(spark: SparkSession): DataFrame =
      spark.range(0, Reps, 1, h.cores).withColumnRenamed("id", "rep")
        .crossJoin(broadcast(spark.read.parquet(docsPath)))
        .withColumn("doc_id", col("doc_id") * Reps + col("rep"))
        .drop("rep")

    def pipeline(spark: SparkSession): LogPipeline =
      LogPipeline.read(SnapshotTable.read(spark, table))
        .parse()
        .enrich(StandardPipeline.dictDf(spark), on = "source")
        .route(StandardPipeline.sinks: _*)

    def countsProblem(res: Route.RunResult): Option[String] = {
      val got = (sinkNames :+ "_total").map(s => s -> res.counts.getOrElse(s, -1L)).toMap
      if (got == expectedCounts) None else Some(s"counts $got != expected $expectedCounts")
    }

    def readBackProblem(spark: SparkSession, res: Route.RunResult): Option[String] = {
      val bad = sinkNames.flatMap { s =>
        val r = spark.read.parquet(res.sinkPaths(s))
          .agg(count(lit(1)), coalesce(sum(Gen.rowHashCol(lit(0L), col("tokens"))), lit(0L)))
          .collect().head
        val got = (r.getLong(0), r.getLong(1))
        if (got == expectedSums(s)) None else Some(s"$s read back $got != ${expectedSums(s)}")
      }
      if (bad.isEmpty) None else Some(bad.mkString("; "))
    }

    var opDir = 0
    def freshOut(): String = {
      opDir += 1
      new File(outRoot, s"run-$opDir").getPath
    }

    val setupS = h.setupRounds(3) {
      val spark = h.spark
      Gen.documentsFrame(spark, docs).coalesce(1).write.parquet(docsPath)
      SnapshotTable.append(spark, Tok.rawSequences(amplified(spark)), table, Some("bulk-0"))
      pipeline(spark).run(spark, freshOut()) // warm-up
      h.deleteTree(outRoot)
    }
    val spark = h.spark

    // the tokenizer against the model, on the base documents
    val tokGot = Tok.rawSequences(spark.read.parquet(docsPath))
      .select(col("doc_id").cast("long"), col("tokens")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toIndexedSeq).toMap
    h.expect("tokenize", docs.forall(d => tokGot.get(d.id).contains(d.tokens)),
      "Tok.rawSequences disagrees with the model tokenization")

    // one LogPipeline.run per step into a fresh directory; the first and
    // the last run's sinks are read back and checksummed
    h.settle(2) {
      pipeline(spark).run(spark, freshOut())
      h.deleteTree(outRoot)
    }
    val walls = mutable.ArrayBuffer.empty[Double]
    var lastOut: String = null
    var last: Route.RunResult = null
    h.loop(if (h.traced) h.seconds * 0.4 else h.seconds, minSteps = 3) { i =>
      if (lastOut != null) h.deleteTree(new File(lastOut))
      lastOut = freshOut()
      h.attempt(s"route_bulk run $opDir") {
        val (r, t) = Stats.time(pipeline(spark).run(spark, lastOut))
        last = r
        walls += t
        countsProblem(r).orElse(if (i == 0) readBackProblem(spark, r) else None)
      }
    }
    h.attempt("route_bulk last run read-back")(readBackProblem(spark, last))
    val outBytes = h.bytesUnder(new File(lastOut))
    h.deleteTree(outRoot)

    val p50 = Stats.median(walls.toSeq)
    val e2e = Harness.metrics(
      ("op_p50_s", p50, "s"),
      ("rows_per_s", rows * walls.size / walls.sum, "rows/s"),
      ("out_bytes_per_row", outBytes.toDouble / rows, "bytes/row"),
      ("setup_s", setupS, "s"))
    val named = Harness.metrics(
      ("rows_per_s", rows * walls.size / walls.sum, "rows/s"),
      ("out_bytes_per_row", outBytes.toDouble / rows, "bytes/row"),
      ("setup_s", setupS, "s"),
      ("run_samples", walls.size.toDouble, "count"),
      ("input_rows", rows.toDouble, "rows"))
    h.opWalls = walls.toSeq

    if (!h.traced) return Outcome(e2e, named, Harness.metrics(), Harness.metrics(), Nil)

    // the traced part: noop-sink materializations of successive pipeline
    // prefixes give each layer's self time by difference; Route's own share
    // is `LogPipeline.run` minus the flagged-trunk materialization. The
    // first iteration only compiles the prefix plans and is not recorded.
    val tr = h.tracer
    tr.attach()
    final case class Iter(tok: Double, scan: Double, parse: Double, enrich: Double,
                          cond: Double, routeSelf: Double, run: Span)
    val iters = mutable.ArrayBuffer.empty[Iter]
    val ops = mutable.ArrayBuffer.empty[(String, Int, Long)]
    var record = false
    def timed[T](kind: String)(f: => T): (T, Span) = {
      val (r, s) = tr.span(f)
      if (record) ops += ((kind, s.jobs, s.tasks))
      (r, s)
    }
    h.loop(h.seconds * 0.6, minSteps = 3) { i =>
      record = i > 0
      val docsAmp = amplified(spark)
      val sDocs = timed("noop.documents")(noop(docsAmp))._2
      val sTok = timed("noop.tokenized")(noop(Tok.rawSequences(docsAmp)))._2
      val pipe = pipeline(spark)
      val sScan = timed("noop.source")(noop(pipe.input))._2
      val parsed = LogPipeline(pipe.input, pipe.stages.take(1))
      val sParse = timed("noop.parsed")(noop(parsed.trunk))._2
      val sEnrich = timed("noop.enriched")(noop(pipe.trunk))._2
      val sFlags = timed("noop.flagged")(noop(pipe.flagged))._2
      val out = freshOut()
      var run: Span = null
      h.attempt("route_bulk traced run") {
        val (res, s) = timed("LogPipeline.run")(pipe.run(spark, out))
        run = s
        countsProblem(res)
      }
      h.deleteTree(new File(out))
      if (record && run != null) {
        def d(a: Span, b: Span) = a.wallS - b.wallS
        iters += Iter(d(sTok, sDocs), sScan.wallS, d(sParse, sScan), d(sEnrich, sParse),
          d(sFlags, sEnrich), d(run, sFlags), run)
      }
    }
    tr.detach()
    def med(f: Iter => Double) = Stats.median(iters.map(f).toSeq)
    val overhead = med(_.run.wallS) / p50 - 1
    // each iteration's differences telescope to its traced wall; the
    // medians of the self times need not, so their sum against the median
    // traced wall shows how consistent the split is
    val selfSum = Seq[Iter => Double](_.tok, _.scan, _.parse, _.enrich, _.cond, _.routeSelf)
      .map(med).sum
    val coverage = selfSum / (med(_.tok) + med(_.run.wallS))
    val namedLayers = Harness.metrics(
      ("tok.tokenize_s", med(_.tok), "s"),
      ("source.scan_s", med(_.scan), "s"),
      ("parse.self_s", med(_.parse), "s"),
      ("enrich.self_s", med(_.enrich), "s"),
      ("cond.flags_self_s", med(_.cond), "s"),
      ("route.self_s", med(_.routeSelf), "s"),
      ("route.run_s", med(_.run.wallS), "s"),
      ("route.jobs", med(_.run.jobs.toDouble), "count"),
      ("route.tasks", med(_.run.tasks.toDouble), "count"),
      ("route.job_busy_s", med(_.run.busyS), "s"),
      ("route.driver_gap_s", med(_.run.gapS), "s"),
      ("route.bytes_written", med(_.run.bytesWritten.toDouble), "bytes"),
      ("route.spill_bytes", med(_.run.spillBytes.toDouble), "bytes"),
      ("route.gc_s", med(_.run.gcS), "s"),
      ("layer_coverage", coverage, "ratio"),
      ("trace_overhead", overhead, "ratio"),
      ("traced_samples", iters.size.toDouble, "count"))
    Outcome(e2e, named, Harness.engineLayers(iters.map(_.run).toSeq, overhead),
      namedLayers, ops.toSeq)
  }
}
