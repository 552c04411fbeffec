package perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.immutable.TreeMap
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.Tok
import graft.operators.SnapshotTable

/** `snapshot_mixed`: one growing snapshot table of pre-tokenized sequences
  * and one client running a seeded mix of operations against it:
  *  - 50% `append` of 500-row micro-batches with a batch id, a fifth of
  *    them replays of an already-committed id (which must commit nothing);
  *  - 40% reads: a `readWhere` range on `doc_id`, a `readWhereEq` point
  *    read and an `asOf` read of an older snapshot;
  *  - 10% `merge` upserts (merge-on-read), each followed by a
  *    `changelogCdc` over the last two snapshots.
  * Every block of 10 operations has exactly that composition; the seed
  * sets the order inside each block and every operation's arguments. Every
  * result is checked against a driver-side model of each snapshot.
  */
object SnapshotMixed {
  val InitialRows = 20000
  val BatchRows = 500
  val MergeUpdates = 100
  val MergeInserts = 50
  val RangeWidth = 300
  val CdcSpan = 2
  val Block: IndexedSeq[String] = IndexedSeq.fill(4)("append") ++ IndexedSeq("replay") ++
    IndexedSeq.fill(2)("read_range") ++ IndexedSeq("read_point", "read_asof", "merge")
  /** Nominal block length: a run of S seconds measures round(S / 7.5)
    * blocks (at least one), a count fixed by S alone so that the operation
    * sequence, and hence every job count, depends only on the seed.
    */
  val BlockSeconds = 7.5
  /** Operation classes and their fixed shares of a block. */
  val Classes: Seq[(String, Double)] = Seq("append" -> 0.5, "read" -> 0.4, "merge" -> 0.1)
  def classOf(kind: String): String =
    if (kind == "replay") "append" else if (kind.startsWith("read")) "read" else kind

  val Schema: StructType = StructType(Seq(
    StructField("doc_id", StringType), StructField("tokens", ArrayType(IntegerType)),
    StructField("n_tok", IntegerType), StructField("source", StringType)))

  private val P = Gen.P
  private def rowHash(docId: Long, tokens: Seq[Int]) = Gen.rowHash(docId, tokens)
  private val rowHashCol = Gen.rowHashCol(Gen.docNumCol(col("doc_id")), col("tokens"))

  /** (count, checksum) of a frame of table rows. */
  private def digest(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(rowHashCol), lit(0L))).collect().head
    (r.getLong(0), r.getLong(1))
  }

  private def digestOf(rows: Iterable[(Long, Long)]): (Long, Long) =
    (rows.size.toLong, rows.iterator.map(_._2).sum)

  /** Net row changes of one commit, as (doc, row hash) pairs. */
  final case class Delta(inserted: Seq[(Long, Long)], deleted: Seq[(Long, Long)])

  def run(h: Harness): Outcome = {
    val table = h.dir("data/table").getPath
    val rng = new SplittableRandom(h.seed)
    val initial = Gen.docs(rng, InitialRows)
    val weights = Gen.sourceWeights(rng)
    val opRng = new SplittableRandom(h.seed * 31 + 7)

    // the model: the state of every snapshot, its digest and its delta
    val states = mutable.ArrayBuffer.empty[TreeMap[Long, Long]]
    val digests = mutable.ArrayBuffer.empty[(Long, Long)]
    val deltas = mutable.ArrayBuffer.empty[Delta]
    val batches = mutable.LinkedHashMap.empty[String, Seq[Row]]
    var nextId = 0L
    var physicalRows = 0L
    var appendedRows = 0L

    def commitModel(d: Delta): Unit = {
      val base = states.lastOption.getOrElse(TreeMap.empty[Long, Long])
      val next = base -- d.deleted.map(_._1) ++ d.inserted
      states += next
      digests += digestOf(next)
      deltas += d
    }

    def newRow(id: Long, r: SplittableRandom): Row = {
      val ws = Gen.words(r)
      val toks = Gen.Doc(id, ws, "", "").tokens
      Row(Gen.docIdStr(id), toks, toks.size, Gen.Sources(Gen.pick(r, weights)))
    }
    def hashOf(row: Row): (Long, Long) = {
      val id = row.getString(0).drop(4).toLong
      id -> rowHash(id, row.getSeq[Int](1))
    }
    def frame(spark: SparkSession, rows: Seq[Row]): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), Schema)

    def append(spark: SparkSession, batchId: String, rows: Seq[Row]) =
      SnapshotTable.append(spark, frame(spark, rows), table, Some(batchId),
        statsBy = Seq("doc_id"), bloomBy = Seq("doc_id"))

    var batchNo = 0
    def newBatch(): (String, Seq[Row]) = {
      val rows = (0 until BatchRows).map(i => newRow(nextId + i, opRng))
      nextId += BatchRows
      batchNo += 1
      (s"b-$batchNo", rows)
    }

    // ---- set-up: the initial table (tokenized by the library) plus one
    // micro-batch, so a replay always has a committed id to repeat ----
    nextId = InitialRows
    val firstBatch = newBatch()
    val setupS = h.setupRounds(3) {
      val spark = h.spark
      val seqs = Tok.rawSequences(Gen.documentsFrame(spark, initial))
        .withColumn("doc_id", format_string("doc_%010d", col("doc_id").cast("long")))
      SnapshotTable.append(spark, seqs, table, Some("init"),
        statsBy = Seq("doc_id"), bloomBy = Seq("doc_id"))
      append(spark, firstBatch._1, firstBatch._2)
      // warm-up: one read of each kind
      digest(SnapshotTable.readWhere(spark, table,
        SnapshotTable.KeyRange("doc_id", Some(Gen.docIdStr(0)), Some(Gen.docIdStr(RangeWidth)))))
      digest(SnapshotTable.readWhereEq(spark, table, "doc_id", Gen.docIdStr(1)))
      digest(SnapshotTable.asOf(spark, table, 0))
    }
    val spark = h.spark
    commitModel(Delta(initial.map(d => d.id -> rowHash(d.id, d.tokens)), Nil))
    physicalRows += InitialRows
    commitModel(Delta(firstBatch._2.map(hashOf), Nil))
    batches(firstBatch._1) = firstBatch._2
    physicalRows += BatchRows
    h.expect("initial table", digest(SnapshotTable.read(spark, table)) == digests.last,
      "the initial table does not match the model")

    def latest: Long = states.size - 1L
    // ids are dense below nextId and no operation removes a row
    def randomDoc(): Long = opRng.nextLong(nextId)

    /** Executes one operation; returns the wall of its timed part, or None
      * if it failed. `timed` wraps each library call.
      */
    def op(kind: String, timed: (String, () => Any) => Double): Option[Double] = {
      var wall: Option[Double] = None
      h.attempt(s"$kind at snapshot $latest") {
        kind match {
          case "append" =>
            val (id, rows) = newBatch()
            var c: SnapshotTable.Commit = null
            wall = Some(timed("append", () => { c = append(spark, id, rows) }))
            if (c.skippedExisting || c.snapshotId != latest + 1)
              Some(s"commit $c, expected snapshot ${latest + 1}")
            else {
              batches(id) = rows
              commitModel(Delta(rows.map(hashOf), Nil))
              physicalRows += rows.size
              appendedRows += rows.size
              None
            }
          case "replay" =>
            val ids = batches.keys.toIndexedSeq
            val id = ids(opRng.nextInt(ids.size))
            var c: SnapshotTable.Commit = null
            wall = Some(timed("replay", () => { c = append(spark, id, batches(id)) }))
            val now = SnapshotTable.latestId(spark, table)
            if (!c.skippedExisting || !now.contains(latest))
              Some(s"replay of $id committed: $c, latest $now")
            else None
          case "read_range" =>
            val lo = randomDoc()
            val hi = lo + RangeWidth - 1
            var got = (0L, 0L)
            wall = Some(timed("read_range", () => {
              got = digest(SnapshotTable.readWhere(spark, table,
                SnapshotTable.KeyRange("doc_id", Some(Gen.docIdStr(lo)), Some(Gen.docIdStr(hi)))))
            }))
            val want = digestOf(states.last.range(lo, hi + 1))
            if (got == want) None else Some(s"range [$lo, $hi] read $got, model $want")
          case "read_point" =>
            val id = randomDoc()
            var got = (0L, 0L)
            wall = Some(timed("read_point", () => {
              got = digest(SnapshotTable.readWhereEq(spark, table, "doc_id", Gen.docIdStr(id)))
            }))
            val want = digestOf(states.last.get(id).map(id -> _))
            if (got == want) None else Some(s"point $id read $got, model $want")
          case "read_asof" =>
            val lo = math.max(0L, latest - 8)
            val s = lo + opRng.nextLong(latest - lo)
            var got = (0L, 0L)
            wall = Some(timed("read_asof", () => { got = digest(SnapshotTable.asOf(spark, table, s)) }))
            if (got == digests(s.toInt)) None else Some(s"asOf $s read $got, model ${digests(s.toInt)}")
          case "merge" =>
            val before = states.last
            val upd = Iterator.continually(randomDoc()).distinct.take(MergeUpdates).toIndexedSeq
            val updRows = upd.map { id =>
              Iterator.continually(newRow(id, opRng)).find(r => hashOf(r)._2 != before(id)).get
            }
            val insRows = (0 until MergeInserts).map(i => newRow(nextId + i, opRng))
            nextId += MergeInserts
            val rows = updRows ++ insRows
            val mergeId = s"m-$latest"
            var st: SnapshotTable.MergeStats = null
            val tMerge = timed("merge", () => {
              st = SnapshotTable.merge(spark, table, frame(spark, rows), "doc_id",
                update = Some(Map.empty), batchId = Some(mergeId))
            })
            val problem =
              if (st.commit.skippedExisting || st.commit.snapshotId != latest + 1 ||
                  st.updated != MergeUpdates || st.inserted != MergeInserts || st.deleted != 0)
                Some(s"merge $st, expected snapshot ${latest + 1}")
              else {
                commitModel(Delta(rows.map(hashOf), upd.map(id => id -> before(id))))
                physicalRows += rows.size
                None
              }
            problem.orElse {
              val from = math.max(0L, latest - CdcSpan)
              var got = Seq.empty[Long]
              val tCdc = timed("cdc", () => {
                val ct = col("_change_type")
                val v = (rowHashCol * 7 + col("_snapshot_id")) % P
                val r = SnapshotTable.changelogCdc(spark, table, from, latest)
                  .agg(sum(when(ct === "insert", 1L).otherwise(0L)),
                    sum(when(ct === "delete", 1L).otherwise(0L)),
                    coalesce(sum(when(ct === "insert", v).otherwise(0L)), lit(0L)),
                    coalesce(sum(when(ct === "delete", v).otherwise(0L)), lit(0L)))
                  .collect().head
                got = (0 until 4).map(i => if (r.isNullAt(i)) 0L else r.getLong(i))
              })
              wall = Some(tMerge + tCdc)
              val spans = ((from + 1) to latest).map(s => s -> deltas(s.toInt))
              def side(f: Delta => Seq[(Long, Long)]) =
                spans.flatMap { case (s, d) => f(d).map(x => (x._2 * 7 + s) % P) }
              val want = Seq(side(_.inserted).size.toLong, side(_.deleted).size.toLong,
                side(_.inserted).sum, side(_.deleted).sum)
              if (got == want) None else Some(s"changelogCdc ($from, $latest] $got, model $want")
            }
        }
      }
      wall
    }

    val kinds: Iterator[String] =
      Iterator.continually(Gen.shuffle(opRng, Block)).flatten
    val walls = mutable.ArrayBuffer.empty[(String, Double)]
    val blocks = math.max(1, math.round(h.seconds / BlockSeconds).toInt)
    h.loop(0, minSteps = (if (h.traced) 1 else blocks) * Block.size) { _ =>
      val k = kinds.next()
      op(k, (_, f) => Stats.time(f())._2).foreach(w => walls += classOf(k) -> w)
    }
    def byClass(ws: Seq[(String, Double)], c: String) = ws.collect { case (k, w) if k == c => w }
    def composite(ws: Seq[(String, Double)], q: Double) =
      Classes.map { case (c, share) => share * Stats.quantile(byClass(ws, c), q) }.sum
    val appendWalls = byClass(walls.toSeq, "append")
    h.opWalls = walls.map(_._2).toSeq
    val dataBytes = h.bytesUnder(new File(table, "data"))
    val e2e = Harness.metrics(
      ("op_p50_s", composite(walls.toSeq, 0.5), "s"),
      ("rows_per_s", appendedRows / appendWalls.sum, "rows/s"),
      ("out_bytes_per_row", dataBytes.toDouble / physicalRows, "bytes/row"),
      ("setup_s", setupS, "s"))
    val named = Harness.metrics(
      ("append_p50_s", Stats.median(appendWalls), "s"),
      ("append_p90_s", Stats.quantile(appendWalls, 0.9), "s"),
      ("read_p50_s", Stats.median(byClass(walls.toSeq, "read")), "s"),
      ("read_p90_s", Stats.quantile(byClass(walls.toSeq, "read"), 0.9), "s"),
      ("merge_p50_s", Stats.median(byClass(walls.toSeq, "merge")), "s"),
      ("setup_s", setupS, "s"),
      ("append_samples", appendWalls.size.toDouble, "count"),
      ("read_samples", byClass(walls.toSeq, "read").size.toDouble, "count"),
      ("merge_samples", byClass(walls.toSeq, "merge").size.toDouble, "count"),
      ("snapshots", states.size.toDouble, "count"))
    if (!h.traced) return Outcome(e2e, named, Harness.metrics(), Harness.metrics(), Nil)

    val tr = h.tracer
    tr.attach()
    val spans = mutable.ArrayBuffer.empty[(String, Span)]
    val tracedWalls = mutable.ArrayBuffer.empty[(String, Double)]
    h.loop(0, minSteps = Block.size) { _ =>
      val k = kinds.next()
      op(k, { (label, f) =>
        val (_, s) = tr.span(f())
        spans += label -> s
        s.wallS
      }).foreach(w => tracedWalls += classOf(k) -> w)
    }
    tr.detach()
    val overhead = composite(tracedWalls.toSeq, 0.5) / composite(walls.toSeq, 0.5) - 1
    val manifests = new File(table, "_manifests")
    def layer(label: String, name: String) = {
      val ss = spans.collect { case (l, s) if l == label || label == "read" && l.startsWith("read") => s }
      def med(f: Span => Double) = if (ss.isEmpty) 0.0 else Stats.median(ss.map(f).toSeq)
      Seq((s"snapshot.$name.jobs", med(_.jobs.toDouble), "count"),
        (s"snapshot.$name.driver_gap_s", med(_.gapS), "s"),
        (s"snapshot.$name.job_busy_s", med(_.busyS), "s"))
    }
    val namedLayers = Harness.metrics(
      (layer("append", "append") ++ layer("replay", "replay") ++ layer("read", "read") ++
        layer("merge", "merge") ++ layer("cdc", "cdc")) ++
        Seq(("snapshot.metadata_bytes_per_commit", h.bytesUnder(manifests).toDouble / states.size, "bytes"),
          ("trace_overhead", overhead, "ratio"),
          ("traced_samples", spans.size.toDouble, "count")): _*)
    val allSpans = spans.map(_._2).toSeq
    Outcome(e2e, named, Harness.engineLayers(allSpans, overhead), namedLayers,
      spans.map { case (l, s) => (l, s.jobs, s.tasks) }.toSeq)
  }
}
