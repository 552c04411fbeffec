package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generation and the driver-side row model the outputs are
  * checked against. The model re-derives token ids, severity, dictionary
  * hits and sink membership in plain Scala; it shares only the vocabulary
  * and the dictionary constants with the library.
  */
object Gen {
  val Vocab: IndexedSeq[String] = graft.model.Tok.Vocab
  val Delim = "the"
  private val plainWords = Vocab.filterNot(_ == Delim)
  val Sources: IndexedSeq[String] = (0 until 20).map(k => s"src$k")
  private val langs = IndexedSeq("en", "en", "de", "fr", "es", "zh")

  final case class Doc(id: Long, words: IndexedSeq[String], source: String, lang: String) {
    def text: String = words.mkString(" ")
    def tokens: IndexedSeq[Int] = words.map(w => Vocab.indexOf(w) + 1)
  }

  /** Source weights as in FIXTURES F1: `src0` carries 60% of the rows, the
    * other 19 share the rest by a Zipf law whose exponent (0.9 to 1.1) and
    * rank order come from the seed.
    */
  def sourceWeights(rng: SplittableRandom): IndexedSeq[Double] = {
    val s = 0.9 + 0.2 * rng.nextDouble()
    val ranks = shuffle(rng, (1 to 19).toIndexedSeq)
    val raw = ranks.map(r => 1.0 / math.pow(r.toDouble, s))
    0.6 +: raw.map(_ / raw.sum * 0.4)
  }

  def shuffle[T](rng: SplittableRandom, xs: IndexedSeq[T]): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    for (i <- a.indices.reverse if i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }

  def pick(rng: SplittableRandom, weights: IndexedSeq[Double]): Int = {
    var u = rng.nextDouble() * weights.sum
    var i = 0
    while (i < weights.size - 1 && u >= weights(i)) { u -= weights(i); i += 1 }
    i
  }

  /** 8 to 128 words with the planted F1 structure: the first word decides
    * the severity, and 95% of documents carry the delimiter word at
    * position 4 (the rest exercise the dissect-failure path). About 1% of
    * words are outside the vocabulary (token id 0).
    */
  def words(rng: SplittableRandom): IndexedSeq[String] = {
    val n = 8 + rng.nextInt(121)
    val ws = IndexedSeq.fill(n)(
      if (rng.nextInt(100) == 0) "zzz" else plainWords(rng.nextInt(plainWords.size)))
    if (rng.nextInt(20) != 0) ws.updated(4, Delim) else ws
  }

  def docs(rng: SplittableRandom, n: Int, firstId: Long = 0L): IndexedSeq[Doc] = {
    val w = sourceWeights(rng)
    (0 until n).map(i => Doc(firstId + i, words(rng), Sources(pick(rng, w)),
      langs(rng.nextInt(langs.size))))
  }

  val DocumentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** The documents table shape of the repository's test data. */
  def documentsFrame(spark: SparkSession, ds: Seq[Doc]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(ds.map(d =>
      Row(d.id, d.text, d.lang, d.source, d.text.length.toLong)): _*), DocumentsSchema)

  // ---- order-independent checksums ----

  val P = 1000000007L

  /** Row hash of a token array seeded by a row number, kept below `P` at
    * every step so neither side can overflow.
    */
  def rowHash(seed: Long, tokens: Seq[Int]): Long =
    tokens.foldLeft(seed % P)((acc, t) => (acc * 31 + t) % P)

  def rowHashCol(seed: Column, tokens: Column): Column =
    aggregate(tokens, seed % P, (acc, t) => (acc * 31 + t) % P)

  /** `doc_0000000042` -> 42 */
  def docNumCol(docId: Column): Column = substring(docId, 5, 32).cast("long")
  def docIdStr(n: Long): String = f"doc_$n%010d"

  // ---- the StandardPipeline model ----

  private val dict: Map[String, (String, String)] =
    graft.StandardPipeline.dict.map { case (s, team, tier) => s -> (team, tier) }.toMap

  /** Sinks one document's rows land in, by the StandardPipeline rules:
    * severity from the first token mod 3, `tier`/`team` from the
    * dictionary (a miss is null and matches nothing), `_default` when no
    * sink matches.
    */
  def standardSinks(d: Doc): Seq[String] = {
    val toks = d.tokens
    val severity = toks.head % 3 match { case 0 => "INFO"; case 1 => "WARN"; case _ => "ERROR" }
    val hit = dict.get(d.source)
    val matched = Seq(
      "sink_errors" -> (severity == "ERROR" && hit.exists(_._2 == "prod")),
      "sink_warn_big" -> (severity == "WARN" && toks.size > 64),
      "sink_teamA" -> hit.exists(h => h._1 == "team-0" || h._1 == "team-1"))
      .collect { case (s, true) => s }
    if (matched.isEmpty) Seq("_default") else matched
  }
}
