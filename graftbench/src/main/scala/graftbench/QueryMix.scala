package graftbench

import graft.core.{Analyzer, CorpusGen}

/** One query of the mix: the string the engine receives, and whether it
  * runs with the reference phrase boost. */
final case class Query(text: String, phrase: Boolean)

/** Seeded query-mix generator over the corpus vocabulary.
  *
  * A fixed share of queries are the 12 reference queries; the rest draw 1-4
  * terms, each from one of three term classes — the 17 planted query terms,
  * the `idN` identifiers and the code stop-words — and within a class by a
  * Zipfian rank (p(r) ~ 1/(r+1)), so hot terms repeat the way frequent
  * terms do in a real query stream. A fixed share of multi-term queries run
  * with `phraseBoost = 2.0`, which makes the engine decode positions.
  *
  * Where the shares come from is noted at each constant in the companion:
  * some are derived from the reference queries or from `CorpusGen`, the
  * others are arbitrary choices, fixed so that runs stay comparable. */
final class QueryMix(seed: Long) {
  import QueryMix._

  private val rnd = new java.util.SplittableRandom(seed)

  def next(): Query = {
    if (rnd.nextDouble() < ReferenceShare) {
      val q = graft.Bench.ReferenceQueries(rnd.nextInt(graft.Bench.ReferenceQueries.size))
      Query(q, rnd.nextDouble() < PhraseShare)
    } else {
      val u = rnd.nextDouble()
      val nTerms = TermsPerQuery.indexWhere(_ > u) + 1
      val terms = Seq.fill(nTerms) {
        val c = rnd.nextDouble()
        if (c < PlantedShare) pick(CorpusGen.QueryTerms.toIndexedSeq, plantedCdf)
        else if (c < PlantedShare + IdShare) s"id${sampleZipf(idCdf)}"
        else pick(CorpusGen.StopWords.toIndexedSeq, stopCdf)
      }
      Query(terms.mkString(" "), nTerms >= 2 && rnd.nextDouble() < PhraseShare)
    }
  }

  def take(n: Int): IndexedSeq[Query] = IndexedSeq.fill(n)(next())

  private def pick(xs: IndexedSeq[String], cdf: Array[Double]): String = xs(sampleZipf(cdf))
  private def sampleZipf(cdf: Array[Double]): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    math.min(cdf.length - 1, if (i >= 0) i else -i - 1)
  }
}

object QueryMix {
  /** Share of reference queries. Arbitrary: no source fixes it. */
  val ReferenceShare = 0.2
  /** Share of multi-term queries run as phrases. Arbitrary: no source
    * fixes it. */
  val PhraseShare = 0.15
  /** The reference protocol's phrase boost (graft.Bench). */
  val PhraseBoost = 2.0
  /** Share of drawn terms that are planted query terms. Arbitrary: half the
    * terms hit the terms whose tf the corpus controls. */
  val PlantedShare = 0.5
  /** Share of drawn terms that are identifiers. The non-planted half is
    * split 70:30 between identifiers and stop-words, as `CorpusGen` splits
    * its filler tokens. */
  val IdShare = 0.35
  /** Cumulative share of queries with 1, 2, 3 and 4 terms: the 12 reference
    * queries' histogram (0, 2, 9 and 1 queries), add-one smoothed so every
    * length occurs: 1/16, 3/16, 10/16 and 2/16. */
  val TermsPerQuery: Array[Double] = Array(1.0 / 16, 4.0 / 16, 14.0 / 16, 1.0)
  /** CorpusGen's identifier vocabulary: `id0` .. `id4999`. The Zipf
    * exponent of 1 is the one `CorpusGen` draws its identifier tokens with;
    * the planted terms and stop-words reuse it, which is arbitrary for
    * them. */
  val IdVocabulary = 5000

  private def zipfCdf(n: Int): Array[Double] = {
    val w = Array.tabulate(n)(r => 1.0 / (r + 1))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }
  private val plantedCdf = zipfCdf(CorpusGen.QueryTerms.length)
  private val idCdf = zipfCdf(IdVocabulary)
  private val stopCdf = zipfCdf(CorpusGen.StopWords.length)

  /** Every term the generator can emit, as the engine analyzes it. */
  val universe: Seq[String] =
    (CorpusGen.QueryTerms.toSeq ++ (0 until IdVocabulary).map(i => s"id$i") ++
      CorpusGen.StopWords ++ graft.Bench.ReferenceQueries.flatMap(Analyzer.queryTerms))
      .filter(_.length >= Analyzer.MinQueryTermLen).distinct

  private val stopSet = CorpusGen.StopWords.toSet

  /** Printable properties of a drawn sample: terms per query as the
    * engine sees them, and the shares of stop-word, phrase and reference
    * queries. */
  def describe(qs: Seq[Query]): Seq[String] = {
    val n = qs.size.toDouble
    val hist = qs.groupBy(q => Analyzer.distinctQueryTerms(q.text).length)
      .toSeq.sortBy(_._1).map { case (k, v) => f"$k:${v.size / n}%.3f" }
    val stop = qs.count(q => Analyzer.tokenize(q.text).exists(stopSet)) / n
    val ref = qs.count(q => graft.Bench.ReferenceQueries.contains(q.text)) / n
    Seq(s"queries=${qs.size} distinct=${qs.map(_.text).distinct.size}",
      s"terms_per_query ${hist.mkString(" ")}",
      f"stopword_share=$stop%.3f phrase_share=${qs.count(_.phrase) / n}%.3f reference_share=$ref%.3f")
  }
}
