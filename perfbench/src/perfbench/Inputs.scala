package perfbench

import java.util.SplittableRandom

import graft.data.{PageRow, PagesGen}
import graft.functions.{TextExtractor, Tokenize}
import graft.query.ScalarOracle

/** One benchmark query. `cls` names its query class; `and` selects the
  * conjunctive mode and `offset` the result page. */
final case class Q(id: Long, cls: String, text: String,
                   and: Boolean = false, offset: Int = 0)

/** A generated document as the engine should index it: the expected
  * docId (the documented rule: rank of the url, above the previous
  * generation's maximum), the url and the extracted text. */
final case class LiveDoc(docId: Long, url: String, text: String) {
  lazy val tokens: Array[String] = Tokenize.tokens(text)
}

/** The driver-side copy of a generated corpus: what the oracle scores. */
final class Corpus(val docs: IndexedSeq[LiveDoc]) {
  lazy val oracle: ScalarOracle.Corpus =
    ScalarOracle.corpus(docs.map(d => d.docId -> d.text))
  lazy val df: Map[String, Int] = oracle.tf.map { case (t, m) => t -> m.size }
  lazy val byId: Map[Long, LiveDoc] = docs.map(d => d.docId -> d).toMap
  def textBytes: Long = docs.map(_.text.getBytes("UTF-8").length.toLong).sum

  /** Expected top-k of `q`: ScalarOracle for ranked queries; for a
    * phrase, the ascending docIds whose token stream holds the phrase. */
  def expected(q: Q, k: Int): Seq[(Long, Double)] =
    memo.getOrElseUpdate((q, k), compute(q, k))

  private val memo =
    scala.collection.concurrent.TrieMap.empty[(Q, Int), Seq[(Long, Double)]]

  private def compute(q: Q, k: Int): Seq[(Long, Double)] =
    if (q.cls == Inputs.Phrase) {
      val p = Tokenize.tokens(q.text)
      docs.filter(d => d.tokens.indexOfSlice(p.toSeq) >= 0)
        .map(_.docId).sorted.take(k).map(_ -> 0.0)
    } else ScalarOracle.topK(oracle, q.text, k + q.offset, q.and).drop(q.offset)

  /** Expected top-k over generations where the docIds in `dead` are
    * tombstoned: dead versions still count in the statistics (the
    * engine's multi-generation rule) but never appear in results. */
  def expectedMasked(q: Q, k: Int, dead: Set[Long]): Seq[(Long, Double)] =
    if (q.cls == Inputs.Phrase)
      expected(q, k + dead.size).filterNot(x => dead(x._1)).take(k)
    else ScalarOracle.topK(oracle, q.text, k + q.offset + dead.size, q.and)
      .filterNot(x => dead(x._1)).drop(q.offset).take(k)
}

/** Seeded input generators. The engine only ever receives what these
  * produce; the same seed gives the same inputs. */
object Inputs {
  val K = 10
  val Phrase = "phrase"
  /** Query classes, in stream order. Stopword-heavy versus rare queries
    * set how much block-max pruning can skip. */
  val Classes: IndexedSeq[String] = IndexedSeq("stop1", "rare1", "or_multi",
    "stop_heavy", "and", "page2", Phrase, "nohit")
  private val Stopwords = 10

  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(graft.Det.h(seed, stream, 0x5eedL))

  def text(row: PageRow): String = TextExtractor.extract(row.html)

  /** Expected docIds for one generation: url rank above `offset`. */
  def assign(rows: Seq[PageRow], offset: Long): IndexedSeq[LiveDoc] =
    rows.sortBy(_.url).zipWithIndex.map { case (r, i) =>
      LiveDoc(offset + i, r.url, text(r))
    }.toIndexedSeq

  private def zipfWord(r: SplittableRandom): String =
    PagesGen.word(PagesGen.sampleRank(r.nextDouble()))

  /** A query stream cycling through [[Classes]] by query id, terms drawn
    * from the corpus itself so every class has its intended shape. */
  def queries(seed: Long, c: Corpus, n: Int, idBase: Long = 0L): IndexedSeq[Q] = {
    val r = rng(seed, 11L + idBase)
    val rare = c.df.iterator.filter(_._2 <= 3).map(_._1).toIndexedSeq.sorted
    def doc() = c.docs(r.nextInt(c.docs.size))
    (0 until n).map { i =>
      val id = idBase + i
      Classes((id % Classes.size).toInt) match {
        case "stop1" => Q(id, "stop1", PagesGen.word(r.nextInt(Stopwords)))
        case "rare1" => Q(id, "rare1", rare(r.nextInt(rare.size)))
        case "or_multi" =>
          Q(id, "or_multi", Seq.fill(2 + r.nextInt(3))(zipfWord(r)).mkString(" "))
        case "stop_heavy" =>
          val stops = r.ints(0, Stopwords).distinct().limit(3).toArray
            .map(PagesGen.word)
          Q(id, "stop_heavy", (stops :+ zipfWord(r)).mkString(" "))
        case "and" =>
          // two distinct terms of one document: at least one hit
          val t = doc().tokens.distinct
          val a = r.nextInt(t.length)
          val b = (a + 1 + r.nextInt(t.length - 1)) % t.length
          Q(id, "and", s"${t(a)} ${t(b)}", and = true)
        case "page2" =>
          Q(id, "page2", Seq.fill(2)(zipfWord(r)).mkString(" "), offset = K)
        case Phrase =>
          val t = doc().tokens
          val p = r.nextInt(t.length - 2)
          Q(id, Phrase, t.slice(p, p + 2 + r.nextInt(2)).mkString(" "))
        case _ => Q(id, "nohit", s"zq${math.abs(seed)}x$id")
      }
    }
  }

  /** Re-crawled version of a page: three tokens replaced, a later
    * crawl time, the html rewritten around the new text. */
  def edit(row: PageRow, r: SplittableRandom, crawlTs: Long): PageRow = {
    val t = row.text.split(' ')
    (0 until 3).foreach { _ =>
      val p = r.nextInt(t.length)
      var w = zipfWord(r)
      while (w == t(p)) w = zipfWord(r)
      t(p) = w
    }
    val newText = t.mkString(" ")
    val html = new String(row.html, "UTF-8").replace(
      s"<p>${TextExtractor.escape(row.text)}</p>",
      s"<p>${TextExtractor.escape(newText)}</p>")
    require(html.contains(newText), s"edit did not reach the html of ${row.url}")
    row.copy(warc_ts = new java.sql.Timestamp(crawlTs), text = newText,
      html = html.getBytes("UTF-8"))
  }

  /** Near-duplicate of a text: its last token replaced. */
  def nearDup(text: String, r: SplittableRandom): String = {
    val t = text.split(' ')
    var w = zipfWord(r)
    while (w == t.last) w = zipfWord(r)
    t(t.length - 1) = w
    t.mkString(" ")
  }

  /** `n` vectors of `dims` floats around `clusters` seeded centres. */
  def vectors(seed: Long, n: Int, dims: Int, clusters: Int): IndexedSeq[Array[Float]] = {
    val r = rng(seed, 31L)
    val centres = Array.fill(clusters, dims)(r.nextDouble() * 2 - 1)
    (0 until n).map { _ =>
      val c = centres(r.nextInt(clusters))
      Array.tabulate(dims)(j => (c(j) + 0.35 * (r.nextDouble() * 2 - 1)).toFloat)
    }
  }
}
