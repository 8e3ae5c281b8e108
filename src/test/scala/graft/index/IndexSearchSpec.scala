package graft.index

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.data.{PagesGen, QuerySet}
import graft.query.{ScalarOracle, Searcher}

/** End-to-end rank-identity: build the index over deterministic
  * synthetic webtext, run the committed query set, and assert top-k
  * docIDs and BM25 scores match the scalar oracle EXACTLY (bit-equal
  * doubles) — the north rule's correctness gate.
  */
class IndexSearchSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  val NumDocs = 2000L
  // saltTarget low enough that stopword terms get salted sub-runs
  val cfg = IndexBuilder.Config(numBuckets = 8, blockSize = 32,
    numGroups = 3, saltTarget = 300L, shufflePartitions = 8)

  lazy val indexDir: String = {
    val dir = SparkTestSession.tmpDir("graft_idx")
    val docs = DocIds.fromPages(
      PagesGen.pages(spark, NumDocs, partitions = 6), 6,
      useExtractor = true)
    IndexBuilder.build(docs, dir, cfg, buildId = "t1",
      lineage = s"pages(seed=42,n=$NumDocs)")
    dir
  }

  lazy val oracleCorpus: ScalarOracle.Corpus = {
    val docs = (0L until NumDocs).map(i => PagesGen.row(42L, i))
      .map(p => (p.url, p.text)).sortBy(_._1).zipWithIndex
      .map { case ((_, t), r) => (r.toLong, t) }
    ScalarOracle.corpus(docs)
  }

  test("stats: salting engaged on hot terms") {
    import spark.implicits._
    indexDir // force build
    val salted = spark.read.parquet(s"$indexDir/terms")
      .filter($"saltCount" > 1).count()
    assert(salted > 0, "expected hot terms to be salted")
  }

  test("OR top-k rank-identical with exact scores vs scalar oracle") {
    val queries = QuerySet.queries()
    val hits = Searcher.search(spark, indexDir, queries, k = 10,
      mode = Searcher.Or, numRanges = 4).collect()
      .groupBy(_.queryId)
    queries.foreach { q =>
      val want = ScalarOracle.topK(oracleCorpus, q.text, 10)
      val got = hits.getOrElse(q.queryId, Array.empty)
        .sortBy(_.rank).map(h => (h.docId, h.score)).toSeq
      assert(got == want,
        s"query ${q.queryId} '${q.text}': engine=$got oracle=$want")
    }
  }

  test("AND top-k rank-identical vs scalar oracle") {
    val queries = QuerySet.queries()
    val hits = Searcher.search(spark, indexDir, queries, k = 10,
      mode = Searcher.And, numRanges = 4).collect()
      .groupBy(_.queryId)
    queries.foreach { q =>
      val want = ScalarOracle.topK(oracleCorpus, q.text, 10, and = true)
      val got = hits.getOrElse(q.queryId, Array.empty)
        .sortBy(_.rank).map(h => (h.docId, h.score)).toSeq
      assert(got == want,
        s"AND query ${q.queryId} '${q.text}': engine=$got oracle=$want")
    }
  }

  test("probed theta0 (forced on) stays rank-identical vs oracle") {
    val queries = QuerySet.queries()
    val hits = Searcher.searchMulti(spark, Seq(indexDir), queries,
      k = 10, Searcher.Or, numRanges = 4, probeMinTotalDf = 0L)
      .collect().groupBy(_.queryId)
    queries.foreach { q =>
      val want = ScalarOracle.topK(oracleCorpus, q.text, 10)
      val got = hits.getOrElse(q.queryId, Array.empty)
        .sortBy(_.rank).map(h => (h.docId, h.score)).toSeq
      assert(got == want, s"probed query ${q.queryId} '${q.text}'")
    }
  }

  test("numRanges does not change results (range-scatter exactness)") {
    val queries = QuerySet.queries().take(12)
    val a = Searcher.search(spark, indexDir, queries, 10,
      Searcher.Or, numRanges = 1).collect()
      .map(h => (h.queryId, h.rank, h.docId, h.score)).sortBy(x => (x._1, x._2))
    val b = Searcher.search(spark, indexDir, queries, 10,
      Searcher.Or, numRanges = 7).collect()
      .map(h => (h.queryId, h.rank, h.docId, h.score)).sortBy(x => (x._1, x._2))
    assert(a.toSeq == b.toSeq)
  }

  test("range boundaries exact at blockSize=1, numDocs % numRanges != 0") {
    // Regression: rangeOf = floor(docId·R/M) vs gather window must use
    // the ceil-based inverse; with blockSize 1 every block ends on
    // every docId, so any boundary mismatch loses a doc.
    val dir = SparkTestSession.tmpDir("graft_idx_b1")
    val n = 300L
    val docs = DocIds.fromPages(
      PagesGen.pages(spark, n, partitions = 5), 5, useExtractor = true)
    IndexBuilder.build(docs, dir,
      IndexBuilder.Config(numBuckets = 4, blockSize = 1, numGroups = 1,
        saltTarget = 100L, shufflePartitions = 8), buildId = "b1")
    val corpus = ScalarOracle.corpus(
      (0L until n).map(i => PagesGen.row(42L, i))
        .map(p => (p.url, p.text)).sortBy(_._1).zipWithIndex
        .map { case ((_, t), r) => (r.toLong, t) })
    val queries = QuerySet.queries().take(8)
    for (ranges <- Seq(7, 11)) { // 300 % 7 = 6, 300 % 11 = 3
      val hits = Searcher.search(spark, dir, queries, 10, Searcher.Or,
        numRanges = ranges).collect().groupBy(_.queryId)
      queries.foreach { q =>
        val want = ScalarOracle.topK(corpus, q.text, 10)
        val got = hits.getOrElse(q.queryId, Array.empty)
          .sortBy(_.rank).map(h => (h.docId, h.score)).toSeq
        assert(got == want,
          s"ranges=$ranges query '${q.text}': engine=$got oracle=$want")
      }
    }
  }

  test("engine phrase search == corpus substring scan (positional tier)") {
    val dir = SparkTestSession.tmpDir("graft_idx_pos")
    val n = 400L
    val docs = DocIds.fromPages(
      PagesGen.pages(spark, n, partitions = 5), 5, useExtractor = true)
    IndexBuilder.build(docs, dir,
      IndexBuilder.Config(numBuckets = 8, blockSize = 16, numGroups = 2,
        saltTarget = 200L, shufflePartitions = 8, withPositions = true),
      buildId = "pos")
    val byUrl = (0L until n).map(i => PagesGen.row(42L, i))
      .map(p => (p.url, p.text)).sortBy(_._1).zipWithIndex
      .map { case ((_, t), r) => (r.toLong, t) }
    def naive(phrase: String): Seq[Long] = {
      val needle = " " + graft.functions.Tokenize.tokens(phrase)
        .mkString(" ") + " "
      byUrl.filter { case (_, t) =>
        (" " + graft.functions.Tokenize.tokens(t).mkString(" ") + " ")
          .contains(needle)
      }.map(_._1)
    }
    // pick phrases that occur, plus one that cannot
    val corpus = byUrl.map(_._2)
    val samplePhrases = corpus.take(20).flatMap { t =>
      val ts = graft.functions.Tokenize.tokens(t)
      if (ts.length >= 5) Some(s"${ts(2)} ${ts(3)} ${ts(4)}") else None
    }.distinct.take(6) ++ Seq("the the the zzzznope")
    samplePhrases.foreach { ph =>
      val got = Searcher.phraseSearch(spark, Seq(dir), ph, numRanges = 5)
      val want = naive(ph)
      assert(got == want, s"phrase '$ph': engine=$got scan=$want")
      if (!ph.contains("zzzznope"))
        assert(want.nonEmpty, s"test phrase '$ph' should occur somewhere")
    }
    // bounded paging: pages slice the ascending full list exactly, and
    // the distributed phraseDocs dataset equals the full list too
    samplePhrases.filterNot(_.contains("zzzznope")).take(2).foreach { ph =>
      val want = naive(ph)
      val full = Searcher.phraseDocs(spark, Seq(dir), ph, numRanges = 5)
        .collect().sorted.toSeq
      assert(full == want, s"phraseDocs '$ph'")
      val off = math.min(1, want.size - 1)
      val page = Searcher.phraseSearch(spark, Seq(dir), ph, numRanges = 5,
        limit = 2, offset = off)
      assert(page == want.slice(off, off + 2), s"phrase page '$ph'")
      assert(Searcher.phraseSearch(spark, Seq(dir), ph, numRanges = 5,
        limit = 3, offset = want.size + 5).isEmpty)
    }
  }

  test("offset pagination: page1 ++ page2 == top-20 with continuous ranks") {
    val queries = QuerySet.queries().take(10)
    val top20 = Searcher.search(spark, indexDir, queries, 20,
      Searcher.Or, 4).collect().groupBy(_.queryId)
    val p1 = Searcher.search(spark, indexDir, queries, 10,
      Searcher.Or, 4, offset = 0).collect().groupBy(_.queryId)
    val p2 = Searcher.search(spark, indexDir, queries, 10,
      Searcher.Or, 4, offset = 10).collect().groupBy(_.queryId)
    queries.foreach { q =>
      val want = top20.getOrElse(q.queryId, Array.empty).sortBy(_.rank)
        .map(h => (h.rank, h.docId, h.score)).toSeq
      val got = (p1.getOrElse(q.queryId, Array.empty) ++
        p2.getOrElse(q.queryId, Array.empty)).sortBy(_.rank)
        .map(h => (h.rank, h.docId, h.score)).toSeq
      assert(got == want, s"query '${q.text}' paging mismatch")
    }
  }

  test("url back-join resolves every hit") {
    val hits = Searcher.search(spark, indexDir,
      QuerySet.queries().take(5), 10, Searcher.Or, 4)
    val nHits = hits.count()
    val withU = Searcher.withUrlsMulti(spark, Seq(indexDir), hits).collect()
    // cardinality makes "every hit" load-bearing: a join that silently
    // dropped unresolved docIds would still be nonEmpty with
    // valid-looking urls
    assert(withU.length.toLong == nHits && nHits > 0)
    assert(withU.forall(_._5.startsWith("https://")))
  }

  test("checkpoints record lineage and metrics") {
    indexDir // force build
    val cks = new CheckpointStore(spark, indexDir).list()
    assert(cks.exists(_.stage == "stats"))
    assert(cks.exists(_.stage == "postings"))
    assert(cks.count(_.stage == "segments") == cfg.numGroups)
    assert(cks.forall(_.status == "COMPLETE"))
    assert(cks.forall(c => c.rowCount > 0 && c.bytes > 0))
    assert(cks.forall(_.lineage.contains("pages")))
  }

  test("k <= 0 is empty, not a heap crash; phrase fails fast sans positions") {
    val qs = Seq(graft.query.QuerySpec(1L, "the term000001"))
    assert(Searcher.search(spark, indexDir, qs, k = 0).collect().isEmpty)
    assert(Searcher.search(spark, indexDir, qs, k = -3).collect().isEmpty)
    // the shared fixture is built WITHOUT the positional tier: phrase
    // serve must raise, not return a silent always-empty result
    val e = intercept[IllegalArgumentException] {
      Searcher.phraseSearch(spark, Seq(indexDir), "the term000001")
    }
    assert(e.getMessage.contains("positional tier"))
    // the position-free conjunctive path stays available (the
    // synthetic vocabulary is termNNNNNN — term000000 is the heaviest)
    assert(Searcher.conjunctiveDocs(spark, Seq(indexDir), "term000000")
      .count() > 0)
  }
}
