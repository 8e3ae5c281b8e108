package graft.index

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestSession
import graft.data.{PagesGen, QuerySet}
import graft.query.Searcher

/** Incremental build correctness: base(1200 docs) + delta(new 400)
  * must answer queries rank-identically (by url and exact score) to a
  * full rebuild over all 1600 — the hard part is that N, avgdl, and
  * every df change when the delta lands, and the base segments must
  * remain exactly usable under the NEW stats.
  */
class IncrementalSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  val cfg = IndexBuilder.Config(numBuckets = 8, blockSize = 32,
    numGroups = 2, saltTarget = 300L, shufflePartitions = 6)

  test("base + delta == full rebuild (rank-identical by url + score)") {
    import spark.implicits._
    val all = PagesGen.pages(spark, 1600L).cache()
    // warc_ts is monotone in i: cutoff at i=1200
    val cutoff = new java.sql.Timestamp(PagesGen.Epoch + 1199L * 37000L)
    val baseDir = SparkTestSession.tmpDir("graft_inc_base")
    val deltaDir = SparkTestSession.tmpDir("graft_inc_delta")
    val fullDir = SparkTestSession.tmpDir("graft_inc_full")

    val basePages = all.filter($"warc_ts" <= lit(cutoff))
    IndexBuilder.build(DocIds.fromPages(basePages, 6), baseDir, cfg, "base")
    Incremental.writeWatermark(spark, baseDir, cutoff)

    // change detection: only the appended pages enter the delta
    val fresh = Incremental.newPages(all,
      Incremental.readWatermark(spark, baseDir))
    assert(fresh.count() == 400L)
    Incremental.buildDelta(fresh, Seq(baseDir), deltaDir, cfg,
      useExtractor = false)

    IndexBuilder.build(DocIds.fromPages(all, 6), fullDir, cfg, "full")

    // delta docIds sit strictly above the base generation
    val deltaStats = IndexPaths.readStats(spark, deltaDir)
    val baseStats = IndexPaths.readStats(spark, baseDir)
    assert(deltaStats.maxDocId > baseStats.maxDocId)

    val queries = QuerySet.queries().take(25)
    val multi = Searcher.searchMulti(spark, Seq(baseDir, deltaDir),
      queries, 10, Searcher.Or, numRanges = 4)
    val full = Searcher.search(spark, fullDir, queries, 10,
      Searcher.Or, numRanges = 4)
    // docId numbering differs between the two worlds — compare by url
    def byUrl(dir: Seq[String],
              hits: org.apache.spark.sql.Dataset[graft.query.SearchHit]) = {
      val h = hits.collect()
      val urls = dir.flatMap { d =>
        spark.read.parquet(s"$d/docs")
          .filter($"docId".isin(h.map(_.docId).distinct: _*))
          .select($"docId", $"url").as[(Long, String)].collect()
      }.toMap
      h.map(x => (x.queryId, urls(x.docId),
          BigDecimal(x.score).setScale(9, BigDecimal.RoundingMode.HALF_UP)))
        .sortBy(t => (t._1, t._2)).toSeq
    }
    val a = byUrl(Seq(baseDir, deltaDir), multi)
    val b = byUrl(Seq(fullDir), full)
    assert(a == b, s"incremental != full rebuild")

    // compaction merges the generations WITHOUT re-tokenizing and
    // must be bit-identical to multi-gen search (docIds preserved)
    val compDir = SparkTestSession.tmpDir("graft_inc_comp")
    Compaction.compact(spark, Seq(baseDir, deltaDir), compDir, cfg)
    val compact = Searcher.search(spark, compDir, queries, 10,
      Searcher.Or, numRanges = 4).collect()
      .map(h => (h.queryId, h.rank, h.docId, h.score)).sortBy(x => (x._1, x._2))
    val multiRaw = multi.collect()
      .map(h => (h.queryId, h.rank, h.docId, h.score)).sortBy(x => (x._1, x._2))
    assert(compact.toSeq == multiRaw.toSeq, "compaction != multi-gen search")
  }

  test("dictionary and termDocs merge across generations; tombstones mask") {
    import spark.implicits._
    val all = PagesGen.pages(spark, 500L).cache()
    val cutoff = new java.sql.Timestamp(PagesGen.Epoch + 399L * 37000L)
    val baseDir = SparkTestSession.tmpDir("graft_dict_base")
    val deltaDir = SparkTestSession.tmpDir("graft_dict_delta")
    val fullDir = SparkTestSession.tmpDir("graft_dict_full")
    IndexBuilder.build(DocIds.fromPages(
      all.filter($"warc_ts" <= lit(cutoff)), 6), baseDir, cfg, "base")
    Incremental.writeWatermark(spark, baseDir, cutoff)
    val fresh = Incremental.newPages(all,
      Incremental.readWatermark(spark, baseDir))
    Incremental.buildDelta(fresh, Seq(baseDir), deltaDir, cfg,
      useExtractor = false)
    IndexBuilder.build(DocIds.fromPages(all, 6), fullDir, cfg, "full")

    // dictionary across generations: df/cf re-aggregated per term must
    // equal the full rebuild's dictionary exactly
    def dict(dirs: Seq[String]) = Searcher.dictionary(spark, dirs)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val multi = dict(Seq(baseDir, deltaDir))
    val full = dict(Seq(fullDir))
    assert(multi == full, "merged dictionary != full rebuild dictionary")
    assert(multi.nonEmpty)

    // termDocs across generations: same doc set (by url — ids differ)
    val terms = Seq("term000000", "term000120")
    def urlsOf(dirs: Seq[String]) = {
      val ids = Searcher.termDocs(spark, dirs, terms)
        .select("doc_id").distinct()
      dirs.map(d => spark.read.parquet(s"$d/docs")
          .select($"docId".as("doc_id"), $"url"))
        .reduce(_ unionByName _)
        .join(ids, "doc_id").select("url")
        .as[String].collect().toSet
    }
    val mUrls = urlsOf(Seq(baseDir, deltaDir))
    assert(mUrls == urlsOf(Seq(fullDir)) && mUrls.nonEmpty)

    // tombstoned base versions never surface from termDocs
    val victimIds = Searcher.termDocs(spark, Seq(baseDir, deltaDir),
      Seq("term000000")).select("doc_id").as[Long].head(2).toSeq
    // the tombstone protocol (buildDelta's): the strided sidecar, its
    // manifest last — maskFor's small-set path reads the stride files
    Tombstones.write(victimIds.toDS(), deltaDir)
    val after = Searcher.termDocs(spark, Seq(baseDir, deltaDir),
      Seq("term000000")).select("doc_id").as[Long].collect().toSet
    assert(victimIds.forall(!after.contains(_)),
      s"tombstoned ids $victimIds still surfaced")
    all.unpersist()
  }

  test("re-crawl upsert: new content wins; compaction == full rebuild") {
    import spark.implicits._
    val nBase = 800
    val basePages = PagesGen.pages(spark, nBase.toLong).cache()
    val baseDir = SparkTestSession.tmpDir("graft_rc_base")
    val deltaDir = SparkTestSession.tmpDir("graft_rc_delta")
    val fullDir = SparkTestSession.tmpDir("graft_rc_full")
    val compDir = SparkTestSession.tmpDir("graft_rc_comp")
    IndexBuilder.build(DocIds.fromPages(basePages, 6), baseDir, cfg, "base")

    // delta: 100 brand-new pages + 25 RE-CRAWLED base urls whose text
    // changed (a unique marker token identifies the new version)
    val marker = "zzrecrawlmarker"
    val newPages = (0 until 100).map(i => PagesGen.row(99L, 10000L + i))
    val recrawled = (0 until 25).map { i =>
      val p = PagesGen.row(42L, (i * 31).toLong) // every 31st base page
      p.copy(text = p.text + s" $marker $marker",
        warc_ts = new java.sql.Timestamp(p.warc_ts.getTime + 86400000L))
    }
    val deltaPages = spark.createDataset(newPages ++ recrawled)
    Incremental.buildDelta(deltaPages, Seq(baseDir), deltaDir, cfg,
      useExtractor = false, allowRecrawl = true)
    val tombs = Incremental.readTombstones(spark, deltaDir)
    assert(tombs.size == 25, s"expected 25 tombstones, got ${tombs.size}")

    // serve path before compaction: the dead versions never surface,
    // the re-crawled content is searchable
    val q = Seq(graft.query.QuerySpec(0L, marker))
    val hits = Searcher.searchMulti(spark, Seq(baseDir, deltaDir), q,
      10, Searcher.Or, numRanges = 4).collect()
    assert(hits.nonEmpty, "re-crawled content not found")
    assert(hits.forall(h => !tombs.contains(h.docId)),
      "a tombstoned docId surfaced")
    // broad queries must not return tombstoned docs either
    val broad = Searcher.searchMulti(spark, Seq(baseDir, deltaDir),
      QuerySet.queries().take(15), 10, Searcher.Or, numRanges = 4)
      .collect()
    assert(broad.forall(h => !tombs.contains(h.docId)),
      "tombstoned doc in broad query results")

    // compaction drops the dead docs; full rebuild over the
    // post-replacement corpus must match by url AND exact score
    Compaction.compact(spark, Seq(baseDir, deltaDir), compDir, cfg)
    val replacedUrls = recrawled.map(_.url).toSet
    val postCorpus = basePages.collect().toSeq
      .filterNot(p => replacedUrls.contains(p.url)) ++
      newPages ++ recrawled
    IndexBuilder.build(
      DocIds.fromPages(spark.createDataset(postCorpus), 6), fullDir,
      cfg, "full")
    val queries = QuerySet.queries().take(20) :+
      graft.query.QuerySpec(990L, marker)
    def byUrl(dirs: Seq[String], k: Int) = {
      val h = Searcher.searchMulti(spark, dirs, queries, k,
        Searcher.Or, numRanges = 4).collect()
      val urls = dirs.flatMap { d =>
        spark.read.parquet(s"$d/docs")
          .filter($"docId".isin(h.map(_.docId).distinct: _*))
          .select($"docId", $"url").as[(Long, String)].collect()
      }.toMap
      h.map(x => (x.queryId, x.rank, urls(x.docId),
          BigDecimal(x.score).setScale(9, BigDecimal.RoundingMode.HALF_UP)))
        .sortBy(t => (t._1, t._2)).toSeq
    }
    assert(byUrl(Seq(compDir), 10) == byUrl(Seq(fullDir), 10),
      "compacted != full rebuild after re-crawl")

    // the match path (shared by phrase and conjunctive serve) masks
    // tombstones too — the dead version's docId must never surface
    // from ANY evaluator. This fixture has no positional tier (phrase
    // now fails fast on it — IndexSearchSpec covers that), so the
    // mask is exercised through the position-free conjunctive walk.
    val phTerms = graft.functions.Tokenize.tokens(
      recrawled.head.text).take(3).mkString(" ")
    val phHits = Searcher.conjunctiveDocs(spark, Seq(baseDir, deltaDir),
      phTerms, numRanges = 4).collect()
    assert(phHits.forall(d => !tombs.contains(d)),
      "conjunctive match returned a tombstoned docId")
    // NOT vacuous: the live replacement (the delta's doc for this
    // url — its text contains these very terms) must survive the mask
    val replacementId = spark.read.parquet(s"$deltaDir/docs")
      .filter($"url" === recrawled.head.url)
      .select($"docId").as[Long].head()
    assert(phHits.contains(replacementId),
      "the re-crawled replacement doc was masked out too")

    // SUBSET compaction (delta alone, base excluded) must CARRY the
    // tombstones pointing at the base — otherwise the replaced base
    // versions resurrect in searchMulti(base, compactedDelta)
    val subDir = SparkTestSession.tmpDir("graft_rc_sub")
    Compaction.compact(spark, Seq(deltaDir), subDir, cfg)
    val carried = Incremental.readTombstones(spark, subDir)
    assert(carried.toSet == tombs.toSet,
      s"subset compaction lost tombstones: carried=${carried.size}")
    val subHits = Searcher.searchMulti(spark, Seq(baseDir, subDir),
      QuerySet.queries().take(10) :+ graft.query.QuerySpec(991L, marker),
      10, Searcher.Or, numRanges = 4).collect()
    assert(subHits.forall(h => !tombs.contains(h.docId)),
      "tombstoned doc resurrected after subset compaction")

    // THE SPAN-HOLE CASE: delta2 re-crawls the same urls AGAIN, so its
    // tombstones point at both base ids (an input of the compaction →
    // consumed by the dedup) and delta1 ids (EXCLUDED → must carry).
    // The carried output's [minDocId, maxDocId] span then COVERS
    // delta1's range as a hole — a span-based consume test on the
    // next compaction would wrongly eat the carried ids; membership
    // must be decided against the inputs' ACTUAL docIds.
    val recrawled2 = recrawled.map(p => p.copy(text = p.text + " v3",
      warc_ts = new java.sql.Timestamp(p.warc_ts.getTime + 7200000L)))
    val delta2Dir = SparkTestSession.tmpDir("graft_rc_d2")
    Incremental.buildDelta(spark.createDataset(recrawled2),
      Seq(baseDir, deltaDir), delta2Dir, cfg,
      useExtractor = false, allowRecrawl = true)
    val delta1Ids = spark.read.parquet(s"$deltaDir/docs")
      .filter($"url".isin(recrawled.map(_.url): _*))
      .select($"docId").as[Long].collect().toSet
    assert(delta1Ids.size == 25)
    val hole1 = SparkTestSession.tmpDir("graft_rc_hole1")
    Compaction.compact(spark, Seq(baseDir, delta2Dir), hole1, cfg)
    val carried1 = Incremental.readTombstones(spark, hole1).toSet
    assert(delta1Ids.subsetOf(carried1),
      "first-level carry lost excluded-generation ids")
    val hole2 = SparkTestSession.tmpDir("graft_rc_hole2")
    Compaction.compact(spark, Seq(hole1), hole2, cfg)
    assert(delta1Ids.subsetOf(
      Incremental.readTombstones(spark, hole2).toSet),
      "span-hole recompaction dropped carried tombstones")
  }

  test("zero-fresh-row delta builds an empty generation, not a crash") {
    import spark.implicits._
    // a source where change was detected but the hash diff selects
    // nothing (e.g. only deletions): the multi-group segments stage
    // re-reads a staged dir whose empty partitioned write has no part
    // files — schema inference would reject it
    val baseDir = SparkTestSession.tmpDir("graft_empty_base")
    val emptyDir = SparkTestSession.tmpDir("graft_empty_delta")
    IndexBuilder.build(
      DocIds.fromPages(PagesGen.pages(spark, 120L), 4), baseDir, cfg, "b")
    val none = spark.emptyDataset[graft.data.PageRow]
    val stats = Incremental.buildDelta(none, Seq(baseDir), emptyDir, cfg,
      useExtractor = false)
    assert(stats.numDocs == 0)
    // the union serve path tolerates the empty generation
    val hits = Searcher.searchMulti(spark, Seq(baseDir, emptyDir),
      QuerySet.queries().take(5), 10, Searcher.Or, numRanges = 3)
      .collect()
    val baseOnly = Searcher.search(spark, baseDir,
      QuerySet.queries().take(5), 10, Searcher.Or, numRanges = 3)
      .collect()
    assert(hits.map(h => (h.queryId, h.rank, h.docId)).sorted.toSeq ==
      baseOnly.map(h => (h.queryId, h.rank, h.docId)).sorted.toSeq)
  }

  /** A 200-page base, 20 fresh pages and 5 re-crawled base pages. */
  private def recrawlBase(name: String) = {
    import spark.implicits._
    val basePages = (0L until 200L).map(PagesGen.row(42L, _))
    val baseDir = SparkTestSession.tmpDir(s"graft_${name}_base")
    IndexBuilder.build(DocIds.fromPages(basePages.toDS(), 4), baseDir, cfg, "base")
    val fresh = (0 until 20).map(i => PagesGen.row(99L, 5000L + i))
    val recrawled = basePages.take(5).map(p => p.copy(text = p.text + " zzagain",
      warc_ts = new java.sql.Timestamp(p.warc_ts.getTime + 86400000L)))
    (baseDir, fresh, recrawled)
  }

  test("a delta rebuilt into its dir without re-crawls serves the first run's victims again") {
    import spark.implicits._
    val (baseDir, fresh, recrawled) = recrawlBase("stale")
    val deltaDir = SparkTestSession.tmpDir("graft_stale_delta")
    Incremental.buildDelta((fresh ++ recrawled).toDS(), Seq(baseDir), deltaDir,
      cfg, useExtractor = false, allowRecrawl = true)
    val victims = Incremental.readTombstones(spark, deltaDir).toSet
    assert(victims.size == recrawled.size)
    Incremental.buildDelta(fresh.toDS(), Seq(baseDir), deltaDir, cfg,
      useExtractor = false)
    assert(Tombstones.maskFor(spark, Seq(baseDir, deltaDir)).isEmpty,
      "the rebuilt delta kept its previous run's tombstones")
    val terms = recrawled.map(p => graft.functions.Tokenize.tokens(p.text).head)
    val served = Searcher.termDocs(spark, Seq(baseDir, deltaDir), terms.distinct)
      .select("doc_id").as[Long].collect().toSet
    assert(victims.subsetOf(served), s"victims ${victims -- served} still hidden")
  }

  test("a delta whose sidecar never committed reruns to a clean run's sidecar") {
    import spark.implicits._
    val (baseDir, fresh, recrawled) = recrawlBase("crash")
    val pages = (fresh ++ recrawled).toDS()
    val cleanDir = SparkTestSession.tmpDir("graft_crash_clean")
    Incremental.buildDelta(pages, Seq(baseDir), cleanDir, cfg,
      useExtractor = false, allowRecrawl = true)
    // the on-disk state of a crash between the build and the sidecar
    val crashDir = SparkTestSession.tmpDir("graft_crash_rerun")
    Incremental.buildDelta(pages, Seq(baseDir), crashDir, cfg,
      useExtractor = false)
    assert(Tombstones.readManifest(spark, crashDir).isEmpty)
    Incremental.buildDelta(pages, Seq(baseDir), crashDir, cfg,
      useExtractor = false, allowRecrawl = true)
    def sidecar(dir: String): Map[String, Seq[Byte]] = {
      val d = new java.io.File(Tombstones.dirOf(dir))
      d.listFiles().filterNot(_.getName.startsWith(".")).map(f =>
        f.getName -> java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap
    }
    assert(sidecar(cleanDir).size > 1)
    assert(sidecar(crashDir) == sidecar(cleanDir))
    def maskSet(dir: String) = Tombstones.maskFor(spark, Seq(baseDir, dir)) match {
      case Tombstones.SetMask(ids) => ids
      case other => fail(s"expected a SetMask, got $other")
    }
    assert(maskSet(crashDir) == maskSet(cleanDir))
    assert(maskSet(cleanDir).size == recrawled.size)
  }

  test("strided tombstone mask: multi-stride membership + rank identity") {
    import spark.implicits._
    // 1. membership mechanics across stride boundaries: ids straddle
    // several 2^20-wide strides, including exact boundary ids
    val sDir = SparkTestSession.tmpDir("graft_tomb_strided")
    val stride = Norms.Stride
    val ids = Seq(0L, 1L, stride - 1, stride, stride + 7,
      3 * stride, 3 * stride + 123456, 7 * stride - 1)
    Tombstones.write(ids.toDS(), sDir)
    val Some((cnt, strides)) = Tombstones.readManifest(spark, sDir)
    assert(cnt == ids.size)
    assert(strides.toSet == ids.map(Norms.strideOf).toSet)
    val mask = Tombstones.StridedMask(
      Array((sDir, strides)),
      new Norms.SerConf(spark.sparkContext.hadoopConfiguration))
    val f = mask.fn
    ids.foreach(id => assert(f(id), s"id $id not masked"))
    Seq(2L, stride + 1, 2 * stride, 3 * stride + 1, 100 * stride)
      .foreach(id => assert(!f(id), s"id $id wrongly masked"))

    // 2. serve path: strided mask (threshold forced to 0) is
    // rank-identical to the broadcast-Set mask on a real index with a
    // large synthetic tombstone set
    val pages = PagesGen.pages(spark, 400L)
    val dir = SparkTestSession.tmpDir("graft_tomb_idx")
    IndexBuilder.build(DocIds.fromPages(pages, 4),
      dir, cfg.copy(withPositions = true), "tomb")
    val tombIds = (0L until 400L).filter(_ % 3 == 0)
    Tombstones.write(tombIds.toDS(), dir)
    val qs = QuerySet.queries().take(12)
    def run(mode: Searcher.Mode = Searcher.Or,
            off: Int = 0): Seq[(Long, Int, Long, Double)] =
      Searcher.searchMulti(spark, Seq(dir), qs, 10, mode,
        numRanges = 4, offset = off).collect()
        .map(h => (h.queryId, h.rank, h.docId, h.score))
        .sortBy(x => (x._1, x._2)).toSeq
    val viaSet = run()
    // interaction coverage: AND-mode pruning and offset-deepened heap
    // bounds both interact with masking — pin them across both mask
    // representations, not just the default Or/page-1 shape
    val viaSetAnd = run(Searcher.And)
    val viaSetPage2 = run(off = 10)
    assert(Tombstones.maskFor(spark, Seq(dir))
      .isInstanceOf[Tombstones.SetMask])
    spark.conf.set("graft.tombstones.broadcastThreshold", "0")
    try {
      assert(Tombstones.maskFor(spark, Seq(dir))
        .isInstanceOf[Tombstones.StridedMask])
      val viaStride = run()
      assert(viaStride == viaSet, "strided mask diverged from Set mask")
      assert(viaStride.nonEmpty)
      assert(viaStride.forall(h => h._3 % 3 != 0), "masked doc surfaced")
      assert(run(Searcher.And) == viaSetAnd,
        "AND mode diverged under the strided mask")
      assert(run(off = 10) == viaSetPage2,
        "offset page diverged under the strided mask")
      assert(viaSetPage2.forall(h => h._3 % 3 != 0))
      // phrase path through the strided mask too — sampled from a doc
      // whose RANK is not tombstoned, so the assertion has a known
      // surviving hit and cannot pass vacuously on an empty result
      val byRank = (0L until 400L).map(i => PagesGen.row(42L, i))
        .map(p => (p.url, p.text)).sortBy(_._1).zipWithIndex
      val (phrase, liveRank) = byRank.collectFirst {
        case ((_, t), r)
            if r % 3 != 0 &&
              graft.functions.Tokenize.tokens(t).length >= 5 =>
          (graft.functions.Tokenize.tokens(t).slice(1, 4).mkString(" "),
            r.toLong)
      }.get
      val ph = Searcher.phraseSearch(spark, Seq(dir), phrase,
        numRanges = 3)
      assert(ph.contains(liveRank), "live phrase hit lost under the mask")
      assert(ph.forall(_ % 3 != 0), "phrase surfaced a masked doc")
    } finally
      spark.conf.unset("graft.tombstones.broadcastThreshold")
  }

  test("compaction merges positional and positions-less generations") {
    import spark.implicits._
    // base WITH positions, delta WITHOUT — merged blocks mix postings
    // with and without position lists; the encoder must emit one
    // count-prefixed entry per posting or the decoder misaligns
    val basePages = PagesGen.pages(spark, 300L)
    val deltaPages = spark.createDataset(
      (0 until 80).map(i => PagesGen.row(7L, 20000L + i)))
    val baseDir = SparkTestSession.tmpDir("graft_mix_base")
    val deltaDir = SparkTestSession.tmpDir("graft_mix_delta")
    val outDir = SparkTestSession.tmpDir("graft_mix_out")
    val posCfg = cfg.copy(withPositions = true)
    IndexBuilder.build(DocIds.fromPages(basePages, 4), baseDir, posCfg,
      "base")
    Incremental.buildDelta(deltaPages, Seq(baseDir), deltaDir,
      cfg, useExtractor = false) // NO positions
    Compaction.compact(spark, Seq(baseDir, deltaDir), outDir, posCfg)
    // BM25 results survive the merge exactly
    val q = QuerySet.queries().take(10)
    val multi = Searcher.searchMulti(spark, Seq(baseDir, deltaDir), q,
      10, Searcher.Or, numRanges = 4).collect()
      .map(h => (h.queryId, h.rank, h.docId, h.score)).sortBy(x => (x._1, x._2))
    val comp = Searcher.search(spark, outDir, q, 10, Searcher.Or,
      numRanges = 4).collect()
      .map(h => (h.queryId, h.rank, h.docId, h.score)).sortBy(x => (x._1, x._2))
    assert(comp.toSeq == multi.toSeq, "mixed-positions compaction broke BM25")
    // phrase over the compacted index: base-era phrases still found
    // (positions preserved through the merge), delta docs simply
    // cannot phrase-match (indexed without positions) — and nothing
    // crashes on the mixed blocks
    val byUrl = (0L until 300L).map(i => PagesGen.row(42L, i))
      .map(p => (p.url, p.text)).sortBy(_._1).zipWithIndex
    val sample = byUrl.collectFirst {
      case ((_, t), r) if graft.functions.Tokenize.tokens(t).length >= 5 =>
        (graft.functions.Tokenize.tokens(t).slice(1, 4).mkString(" "), r)
    }.get
    val hits = Searcher.phraseSearch(spark, Seq(outDir), sample._1,
      numRanges = 3)
    assert(hits.contains(sample._2.toLong),
      s"phrase '${sample._1}' lost doc ${sample._2} through compaction")
  }
}
