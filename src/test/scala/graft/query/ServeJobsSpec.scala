package graft.query

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.data.{PageRow, PagesGen}
import graft.index.{DocIds, Incremental, IndexBuilder, IndexPaths, Norms}

/** The serve path's Spark job budget. A query over a base and three
  * re-crawl deltas reads the committed index artifacts with their
  * writers' schemas (no schema-inference job), fetches every
  * generation's dictionary misses in one job and builds its tombstone
  * mask from the strided sidecar on the driver: what is left is the
  * scatter/gather itself.
  */
class ServeJobsSpec extends AnyFunSuite {
  import ServeJobsSpec._
  lazy val spark = SparkTestSession.spark

  test("searchMulti over base + 3 deltas runs <= 3 jobs cold, <= 2 warm; hits == ScalarOracle") {
    val f = fixture(spark)
    assert(f.dead.nonEmpty && f.dirs.size == 4)
    val queries = Seq("term000003 term000150", "term000001 zzdelta2",
      "term000010 term000040 term000400")
    queries.zipWithIndex.foreach { case (text, i) =>
      Seq(Searcher.Or, Searcher.And).foreach { mode =>
        f.dirs.foreach(Searcher.invalidateTermCache)
        def run() = Searcher.searchMulti(spark, f.dirs,
          Seq(QuerySpec(i.toLong, text)), 10, mode, numRanges = 4).collect()
          .sortBy(_.rank).map(h => h.docId -> h.score).toSeq
        val (cold, coldJobs) = jobsOf(spark)(run())
        val (warm, warmJobs) = jobsOf(spark)(run())
        assert(coldJobs.size <= 3, s"'$text' $mode cold: $coldJobs")
        assert(warmJobs.size <= 2, s"'$text' $mode warm: $warmJobs")
        val want = f.expected(text, 10, mode == Searcher.And)
        if (mode == Searcher.Or) assert(want.nonEmpty, s"'$text': vacuous query")
        assert(cold == want, s"'$text' $mode != ScalarOracle")
        assert(warm == want)
      }
    }
  }

  test("phraseDocs, conjunctiveDocs and termDocs start no schema-inference job") {
    val f = fixture(spark)
    val phrase = graft.functions.Tokenize.tokens(PagesGen.row(Seed, 7L).text)
      .slice(2, 5).mkString(" ")
    val runs: Seq[(String, () => Set[Long])] = Seq(
      "phraseDocs" -> (() => Searcher.phraseDocs(spark, f.dirs, phrase, 4)
        .collect().toSet),
      "conjunctiveDocs" -> (() => Searcher.conjunctiveDocs(spark, f.dirs,
        "term000002 term000005", 4).collect().toSet),
      "termDocs" -> (() => Searcher.termDocs(spark, f.dirs,
        Seq("term000002", "zzdelta3")).select(col("doc_id"))
        .collect().map(_.getLong(0)).toSet))
    runs.foreach { case (name, run) =>
      f.dirs.foreach(Searcher.invalidateTermCache)
      val (hits, jobs) = jobsOf(spark)(run())
      assert(hits.nonEmpty && !hits.exists(f.dead), s"$name: $hits")
      assert(!jobs.exists(_.startsWith("parquet at")), s"$name: $jobs")
    }
    // conjunctive hits == every live version holding both terms
    val and = Searcher.conjunctiveDocs(spark, f.dirs, "term000002 term000005", 4)
      .collect().toSet
    assert(and == f.texts.collect { case (id, t) if !f.dead(id) &&
      Seq("term000002", "term000005").forall(graft.functions.Tokenize.tokens(t).contains) => id
    }.toSet)
  }

  test("the url back-join resolves every hit in one job") {
    val f = fixture(spark)
    val hits = Searcher.searchMulti(spark, f.dirs, Seq(QuerySpec(0L,
      "term000003 term000150"), QuerySpec(1L, "term000001 zzdelta2")), 10,
      numRanges = 4)
    val urlOf = f.dirs.flatMap(d => IndexPaths.docs(spark, d).collect()
      .map(m => m.docId -> m.url)).toMap
    val (withU, jobs) = jobsOf(spark)(
      Searcher.withUrlsMulti(spark, f.dirs, hits).collect())
    assert(jobs.size == 1, jobs)
    assert(withU.nonEmpty && withU.length.toLong == hits.count())
    assert(withU.forall(x => x._5 == urlOf(x._3)), withU.mkString("\n"))
  }

  test("gatherRange and the driver merge over collected blocks == searchMulti, with no job") {
    val f = fixture(spark)
    // OR multi-term, single term, AND, page 2
    val classes = Seq(("term000003 term000150", Searcher.Or, 0),
      ("term000001", Searcher.Or, 0), ("term000010 term000040", Searcher.And, 0),
      ("term000010 term000040 term000400", Searcher.Or, 10))
    def ranked(hits: Seq[SearchHit]) =
      hits.sortBy(_.rank).map(h => (h.rank, h.docId, h.score))
    // the base alone has no tombstones, so θ₀ is on and the probe is
    // forced on; the whole chain is tombstoned
    Seq(f.dirs.take(1) -> false, f.dirs -> true).foreach { case (dirs, tombstoned) =>
      classes.zipWithIndex.foreach { case ((text, mode, offset), i) =>
        val q = Seq(QuerySpec(i.toLong, text))
        val want = ranked(Searcher.searchMulti(spark, dirs, q, 10, mode, 4,
          probeMinTotalDf = 0L, offset = offset).collect().toSeq)
        // the dictionary is warm: any job here is the θ₀ probe's, which
        // the OR multi-term class runs on the base and tombstones stop
        val (p, probeJobs) = jobsOf(spark)(
          Searcher.prepare(spark, dirs, q, 10, mode, 4, 0L, offset).get)
        assert(p.mask.value.isEmpty != tombstoned)
        if (tombstoned) assert(probeJobs.isEmpty, s"'$text': $probeJobs")
        else if (i == 0) assert(probeJobs.nonEmpty, s"'$text': no probe")
        val blocks = p.scattered.collect()
        val (got, jobs) = jobsOf(spark) {
          val g = p.gather
          val norms = new Norms.Reader(p.gens.value, p.conf.value)
          g.merge((0 until g.ranges).flatMap { r =>
            g.gatherRange(i.toLong, r, blocks.filter(_._2 == r)
              .map(x => (x._3, x._4, x._5)).toSeq, norms.dl, p.mask.value.fn)
              .map { case (d, s) => (i.toLong, d, s) }
          })
        }
        assert(jobs.isEmpty, s"'$text' $mode: $jobs")
        assert(want.nonEmpty && ranked(got) == want, s"'$text' $mode offset $offset")
      }
    }
  }

  test("typed segment reads still prune buckets and push termHash") {
    val f = fixture(spark)
    val h = IndexBuilder.xxhash("term000001")
    val plan = IndexPaths.segments(spark, f.dirs.head)
      .filter(col("bucket") === IndexBuilder.bucketOf(h, Cfg.numBuckets) &&
        col("termHash") === h)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("PushedFilters") &&
      plan.contains("termHash"), plan)
  }

  test("a directory rebuilt in the same JVM never serves the old build's dictionary") {
    import spark.implicits._
    val dir = SparkTestSession.tmpDir("graft_termcache")
    val fresh = SparkTestSession.tmpDir("graft_termcache_fresh")
    val cfg = Cfg.copy(withPositions = false, saltTarget = 40L)
    val first = (0L until 200L).map(PagesGen.row(Seed, _))
    // the rebuild: other pages, a term the first build lacks (cached
    // as absent) and a term whose df (and salting) moves
    val second = (0L until 260L).map(PagesGen.row(Seed + 1, _)).map(p =>
      p.copy(text = s"${p.text} zzrebuilt term000001"))
    val text = "zzrebuilt term000001 term000004"
    val terms = graft.functions.Tokenize.tokens(text).toSeq
    def build(pages: Seq[PageRow], to: String) =
      IndexBuilder.build(DocIds.fromPages(pages.toDS(), 4), to, cfg)
    def hits(d: String) = Searcher.search(spark, d, Seq(QuerySpec(0L, text)),
      10, numRanges = 4).collect().map(h => (h.rank, h.docId, h.score)).toSeq
    build(first, dir)
    val before = Searcher.termMetas(spark, Seq(dir), terms)
    assert(!before.contains("zzrebuilt"))
    hits(dir)
    build(second, dir) // no invalidateTermCache
    build(second, fresh)
    val after = Searcher.termMetas(spark, Seq(dir), terms)
    assert(after == Searcher.termMetas(spark, Seq(fresh), terms))
    assert(after("zzrebuilt").df == 260L && after("term000001").saltCount > 1)
    assert(hits(dir) == hits(fresh))
  }
}

object ServeJobsSpec {
  val Seed = 42L
  val Cfg = IndexBuilder.Config(numBuckets = 8, blockSize = 32, numGroups = 2,
    saltTarget = 300L, shufflePartitions = 6, withPositions = true)

  /** A base and three re-crawl deltas, the texts of every indexed
    * version by docId, and the tombstoned docIds. */
  final case class Fixture(dirs: Seq[String], texts: Map[Long, String],
                           dead: Set[Long]) {
    private lazy val corpus = ScalarOracle.corpus(texts.toSeq)
    /** Global stats count every version (as searchMulti's do until
      * compaction); tombstoned docs are only dropped from the ranking. */
    def expected(q: String, k: Int, and: Boolean): Seq[(Long, Double)] =
      ScalarOracle.topK(corpus, q, k + dead.size, and)
        .filterNot(h => dead(h._1)).take(k)
  }

  private var built: Fixture = _

  def fixture(spark: SparkSession): Fixture = synchronized {
    if (built == null) built = make(spark)
    built
  }

  private def make(spark: SparkSession): Fixture = {
    import spark.implicits._
    val first = (0L until 300L).map(PagesGen.row(Seed, _))
    val urls = first.map(_.url)
    var live = first.map(p => p.url -> p).toMap
    val base = SparkTestSession.tmpDir("graft_serve_base")
    IndexBuilder.build(DocIds.fromPages(first.toDS(), 4), base, Cfg)
    val pagesOf = scala.collection.mutable.Map(base -> first)
    val dirs = scala.collection.mutable.ArrayBuffer(base)
    (1 to 3).foreach { d =>
      val fresh = (0L until 20L).map(i => PagesGen.row(Seed + d, 1000L * d + i))
      // urls(0) is re-crawled by every delta: each later delta
      // tombstones its base version again
      val recrawl = ((0 until 8).map(i => urls((i * 37 + d * 11) % urls.size)) :+ urls(0))
        .distinct.map(live).map(p =>
          p.copy(text = s"${p.text} zzdelta$d",
            warc_ts = new java.sql.Timestamp(p.warc_ts.getTime + d * 86400000L)))
      val dir = SparkTestSession.tmpDir(s"graft_serve_delta$d")
      Incremental.buildDelta((fresh ++ recrawl).toDS(), dirs.toSeq, dir, Cfg,
        useExtractor = false, allowRecrawl = true)
      pagesOf(dir) = fresh ++ recrawl
      dirs += dir
      live ++= recrawl.map(p => p.url -> p)
    }
    val texts = dirs.flatMap { d =>
      val byUrl = pagesOf(d).map(p => p.url -> p.text).toMap
      IndexPaths.docs(spark, d).collect().map(m => m.docId -> byUrl(m.url))
    }.toMap
    val dead = dirs.flatMap(Incremental.readTombstones(spark, _)).toSet
    Fixture(dirs.toSeq, texts, dead)
  }

  /** `body`'s result and the call site of every Spark job started
    * while it ran (suites run one at a time, so all are its own). */
  def jobsOf[T](spark: SparkSession)(body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val names = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        names.add(e.stageInfos.maxBy(_.stageId).name)
    }
    waitForListenerBus(spark)
    sc.addSparkListener(listener)
    try {
      val out = body
      waitForListenerBus(spark)
      (out, names.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** The listener bus is private to Spark; waiting on it is the only
    * exact way to know every job event has been delivered. */
  private def waitForListenerBus(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }
}
