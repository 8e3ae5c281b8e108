package perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions.{col, max}
import org.apache.spark.storage.StorageLevel

import graft.Export
import graft.data.{PageRow, PagesGen}
import graft.index.{Compaction, Incremental, IndexPaths, IndexStats, Tombstones}
import graft.query.{QuerySpec, Searcher}

/** `churn`: a base index, then deltas of new pages plus re-crawled urls
  * with edited text, each through the CLI `delta` flow, with queries over
  * every live generation after each; then compaction, queries on the
  * compacted index, and an export of an AND hit set. */
final class Churn(ctx: Ctx) extends Workload {
  import Ctx._
  import ctx.spark
  import spark.implicits._

  val BaseDocs = 400
  val Deltas = 3
  val NewPerDelta = 40
  val RecrawlsPerDelta = 15
  /** Queries after each delta; ids continue across deltas, so together
    * they cycle through the query classes in order. */
  val QueriesPerDelta = 2

  private val base = s"${ctx.work}/churn_base"
  private val gens = mutable.ArrayBuffer(base)
  private var baseStats: IndexStats = _
  private var baseCorpus: Corpus = _
  /** Source table (every url at its latest version) before the first
    * delta and after each. */
  private val sources = mutable.ArrayBuffer.empty[String]
  /** Expected state after each delta: every version ever indexed, the
    * tombstoned docIds, the live docs, the delta's changed rows, and the
    * queries run over the generations. */
  private final case class State(all: Corpus, dead: Set[Long], live: Corpus,
                                 changed: Int, queries: IndexedSeq[Q])
  private val states = mutable.ArrayBuffer.empty[State]

  def setup(): Unit = {
    val r = Inputs.rng(ctx.seed, 21L)
    var rows = (0 until BaseDocs).map(PagesGen.row(ctx.seed, _)).map(p => p.url -> p).toMap
    var versions = Inputs.assign(rows.values.toSeq, 0L)
    baseCorpus = new Corpus(versions)
    var liveIds = versions.map(d => d.url -> d.docId).toMap
    var dead = Set.empty[Long]
    val snapshots = mutable.ArrayBuffer(rows.values.toSeq)
    (1 to Deltas).foreach { d =>
      val first = BaseDocs + (d - 1) * NewPerDelta
      val fresh = (first until first + NewPerDelta).map(PagesGen.row(ctx.seed, _))
      val crawlTs = PagesGen.Epoch + (BaseDocs + Deltas * NewPerDelta) * 37000L + d * 1000L
      val urls = rows.keys.toIndexedSeq.sorted
      val recrawled = Iterator.continually(urls(r.nextInt(urls.size))).distinct
        .take(RecrawlsPerDelta).toSeq.map(u => Inputs.edit(rows(u), r, crawlTs))
      val changed = fresh ++ recrawled
      val added = Inputs.assign(changed, versions.map(_.docId).max + 1)
      dead ++= recrawled.map(p => liveIds(p.url))
      rows ++= changed.map(p => p.url -> p)
      versions ++= added
      liveIds ++= added.map(x => x.url -> x.docId)
      snapshots += rows.values.toSeq
      val live = new Corpus(versions.filterNot(v => dead(v.docId)))
      states += State(new Corpus(versions), dead, live, changed.size,
        Inputs.queries(ctx.seed, live, QueriesPerDelta, idBase = (d - 1) * QueriesPerDelta))
    }
    // the source table as of each delta, one partition per snapshot, in one write
    val dir = s"${ctx.work}/churn_source"
    ctx.span("data.gen") {
      snapshots.zipWithIndex.map { case (rs, i) =>
        spark.createDataset(rs).withColumn("snap", org.apache.spark.sql.functions.lit(i))
      }.reduce(_ union _).write.partitionBy("snap").parquet(dir)
    }
    sources ++= snapshots.indices.map(i => s"$dir/snap=$i")
    baseStats = Build.index(ctx, read(sources.head), base)
    // the CLI `build` stamps the watermark and fingerprint deltas probe
    ctx.span("incremental.fingerprint") {
      val pages = spark.read.parquet(sources.head).as[PageRow]
      Incremental.writeWatermark(spark, base, pages.agg(max(col("warc_ts"))).head().getTimestamp(0))
      Incremental.writeFingerprint(pages, base)
    }
    // one query before timing: JIT and codegen of the serve path
    ctx.span("warmup")(search(spark, Seq(base),
      Inputs.queries(ctx.seed, baseCorpus, 1, idBase = -8L).head))
  }

  private def read(dir: String) =
    ctx.span("data.read")(spark.read.parquet(dir).as[PageRow])

  def run(): Unit = {
    var changedDocs = 0L
    var deltaWall = 0.0
    val timedQueries = mutable.ArrayBuffer.empty[(Q, Double)]
    var hits = 0; var wanted = 0
    (1 to Deltas).foreach { d =>
      val st = states(d - 1)
      delta(d, st).foreach { case (n, secs) => changedDocs += n; deltaWall += secs }
      st.queries.foreach { q =>
        val (got, secs) = timed(ctx.op(s"gens query ${q.id}")(
          ctx.span("query.search", q.id)(search(spark, gens.toSeq, q))))
        timedQueries += q -> secs
        got.foreach { g =>
          val want = checkGens(st, q, g)
          wanted += want.size
          hits += g.map(_._1).toSet.intersect(want.map(_._1).toSet).size
        }
      }
    }
    ctx.put("recall_at_10", if (wanted == 0) 1.0 else hits.toDouble / wanted)
    val last = states.last
    val lat = timedQueries.map(_._2).toSeq
    ctx.put("docs_per_s", changedDocs / deltaWall)
    ctx.put("incremental.changed_rows", changedDocs.toDouble)
    ctx.put("query_p50_ms", median(lat) * 1e3)
    ctx.put("query.gens.p90_ms", percentile(lat, 90) * 1e3)
    Inputs.Classes.foreach(c => ctx.put(s"query.p50_ms.$c",
      median(timedQueries.filter(_._1.cls == c).map(_._2).toSeq) * 1e3))
    ctx.note("gens_queries", lat.size)

    // `cores` closed-loop clients over every live generation; --seconds
    // sizes their query count
    val perClient = math.max(1, math.round(0.1 * ctx.seconds).toInt)
    val (conc, concWall) = closedLoop(ctx.cores, ctx.cores * perClient, last.queries) { q =>
      ctx.op(s"concurrent gens query ${q.id}")(
        ctx.span("query.concurrent", q.id)(search(spark, gens.toSeq, q)))
    }
    ctx.put("concurrent_qps", conc.size / concWall)
    ctx.note("concurrent_queries", conc.size)
    conc.foreach { case (q, got, _) => got.foreach(g => checkGens(last, q, g)) }

    val (mask, maskS) = timed(ctx.span("tombstones.mask")(Tombstones.maskFor(spark, gens.toSeq)))
    ctx.put("tombstones.mask_ms", maskS * 1e3)
    ctx.span("check") {
      // a url re-crawled twice is tombstoned again in the later delta, so
      // rows can exceed the distinct docIds
      val rows = gens.flatMap(Incremental.readTombstones(spark, _))
      ctx.put("tombstones.count", rows.size.toDouble)
      ctx.count("tombstones.count", rows.size)
      ctx.check(s"tombstones: ${rows.distinct.size} distinct docIds, ${last.dead.size} re-crawled")(
        rows.toSet == last.dead && !mask.isEmpty)
      ctx.put("bytes_per_input_byte",
        gens.map(IndexPaths.dirBytes(spark, _)).sum.toDouble / last.live.textBytes)
    }

    val compacted = s"${ctx.work}/churn_compacted"
    ctx.op("compaction") {
      val (st, secs) = timed(ctx.span("compaction")(
        Compaction.compact(spark, gens.toSeq, compacted, Build.Cfg)))
      ctx.put("compaction.docs_per_s", st.numDocs / secs)
      ctx.put("compaction.bytes_out_mb", IndexPaths.dirBytes(spark, compacted) / Build.Mb)
      ctx.count("compaction.docs", st.numDocs)
      if (st.numDocs != last.live.docs.size)
        ctx.wrong(s"compaction kept ${st.numDocs} docs, ${last.live.docs.size} live")
    }
    // after compaction: (url, score) top-k equals ScalarOracle over live
    // docs, on the two classes the timed sample skips: phrase and no-hit
    Inputs.queries(ctx.seed, last.live, 2, idBase = 102L).foreach { q =>
      ctx.op(s"compacted query ${q.id}")(
        ctx.span("check", q.id)(search(spark, Seq(compacted), q))).foreach { got =>
        def urls(xs: Seq[(Long, Double)]) = xs.map { case (id, s) => last.all.byId(id).url -> s }
        if (urls(got) != urls(last.live.expected(q, Inputs.K)))
          ctx.wrong(s"compacted query ${q.id} (${q.cls} '${q.text}') != ScalarOracle over live docs")
      }
    }

    // export: every live doc holding both of two frequent terms
    val r = Inputs.rng(ctx.seed, 23L)
    val a = r.nextInt(20)
    val andQ = s"${PagesGen.word(a)} ${PagesGen.word((a + 1 + r.nextInt(19)) % 20)}"
    val andTerms = graft.functions.Tokenize.tokens(andQ)
    val expectRows = last.live.docs.count(d => andTerms.forall(d.tokens.contains))
    ctx.op("export") {
      val src = read(sources.last).select(col("url"), col("text"))
      val (res, secs) = timed(ctx.span("export")(
        Export.dumpQuery(spark, Seq(compacted), andQ, src, s"${ctx.work}/churn_export")))
      ctx.put("export.rows", res.rows.toDouble)
      ctx.put("export.rows_per_s", res.rows / secs)
      ctx.count("export.rows", res.rows)
      if (res.rows != expectRows)
        ctx.wrong(s"export of '$andQ' wrote ${res.rows} rows, $expectRows match")
    }
    ctx.span("check")(Build.indexCounts(ctx, base, baseStats))

    if (ctx.tracing) layers()
  }

  /** One delta through the CLI `delta` flow; (changed docs, seconds from
    * change detection to the fingerprint). */
  private def delta(d: Int, st: State): Option[(Long, Double)] = {
    val pages = read(sources(d))
    val deltaDir = s"${ctx.work}/churn_delta$d"
    val probe = Incremental.probeTarget(spark, gens.toSeq)
    val res = ctx.op(s"delta $d")(timed {
      val (verdict, detectS) = timed(ctx.span("incremental.detect", d)(
        Incremental.detectChange(pages, probe)._1))
      ctx.put("incremental.detect_ms", detectS * 1e3)
      val fresh = ctx.span("incremental.changed", d)(
        Incremental.changedPages(pages, probe).get.persist(StorageLevel.MEMORY_AND_DISK))
      val stats = ctx.span("incremental.delta", d)(Incremental.buildDelta(fresh, gens.toSeq,
        deltaDir, Build.Cfg, allowRecrawl = true))
      fresh.unpersist(false)
      ctx.span("incremental.fingerprint", d)(Incremental.writeFingerprint(pages, deltaDir))
      (verdict, stats)
    })
    gens += deltaDir
    res.map { case ((verdict, stats), secs) =>
      if (verdict != Incremental.Changed) ctx.wrong(s"delta $d: change probe said $verdict")
      if (stats.numDocs != st.changed)
        ctx.wrong(s"delta $d indexed ${stats.numDocs} rows, ${st.changed} changed")
      ctx.count(s"incremental.changed_rows.d$d", stats.numDocs)
      (stats.numDocs, secs)
    }
  }

  /** A result over the live generations must hold no tombstoned doc and
    * equal ScalarOracle over every version with the dead ones masked;
    * returns that expectation. */
  private def checkGens(st: State, q: Q, got: Seq[(Long, Double)]): Seq[(Long, Double)] = {
    val want = st.all.expectedMasked(q, Inputs.K, st.dead)
    if (got.exists(h => st.dead(h._1)))
      ctx.wrong(s"gens query ${q.id}: a tombstoned doc surfaced")
    else if (got != want)
      ctx.wrong(s"gens query ${q.id} (${q.cls} '${q.text}') != ScalarOracle over all versions")
    want
  }

  /** Per-layer numbers of the traced run. */
  private def layers(): Unit = {
    val dirs = gens.toSeq
    val last = states.last
    val batch = states.flatMap(_.queries).filter(q => !q.and && q.offset == 0 && q.cls != Inputs.Phrase)
    val (hits, batchS) = timed(ctx.span("query.batch")(Searcher.searchMulti(spark, dirs,
      batch.map(q => QuerySpec(q.id, q.text)).toSeq, Inputs.K).collect().toSeq))
    ctx.put("query.batch_qps", batch.size / batchS)
    val byQ = hits.groupBy(_.queryId)
    ctx.check("batch search over generations == ScalarOracle") {
      batch.forall(q => byQ.getOrElse(q.id, Nil).sortBy(_.rank).map(h => h.docId -> h.score) ==
        last.all.expectedMasked(q, Inputs.K, last.dead))
    }
    val terms = last.queries.flatMap(q => graft.functions.Tokenize.tokens(q.text)).distinct
    dirs.foreach(Searcher.invalidateTermCache)
    val (_, cold) = timed(ctx.span("query.dict")(Searcher.termMetas(spark, dirs, terms)))
    val (_, warm) = timed(ctx.span("query.dict")(Searcher.termMetas(spark, dirs, terms)))
    ctx.put("query.dict.cold_ms", cold * 1e3)
    ctx.put("query.dict.warm_ms", warm * 1e3)
    Micro.codec(ctx, base)
    val baseQueries = Inputs.queries(ctx.seed, baseCorpus, Inputs.Classes.size)
    Micro.wand(ctx, base, baseStats, baseCorpus,
      baseQueries.find(_.cls == "stop_heavy").get, baseQueries.find(_.and).get)
    Micro.functions(ctx, (0 until 400).map(PagesGen.row(ctx.seed, _)))
    Micro.overhead(ctx)(last.queries.take(2).foreach(q => search(spark, dirs, q)))

    val tr = ctx.tracer.snapshot()
    Build.putBuildLayers(ctx, tr)
    ctx.putWork("incremental.delta", tr.total("incremental.delta"), Fields)
    ctx.putWork("compaction", tr.total("compaction"), FieldsGc :+ "peak_exec_mem_mb")
    ctx.putWork("export", tr.total("export"), FieldsGc)
    val per = tr.named("query.search").map(tr.of)
    ctx.put("query.search.jobs", median(per.map(_.jobs.toDouble)))
    ctx.put("query.search.tasks", median(per.map(_.tasks.toDouble)))
    ctx.put("query.search.task_ms", median(per.map(_.taskS)) * 1e3)
    ctx.put("query.search.input_kb", median(per.map(_.inputKb)))
    ctx.put("query.search.shuffle_kb", median(per.map(_.shuffleReadKb)))
    ctx.put("query.search.busy_frac", median(per.map(_.busyFrac(ctx.cores))))
    tr.named("query.search").find(_.request == 0L)
      .foreach(s => ctx.count("query.search.jobs.q0", tr.of(s).jobs))
    val b = tr.named("query.batch").map(tr.of)
    ctx.put("query.batch.jobs", median(b.map(_.jobs.toDouble)))
    ctx.put("query.batch.task_s", median(b.map(_.taskS)))
  }
}
