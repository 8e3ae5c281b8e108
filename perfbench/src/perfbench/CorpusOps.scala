package perfbench

import org.apache.spark.sql.DataFrame

import graft.data.PagesGen
import graft.index.IndexPaths
import graft.pipeline.{AnnIndex, Dedup, Similarity}

/** `corpus_ops`: near-duplicate dedup over generated docs with a seeded
  * share of injected near-duplicates, then a vector-query stream against
  * IVF and LSH artifacts. Only graft.pipeline works here; no inverted
  * index is touched. */
final class CorpusOps(ctx: Ctx) extends Workload {
  import Ctx._
  import ctx.spark
  import spark.implicits._

  val Docs = 1200
  /** Share of docs that get an injected near-duplicate; a third of those
    * get a second one (a chain of three), so clustering needs more than
    * one connected-components round. */
  val DupShare = 0.08
  val Vectors = 2000
  val Dims = 32
  val Clusters = 16
  val Probes = 4

  private val docsDir = s"${ctx.work}/corpus_docs"
  private val vecDir = s"${ctx.work}/corpus_vectors"
  private val ivf = s"${ctx.work}/corpus_ivf"
  private val lsh = s"${ctx.work}/corpus_lsh"
  private var groups: Seq[Seq[Long]] = Nil
  private var nDocs = 0L
  private var vecs: IndexedSeq[Array[Float]] = _

  def setup(): Unit = {
    val r = Inputs.rng(ctx.seed, 41L)
    val base = (0 until Docs).map(i => i.toLong -> PagesGen.row(ctx.seed ^ 0x5a5aL, i).text)
    var next = Docs.toLong
    val extra = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    groups = base.filter(_ => r.nextDouble() < DupShare).map { case (id, text) =>
      val copies = Iterator.iterate(text)(Inputs.nearDup(_, r)).slice(1, if (r.nextInt(3) == 0) 3 else 2)
        .map { t => extra += (next -> t); next += 1; next - 1 }.toSeq
      id +: copies
    }
    val docs = base ++ extra
    nDocs = docs.size
    vecs = Inputs.vectors(ctx.seed, Vectors, Dims, Clusters)
    ctx.span("data.gen") {
      docs.toDF("doc_id", "text").repartition(2 * ctx.cores).write.parquet(docsDir)
      vecs.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
        .toDF("vec_id", "embedding").repartition(2 * ctx.cores).write.parquet(vecDir)
    }
    ctx.span("ann.ivf_build")(AnnIndex.buildIvf(emb, "vec_id", "embedding", ivf,
      numCentroids = Clusters, lineage = "perfbench"))
    ctx.span("ann.lsh_build")(AnnIndex.buildLsh(emb, "vec_id", "embedding", lsh,
      numPlanes = 6, numTables = 4, seed = 42L, lineage = "perfbench"))
    // one query per index before timing: JIT and codegen of the serve path
    ctx.span("warmup")(Seq(Q(-1, "ivf", "0"), Q(-2, "lsh", "1")).foreach(ann))
  }

  private def emb: DataFrame = spark.read.parquet(vecDir)

  /** Alternating IVF / LSH queries, each for an existing vector. */
  private def annQueries(n: Int): IndexedSeq[Q] = {
    val r = Inputs.rng(ctx.seed, 43L)
    (0 until n).map(i => Q(i, if (i % 2 == 0) "ivf" else "lsh", r.nextInt(Vectors).toString))
  }

  private def ann(q: Q): Seq[(Long, Double)] = {
    val id = q.text.toLong
    val v = vecs(id.toInt).toSeq
    val df = if (q.cls == "ivf") AnnIndex.ivfTopKMulti(spark, Seq(ivf), v, id, Inputs.K, Probes)
             else AnnIndex.lshTopKMulti(spark, Seq(lsh), v, id, Inputs.K)
    df.as[(Long, Double)].collect().toSeq
  }

  def run(): Unit = {
    val docs = ctx.span("data.read")(spark.read.parquet(docsDir))
    var pairs: DataFrame = null
    ctx.op("dedup") {
      val (kept, secs) = timed {
        pairs = ctx.span("dedup.minhash")(Dedup.minhashLsh(docs, "doc_id", "text", 16, 4, 0.5)
          .persist())
        ctx.count("dedup.pairs", ctx.span("dedup.minhash")(pairs.count()))
        ctx.span("dedup.corpus")(Dedup.dedupCorpus(docs, "doc_id", pairs, "doc_a", "doc_b").count())
      }
      ctx.count("dedup.kept", kept)
      ctx.put("docs_per_s", nDocs / secs)
    }
    ctx.put("dedup.pairs", ctx.counts.getOrElse("dedup.pairs", 0L).toDouble)

    // one client, then `cores` clients; --seconds sizes the query counts
    val stream = annQueries(math.max(4, 2 * math.round(0.4 * ctx.seconds).toInt))
    val (single, _) = closedLoop(1, stream.size, stream) { q =>
      ctx.op(s"ann query ${q.id}")(ctx.span(s"ann.${q.cls}.query", q.id)(ann(q)))
    }
    val lat = single.map(_._3)
    val perIndex = Seq("ivf", "lsh").map(k => median(single.filter(_._1.cls == k).map(_._3)))
    // IVF and LSH latencies differ by ~2x: the median of the mixed stream
    // would sit in the gap between them, so report the mean of the two
    ctx.put("query_p50_ms", perIndex.sum / 2 * 1e3)
    ctx.put("ann.ivf.query_ms", perIndex(0) * 1e3)
    ctx.put("ann.lsh.query_ms", perIndex(1) * 1e3)
    ctx.put("ann.query_p90_ms", percentile(lat, 90) * 1e3)
    ctx.note("ann_queries", lat.size)
    val ref = single.map { case (q, r, _) => q.id -> r }.toMap
    val perClient = math.max(1, math.round(0.2 * ctx.seconds).toInt)
    val (conc, concWall) = closedLoop(ctx.cores, ctx.cores * perClient, stream) { q =>
      ctx.op(s"concurrent ann query ${q.id}")(ctx.span("ann.concurrent", q.id)(ann(q)))
    }
    ctx.put("concurrent_qps", conc.size / concWall)
    ctx.note("concurrent_queries", conc.size)
    conc.foreach { case (q, got, _) =>
      if (got.isDefined && ref.get(q.id).flatten.exists(_ != got.get))
        ctx.wrong(s"concurrent ann query ${q.id} differs from the single-client one")
    }

    // ---- correctness and recall, outside the timed region ----
    if (pairs != null) {
      val cluster = ctx.span("dedup.clusters")(
        Dedup.clusters(pairs, "doc_a", "doc_b").as[(Long, Long)].collect().toMap)
      val intact = groups.count(g => g.forall(cluster.contains) && g.map(cluster).distinct.size == 1)
      ctx.put("dedup.injected_recall", if (groups.isEmpty) 1.0 else intact.toDouble / groups.size)
      ctx.check(s"every injected near-dup group in one cluster ($intact of ${groups.size})")(
        intact == groups.size)
      pairs.unpersist()
    }
    val recall = stream.take(4).map { q =>
      val got = ref(q.id)
      val exact = ctx.span("check")(Similarity.cosineTopK(emb, "vec_id", "embedding",
        q.text.toLong, Inputs.K).as[(Long, Double)].collect().map(_._1).toSet)
      q.cls -> got.getOrElse(Nil).count(h => exact(h._1)).toDouble / exact.size.max(1)
    }
    Seq("ivf", "lsh").foreach(k =>
      ctx.put(s"ann.$k.recall_at_10", median(recall.filter(_._1 == k).map(_._2))))
    ctx.put("recall_at_10", recall.map(_._2).sum / recall.size)
    ctx.put("bytes_per_input_byte",
      (IndexPaths.dirBytes(spark, ivf) + IndexPaths.dirBytes(spark, lsh)).toDouble /
        (Vectors.toLong * Dims * 4))

    if (ctx.tracing) layers(stream)
  }

  private def layers(stream: IndexedSeq[Q]): Unit = {
    val tr = ctx.tracer.snapshot()
    Seq("dedup.minhash", "dedup.clusters", "dedup.corpus").foreach(n =>
      ctx.putWork(n, tr.total(n), Fields))
    Seq("ann.ivf_build", "ann.lsh_build").foreach(n =>
      ctx.putWork(n, tr.total(n), Seq("wall_s", "jobs", "task_s")))
    ctx.put("ann.ivf.tasks_per_query",
      median(tr.named("ann.ivf.query").map(s => tr.of(s).tasks.toDouble)))
    Micro.overhead(ctx)(stream.take(4).foreach(ann))
  }
}
