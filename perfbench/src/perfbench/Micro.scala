package perfbench

import org.apache.spark.sql.functions._

import graft.data.{PageRow, PagesGen}
import graft.functions.{TextExtractor, Tokenize}
import graft.index.{Codec, IndexBuilder, IndexStats, SegmentBlock}
import graft.query.{BM25, Cursor, Searcher, Wand}

/** In-process probes of single layers, run only in the traced run. Each
  * times a public function on data taken from the run's own index. */
object Micro {
  import Ctx._

  private val MiB = 1024.0 * 1024.0
  private val ProbeSeconds = 0.25

  /** Mean seconds per call of `f`, repeated for about [[ProbeSeconds]]. */
  private def perCall(f: => Any): Double = {
    var n = 0
    val t0 = System.nanoTime()
    while (n < 3 || System.nanoTime() - t0 < ProbeSeconds * 1e9) { f; n += 1 }
    (System.nanoTime() - t0) / 1e9 / n
  }

  /** Extractor and tokenizer throughput on one thread, MiB of input/s. */
  def functions(ctx: Ctx, rows: Seq[PageRow]): Unit = {
    val htmlMb = rows.map(_.html.length).sum / MiB
    val textMb = rows.map(_.text.length).sum / MiB
    ctx.put("functions.extract_mb_s",
      htmlMb / perCall(rows.foreach(r => TextExtractor.extract(r.html))))
    ctx.put("functions.tokenize_mb_s",
      textMb / perCall(rows.foreach(r => Tokenize.tokens(r.text))))
  }

  /** Posting decode speed over a seeded sample of the index's blocks. */
  def codec(ctx: Ctx, idx: String): Unit = {
    import ctx.spark.implicits._
    val blocks = ctx.span("codec.sample") {
      ctx.spark.read.parquet(s"$idx/segments")
        .filter(pmod(xxhash64(col("skey"), col("blockId"), lit(ctx.seed)), lit(16)) === 0)
        .as[SegmentBlock].collect()
    }
    val postings = blocks.map(_.n.toLong).sum
    val secs = perCall(blocks.foreach { b =>
      Codec.decodeDeltas(b.docIdsEnc, b.n, b.firstDocId)
      Codec.decodeVarByte(b.tfsEnc, b.n)
    })
    ctx.put("codec.decode_mpostings_s", postings / secs / 1e6)
  }

  /** Wand's evaluators on cursors built from the index's own blocks: a
    * stopword-heavy OR (block-max WAND against exhaustive), one
    * stopword, and a two-term AND. */
  def wand(ctx: Ctx, idx: String, st: IndexStats, corpus: Corpus,
           orQuery: Q, andQuery: Q): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val stop = PagesGen.word(0)
    val terms = (Tokenize.tokens(orQuery.text) ++ Tokenize.tokens(andQuery.text) :+ stop).distinct
    val metas = ctx.span("wand.blocks")(Searcher.termMetas(spark, Seq(idx), terms))
    def skeys(t: String): Seq[String] = metas.get(t).toSeq.flatMap { m =>
      if (m.saltCount > 1) (0 until m.saltCount).map(IndexBuilder.saltKey(t, _)) else Seq(t)
    }
    val hashes = terms.flatMap(skeys).map(IndexBuilder.xxhash)
    val blocks: Map[String, Array[SegmentBlock]] = ctx.span("wand.blocks") {
      spark.read.parquet(s"$idx/segments").filter(col("termHash").isin(hashes: _*))
        .as[SegmentBlock].collect()
    }.groupBy(_.skey).map { case (k, bs) => k -> bs.sortBy(_.firstDocId) }
    val dl: Map[Long, Long] = corpus.docs.map(d => d.docId -> d.tokens.length.toLong).toMap
    val dlOf: Long => Long = dl
    def idf(t: String) = BM25.idf(st.numDocs, metas(t).df)
    def cursorsOf(t: String, i: Int): Array[Cursor] =
      skeys(t).flatMap(blocks.get).map(bs =>
        new Cursor(i, idf(t), bs, st.avgdl, 0L, Long.MaxValue, dlOf)).toArray
    def cursors(ts: Seq[String]): Array[Cursor] =
      ts.zipWithIndex.flatMap { case (t, i) => cursorsOf(t, i) }.toArray
    val orTerms = Tokenize.tokens(orQuery.text).distinct.filter(metas.contains).toSeq
    val andTerms = Tokenize.tokens(andQuery.text).distinct.toSeq.sortBy(t => metas(t).df)
    val k = Inputs.K
    ctx.check("wandOr equals exhaustiveOr on the stopword-heavy query") {
      Wand.wandOr(cursors(orTerms), k).toSeq == Wand.exhaustiveOr(cursors(orTerms), k).toSeq
    }
    val orUs = perCall(Wand.wandOr(cursors(orTerms), k)) * 1e6
    val exUs = perCall(Wand.exhaustiveOr(cursors(orTerms), k)) * 1e6
    val stopBlocks = skeys(stop).flatMap(blocks.get).flatten.toArray
    ctx.put("wand.or_us", orUs)
    ctx.put("wand.exhaustive_us", exUs)
    ctx.put("wand.prune_ratio", exUs / orUs)
    ctx.put("wand.single_term_us", perCall(Wand.singleTermTopK(stopBlocks,
      idf(stop), st.avgdl, k, 0L, Long.MaxValue, dlOf = dlOf)) * 1e6)
    ctx.put("wand.and_us", perCall(Wand.intersectAnd(
      andTerms.zipWithIndex.map { case (t, i) => cursorsOf(t, i) }.toArray, k)) * 1e6)
  }

  /** Tracing overhead: the same body with tracing off and on, alternated,
    * as a share of the untraced median. */
  def overhead(ctx: Ctx)(body: => Unit): Unit = {
    val off = scala.collection.mutable.ArrayBuffer.empty[Double]
    val on = scala.collection.mutable.ArrayBuffer.empty[Double]
    (0 until 2).foreach { _ =>
      ctx.tracer.disable()
      try off += timed(body)._2
      finally ctx.tracer.enable()
      on += timed(ctx.span("trace.overhead")(body))._2
    }
    ctx.put("trace.overhead_frac", (median(on.toSeq) - median(off.toSeq)) / median(off.toSeq))
  }
}
