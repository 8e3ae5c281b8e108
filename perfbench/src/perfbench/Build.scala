package perfbench

import org.apache.spark.sql.functions._

import graft.data.PageRow
import graft.index.{DocIds, IndexBuilder, IndexPaths, IndexStats}

/** Index build steps shared by the workloads: the CLI `build` flow. */
object Build {
  /** Positional tier on (the CLI default), everything else at defaults. */
  val Cfg: IndexBuilder.Config = IndexBuilder.Config(withPositions = true)

  def index(ctx: Ctx, pages: org.apache.spark.sql.Dataset[PageRow],
            dir: String): IndexStats = {
    val spark = ctx.spark
    val docs = ctx.span("index.docids") {
      val d = DocIds.fromPages(pages,
        spark.sessionState.conf.numShufflePartitions, useExtractor = true)
      d.count()
      d
    }
    try ctx.span("index.build")(IndexBuilder.build(docs, dir, Cfg))
    finally docs.unpersist(false)
  }

  /** Exact per-seed counts of one index, also reported as layer values. */
  def indexCounts(ctx: Ctx, dir: String, st: IndexStats): Unit = {
    val spark = ctx.spark
    val seg = spark.read.parquet(s"$dir/segments")
      .agg(count(lit(1)), sum(col("n")),
        sum(length(col("docIdsEnc")) + length(col("tfsEnc")))).head()
    val salted = spark.read.parquet(s"$dir/terms")
      .filter(col("saltCount") > 1).count()
    val exact = Seq("blocks" -> seg.getLong(0), "postings" -> seg.getLong(1),
      "posting_bytes" -> seg.getLong(2), "terms" -> st.numTerms, "salted_terms" -> salted)
    exact.foreach { case (k, v) => ctx.count(s"index.$k", v) }
    Seq("blocks", "postings", "terms", "salted_terms").foreach(k =>
      ctx.put(s"index.$k", ctx.counts(s"index.$k").toDouble))
    // components of the index dir; `_checkpoints` holds timestamps
    IndexPaths.fs(spark, dir).listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).filterNot(_.startsWith("_")).sorted
      .foreach(c => ctx.count(s"index.bytes.$c", IndexPaths.dirBytes(spark, s"$dir/$c")))
    ctx.put("codec.bytes_per_posting", seg.getLong(2).toDouble / seg.getLong(1))
    val total = IndexPaths.dirBytes(spark, dir)
    val segs = IndexPaths.dirBytes(spark, s"$dir/segments")
    val staged = IndexPaths.dirBytes(spark, s"$dir/postings_staged")
    ctx.put("index.bytes.segments_mb", segs / Mb)
    ctx.put("index.bytes.staged_mb", staged / Mb)
    ctx.put("index.bytes.other_mb", (total - segs - staged) / Mb)
  }

  val Mb = 1024.0 * 1024.0

  def putBuildLayers(ctx: Ctx, tr: Trace): Unit = {
    ctx.putWork("index.docids", tr.total("index.docids"), Ctx.Fields)
    ctx.putWork("index.build", tr.total("index.build"),
      Ctx.FieldsGc ++ Seq("spill_mb", "peak_exec_mem_mb", "busy_frac"))
  }
}
