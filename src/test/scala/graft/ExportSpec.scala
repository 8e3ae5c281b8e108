package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.data.PagesGen
import graft.index.{DocIds, IndexBuilder, IndexPaths}
import graft.query.Searcher

/** Bulk export (reference ExportJob analog): full AND hit set with
  * text, chunk-committed, resumable.
  */
class ExportSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  val cfg = IndexBuilder.Config(numBuckets = 8, blockSize = 32,
    numGroups = 2, saltTarget = 400L, shufflePartitions = 6)

  lazy val fixture: (String, org.apache.spark.sql.DataFrame) = {
    val pages = PagesGen.pages(spark, 500L).cache()
    val dir = SparkTestSession.tmpDir("graft_export_idx")
    IndexBuilder.build(DocIds.fromPages(pages, 4), dir, cfg, "exp")
    (dir, pages.toDF())
  }

  private def naiveAnd(src: org.apache.spark.sql.DataFrame,
                       terms: Seq[String]): Set[String] =
    src.collect().map(r => (r.getAs[String]("url"),
        graft.functions.Tokenize.tokens(r.getAs[String]("text")).toSet))
      .filter { case (_, toks) => terms.forall(toks.contains) }
      .map(_._1).toSet

  test("conjunctiveDocs == scan-based AND on every sampled query") {
    import spark.implicits._
    val (dir, src) = fixture
    val meta = spark.read.parquet(s"$dir/docs")
      .select($"docId", $"url").as[(Long, String)].collect().toMap
    // sample term pairs from real docs so matches exist
    val qs = src.select($"text").as[String].take(5).flatMap { t =>
      val ts = graft.functions.Tokenize.tokens(t).distinct
      if (ts.length >= 4) Some(s"${ts(0)} ${ts(3)}") else None
    }.distinct
    assert(qs.nonEmpty)
    qs.foreach { q =>
      val got = Searcher.conjunctiveDocs(spark, Seq(dir), q)
        .collect().map(meta).toSet
      val want = naiveAnd(src,
        graft.functions.Tokenize.tokens(q).distinct.toSeq)
      assert(got == want, s"query '$q'")
      assert(want.nonEmpty, s"sampled query '$q' should match")
    }
  }

  test("dumpQuery writes the full hit set; crash-resume completes it") {
    import spark.implicits._
    val (dir, src) = fixture
    val q = {
      val t = src.select($"text").as[String].head()
      val ts = graft.functions.Tokenize.tokens(t).distinct
      s"${ts(0)} ${ts(1)}"
    }
    val outA = SparkTestSession.tmpDir("graft_export_a")
    val resA = Export.dumpQuery(spark, Seq(dir), q, src, outA, chunks = 4)
    val readA = spark.read
      .parquet((0 until 4).map(c => s"$outA/chunk=$c"): _*)
      .select($"url", $"text").as[(String, String)].collect().sorted.toSeq
    val want = naiveAnd(src, graft.functions.Tokenize.tokens(q).distinct.toSeq)
    assert(resA.rows == want.size && resA.skipped == 0)
    assert(readA.map(_._1).toSet == want)
    // content rides along, not just membership
    val srcText = src.select($"url", $"text").as[(String, String)]
      .collect().toMap
    readA.foreach { case (u, t) => assert(srcText(u) == t) }

    // crash simulation: drop the last two chunks AND their checkpoint
    // commits, then resume — completed chunks skip, output identical
    (2 until 4).foreach { c =>
      IndexPaths.delete(spark, s"$outA/chunk=$c")
      IndexPaths.delete(spark, s"$outA/_checkpoints/export_$c.json")
    }
    val resB = Export.dumpQuery(spark, Seq(dir), q, src, outA, chunks = 4)
    assert(resB.skipped == 2 && resB.rows == resA.rows)
    val readB = spark.read
      .parquet((0 until 4).map(c => s"$outA/chunk=$c"): _*)
      .select($"url", $"text").as[(String, String)].collect().sorted.toSeq
    assert(readB == readA, "resumed export diverged")
  }

  test("resume with a DIFFERENT query re-exports instead of serving stale chunks") {
    import spark.implicits._
    val (dir, src) = fixture
    val texts = src.select($"text").as[String].take(3)
    val q1 = {
      val ts = graft.functions.Tokenize.tokens(texts(0)).distinct
      s"${ts(0)} ${ts(1)}"
    }
    val q2 = {
      val ts = graft.functions.Tokenize.tokens(texts(2)).distinct
      s"${ts(1)} ${ts(2)}"
    }
    assume(q1 != q2)
    val out = SparkTestSession.tmpDir("graft_export_lineage")
    Export.dumpQuery(spark, Seq(dir), q1, src, out, chunks = 4)
    // same outDir, resume=true default, different query: checkpoint
    // lineage must invalidate — no chunk may be "skipped"
    val res2 = Export.dumpQuery(spark, Seq(dir), q2, src, out, chunks = 4)
    assert(res2.skipped == 0, "stale chunks served for a different query")
    val got = spark.read
      .parquet((0 until 4).map(c => s"$out/chunk=$c"): _*)
      .select($"url").as[String].collect().toSet
    val want = naiveAnd(src,
      graft.functions.Tokenize.tokens(q2).distinct.toSeq)
    assert(got == want)
  }

  test("jsonl and csv formats round-trip content; jsonl crash-resumes") {
    import spark.implicits._
    val (dir, src) = fixture
    val q = {
      val t = src.select($"text").as[String].head()
      val ts = graft.functions.Tokenize.tokens(t).distinct
      s"${ts(0)} ${ts(1)}"
    }
    val want = naiveAnd(src, graft.functions.Tokenize.tokens(q).distinct.toSeq)
    // written column order is (doc_id, url, text); csv reads map an
    // explicit schema POSITIONALLY, so the schema must match it
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", org.apache.spark.sql.types.LongType)
      .add("url", org.apache.spark.sql.types.StringType)
      .add("text", org.apache.spark.sql.types.StringType)
    Seq("jsonl", "csv").foreach { fmt =>
      val out = SparkTestSession.tmpDir(s"graft_export_$fmt")
      val res = Export.dumpQuery(spark, Seq(dir), q, src, out,
        chunks = 3, format = fmt)
      assert(res.rows == want.size && want.nonEmpty)
      val reader = spark.read.schema(schema)
      val paths = (0 until 3).map(c => s"$out/chunk=$c")
      val back = (fmt match {
        case "jsonl" => reader.json(paths: _*)
        case _ => reader.option("header", "true").csv(paths: _*)
      }).select($"url", $"text").as[(String, String)].collect().toMap
      assert(back.keySet == want, s"$fmt membership")
      val srcText = src.select($"url", $"text").as[(String, String)]
        .collect().toMap
      // content survives the text round-trip byte-exactly
      back.foreach { case (u, t) => assert(srcText(u) == t, s"$fmt $u") }
    }
    // crash-resume on the jsonl ladder: drop one chunk + its commit
    val out = SparkTestSession.tmpDir("graft_export_jsonl_r")
    val resA = Export.dumpQuery(spark, Seq(dir), q, src, out,
      chunks = 3, format = "jsonl")
    IndexPaths.delete(spark, s"$out/chunk=1")
    IndexPaths.delete(spark, s"$out/_checkpoints/export_1.json")
    val resB = Export.dumpQuery(spark, Seq(dir), q, src, out,
      chunks = 3, format = "jsonl")
    assert(resB.skipped == 2 && resB.rows == resA.rows)
  }

  test("resume fences on INDEX identity: a rebuilt index invalidates chunks") {
    import spark.implicits._
    val pagesA = PagesGen.pages(spark, 300L).cache()
    val idxDir = SparkTestSession.tmpDir("graft_export_idx_mut")
    IndexBuilder.build(DocIds.fromPages(pagesA, 4), idxDir, cfg, "expA")
    val q = {
      val t = pagesA.toDF().select($"text").as[String].head()
      val ts = graft.functions.Tokenize.tokens(t).distinct
      s"${ts(0)} ${ts(1)}"
    }
    val out = SparkTestSession.tmpDir("graft_export_idxline")
    val resA = Export.dumpQuery(spark, Seq(idxDir), q, pagesA.toDF(),
      out, chunks = 3)
    assert(resA.rows > 0)
    // the index changes in place (re-crawl/delta/compaction analog):
    // numDocs/maxDocId/buildId in stats.json all differ
    val pagesB = PagesGen.pages(spark, 340L).cache()
    IndexBuilder.build(DocIds.fromPages(pagesB, 4), idxDir, cfg, "expB",
      resume = false)
    val resB = Export.dumpQuery(spark, Seq(idxDir), q, pagesB.toDF(),
      out, chunks = 3)
    assert(resB.skipped == 0,
      "chunks cut from the OLD index served after the index changed")
    pagesA.unpersist(); pagesB.unpersist()
  }

  test("resume fences on SOURCE content: re-written corpus invalidates") {
    import spark.implicits._
    val srcDir = SparkTestSession.tmpDir("graft_export_srcmut")
    PagesGen.pages(spark, 200L).toDF().write.mode("overwrite")
      .parquet(srcDir)
    val out = SparkTestSession.tmpDir("graft_export_srcline")
    val pred = length(col("text")) > 200
    val resA = Export.dumpFilter(spark, spark.read.parquet(srcDir),
      pred, out, chunks = 3)
    assert(resA.rows > 0 && resA.skipped == 0)
    // unchanged source: full skip
    val resA2 = Export.dumpFilter(spark, spark.read.parquet(srcDir),
      pred, out, chunks = 3)
    assert(resA2.skipped == 3 && resA2.rows == resA.rows)
    // re-crawled corpus under the SAME path: must re-export
    PagesGen.pages(spark, 230L).toDF().write.mode("overwrite")
      .parquet(srcDir)
    val resB = Export.dumpFilter(spark, spark.read.parquet(srcDir),
      pred, out, chunks = 3)
    assert(resB.skipped == 0,
      "stale chunks served after the source corpus changed")
  }

  test("resume reads committed counts from checkpoints, not chunk files") {
    import spark.implicits._
    val (dir, src) = fixture
    val q = {
      val t = src.select($"text").as[String].head()
      val ts = graft.functions.Tokenize.tokens(t).distinct
      s"${ts(0)} ${ts(1)}"
    }
    val out = SparkTestSession.tmpDir("graft_export_norecount")
    val resA = Export.dumpQuery(spark, Seq(dir), q, src, out, chunks = 3)
    // delete a committed chunk's FILES but keep its checkpoint: the
    // resume must still total correctly — proof the count comes from
    // the checkpoint record (a re-read would see 0 rows or fail)
    IndexPaths.delete(spark, s"$out/chunk=0")
    val resB = Export.dumpQuery(spark, Seq(dir), q, src, out, chunks = 3)
    assert(resB.skipped == 3 && resB.rows == resA.rows)
  }

  test("csv export round-trips newlines, quotes, commas and empty text") {
    import spark.implicits._
    val hostile = Seq(
      ("u1", "line one\nline two\nline three"),
      ("u2", "she said \"hi, there\" and left"),
      ("u3", ""),
      ("u4", "trailing comma, then \"quoted\nnewline\"")).toDF("url", "text")
    val out = SparkTestSession.tmpDir("graft_export_csv_hostile")
    val res = Export.dumpFilter(spark, hostile, lit(true), out,
      chunks = 1, format = "csv")
    assert(res.rows == 4)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("url", org.apache.spark.sql.types.StringType)
      .add("text", org.apache.spark.sql.types.StringType)
    // nullValue must be a never-occurring sentinel: the reader's
    // default nullValue is "" which folds quoted-empty back to null
    val back = spark.read.schema(schema)
      .option("header", "true").option("multiLine", "true")
      .option("escape", "\"").option("nullValue", "\u0001")
      .csv(s"$out/chunk=0")
      .as[(String, String)].collect().toMap
    val want = hostile.as[(String, String)].collect().toMap
    assert(back == want, s"csv round-trip diverged: $back")
  }

  test("sweepExpired deletes aged exports and abandoned partials only") {
    import spark.implicits._
    val (_, src) = fixture
    val parent = SparkTestSession.tmpDir("graft_export_expiry")
    val pred = length(col("text")) > 200
    Export.dumpFilter(spark, src, pred, s"$parent/old", chunks = 2)
    Export.dumpFilter(spark, src, pred, s"$parent/fresh", chunks = 2)
    // a crashed export: chunks + checkpoints, no manifest
    Export.dumpFilter(spark, src, pred, s"$parent/crashed", chunks = 2)
    IndexPaths.delete(spark, s"$parent/crashed/manifest.json")
    val now = System.currentTimeMillis()
    val fs = IndexPaths.fs(spark, parent)
    // age ALL recorded activity of the old + crashed exports (expiry
    // keys on the NEWEST mtime anywhere, so an in-flight export's
    // ongoing chunk writes keep it alive)
    Seq("old", "crashed").foreach { d =>
      val root = new org.apache.hadoop.fs.Path(s"$parent/$d")
      fs.setTimes(root, now - 100000L, -1)
      fs.listStatus(root).foreach { s =>
        fs.setTimes(s.getPath, now - 100000L, -1)
        if (s.isDirectory)
          fs.listStatus(s.getPath).foreach(c =>
            fs.setTimes(c.getPath, now - 100000L, -1))
      }
    }
    // a recently-active partial must NOT expire even if most of it is
    // old: age everything in fresh2 except one chunk dir
    Export.dumpFilter(spark, src, pred, s"$parent/fresh2", chunks = 2)
    IndexPaths.delete(spark, s"$parent/fresh2/manifest.json")
    fs.listStatus(new org.apache.hadoop.fs.Path(s"$parent/fresh2"))
      .filterNot(_.getPath.getName == "chunk=0").foreach { s =>
      fs.setTimes(s.getPath, now - 100000L, -1)
    }
    val deleted = Export.sweepExpired(spark, parent, ttlMs = 50000L,
      nowMs = now)
    assert(deleted.map(d => d.split('/').last).sorted ==
      Seq("crashed", "old"))
    assert(!IndexPaths.exists(spark, s"$parent/old"))
    assert(!IndexPaths.exists(spark, s"$parent/crashed"))
    assert(IndexPaths.exists(spark, s"$parent/fresh/manifest.json"))
    assert(IndexPaths.exists(spark, s"$parent/fresh2"),
      "in-flight export with recent chunk activity was expired")
    // fresh export still readable after the sweep
    assert(spark.read.parquet(s"$parent/fresh/chunk=0").count() >= 0)
  }

  test("dumpFilter exports a predicate slice with chunk commits") {
    import spark.implicits._
    val (_, src) = fixture
    val out = SparkTestSession.tmpDir("graft_export_f")
    val res = Export.dumpFilter(spark, src,
      length(col("text")) > 200, out, chunks = 3)
    val want = src.filter(length(col("text")) > 200).count()
    assert(res.rows == want && want > 0)
    val back = spark.read
      .parquet((0 until 3).map(c => s"$out/chunk=$c"): _*)
    assert(back.count() == want)
    assert(back.filter(length(col("text")) <= 200).count() == 0)
  }

  test("a failing chunk fails the export with no job left running; resume completes") {
    import spark.implicits._
    val (_, pages) = fixture
    val bad = pages.select($"url").as[String].head()
    // one row throws the first time it is computed; every other row is
    // slow, so sibling chunk jobs are still running when it does
    val text = udf { (u: String, t: String) =>
      if (u == bad && ExportSpec.armed.getAndSet(false))
        throw new IllegalStateException("injected chunk failure")
      Thread.sleep(2)
      t
    }
    val src = pages.select($"url", text($"url", $"text").as("text"))
    val pred = length(col("text")) > 0
    val out = SparkTestSession.tmpDir("graft_export_fail")
    ExportSpec.armed.set(true)
    val e = intercept[Exception](
      Export.dumpFilter(spark, src, pred, out, chunks = 4))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("injected")), e)
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty,
      "a sibling chunk job outlived the failed export")
    assert(!IndexPaths.exists(spark, s"$out/manifest.json"))
    val ckpt = new graft.index.CheckpointStore(spark, out)
    val committed = ckpt.list().filter(_.status == "COMPLETE").map(_.unit)
    Thread.sleep(500) // nothing may commit after the call returned
    assert(ckpt.list().filter(_.status == "COMPLETE").map(_.unit).sorted ==
      committed.sorted)
    assert(committed.size < 4)
    // the source is fixed now (same plan, so the lineage holds):
    // committed chunks are skipped, the rest complete
    val res = Export.dumpFilter(spark, src, pred, out, chunks = 4)
    val want = pages.filter(pred).count()
    assert(res.skipped == committed.size && res.rows == want)
    assert(IndexPaths.exists(spark, s"$out/manifest.json"))
    assert(spark.read.parquet((0 until 4).map(c => s"$out/chunk=$c"): _*)
      .count() == want)
  }
}

object ExportSpec {
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
}
