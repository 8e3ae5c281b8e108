package graft

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.spark.TaskContext
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.data.PagesGen
import graft.index.{DocIds, IndexBuilder, IndexPaths, SegmentBlock}

/** The index build's concurrent writes stand or fall together: one
  * failure cancels the rest, no write outlives the failed build, and a
  * rerun produces exactly the segments of an uninterrupted build.
  */
class JobsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def segmentFingerprint(dir: String): Seq[String] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/segments").as[SegmentBlock].collect()
      .map(b => s"${b.bucket}|${b.termHash}|${b.skey}|${b.blockId}|${b.n}|" +
        s"${b.docIdsEnc.mkString(",")}|${b.tfsEnc.mkString(",")}|" +
        s"${b.posEnc.mkString(",")}")
      .sorted.toSeq
  }

  /** Files under `dir` outside task-attempt scratch: Spark kills a
    * cancelled job's tasks asynchronously, so one may still write its
    * `_temporary` attempt file (never committed) after the job ended. */
  private def files(dir: String): Seq[String] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) Seq.empty
    else java.nio.file.Files.walk(root).toArray.map(_.toString)
      .filterNot(_.contains("/_temporary")).sorted.toSeq
  }

  test("a failed concurrent build job leaves no job running; a rerun is exact") {
    import spark.implicits._
    val cfg = IndexBuilder.Config(numBuckets = 4, blockSize = 32, numGroups = 1)
    val docs = DocIds.fromPages(PagesGen.pages(spark, 800L), 4)
    val cleanDir = SparkTestSession.tmpDir("graft_jobs_clean")
    IndexBuilder.build(docs, cleanDir, cfg)

    // the url column is read by the tokenize pass (which fills the tf
    // cache) and again by the docs-meta write, one of the four
    // concurrent jobs: the first later stage that reads it throws once
    val url = udf { (u: String) =>
      val st = TaskContext.get.stageId
      JobsSpec.firstStage.compareAndSet(-1, st)
      if (st != JobsSpec.firstStage.get && JobsSpec.armed.getAndSet(false))
        throw new IllegalStateException("injected build failure")
      u
    }
    val failing = docs.withColumn("url", url($"url")).as[graft.index.Doc]
    val dir = SparkTestSession.tmpDir("graft_jobs_fail")
    JobsSpec.firstStage.set(-1)
    JobsSpec.armed.set(true)
    val e = intercept[Exception](IndexBuilder.build(failing, dir, cfg))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("injected")), e)
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty,
      "a sibling build job outlived the failed build")
    assert(!IndexPaths.exists(spark, s"$dir/stats.json"))
    // the postings write (the longest of the four) was cancelled, not
    // left to finish into outDir
    assert(!IndexPaths.exists(spark, s"$dir/segments/_SUCCESS"))
    val left = files(dir)
    Thread.sleep(500) // nothing may commit after the call returned
    assert(files(dir) == left)

    IndexBuilder.build(docs, dir, cfg, resume = true)
    assert(segmentFingerprint(dir) == segmentFingerprint(cleanDir))
    assert(spark.read.parquet(s"$dir/docs").count() == 800L)
  }

  test("no task-attempt file appears after a failed build returns") {
    import spark.implicits._
    val cfg = IndexBuilder.Config(numBuckets = 4, blockSize = 32, numGroups = 1)
    val docs = DocIds.fromPages(PagesGen.pages(spark, 800L), 4)
    // as above: the docs-meta write fails while its siblings run
    val url = udf { (u: String) =>
      val st = TaskContext.get.stageId
      JobsSpec.firstStage.compareAndSet(-1, st)
      if (st != JobsSpec.firstStage.get && JobsSpec.armed.getAndSet(false))
        throw new IllegalStateException("injected build failure")
      u
    }
    val failing = docs.withColumn("url", url($"url")).as[graft.index.Doc]
    val dir = SparkTestSession.tmpDir("graft_jobs_attempts")
    // every path under dir, task-attempt scratch included
    def all(): Seq[String] = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .toArray.map(_.toString).sorted.toSeq
    JobsSpec.firstStage.set(-1)
    JobsSpec.armed.set(true)
    intercept[Exception](IndexBuilder.build(failing, dir, cfg))
    val left = all()
    Thread.sleep(1000)
    val late = all().filterNot(left.toSet)
    assert(late.isEmpty, late.mkString("written after return:\n", "\n", ""))
  }
}

object JobsSpec {
  val armed = new AtomicBoolean(false)
  val firstStage = new AtomicInteger(-1)
}
