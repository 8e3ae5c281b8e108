package graft.index

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.data.PagesGen
import graft.query.ServeJobsSpec
import graft.query.ServeJobsSpec.{Cfg, Seed, jobsOf}

/** The generation writer's Spark job budget, on the serve fixture's
  * base and deltas: a build, a delta and a compaction each start at
  * most as many jobs as they did when build and compaction each had
  * their own copy of the writer (23, 19, 34 and 23 jobs). A job more
  * is plumbing cost a generation pays at every scale.
  */
class WriterJobsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("a build, a delta and a compaction stay within their job budgets") {
    import spark.implicits._
    val f = ServeJobsSpec.fixture(spark)
    val pages = (0L until 300L).map(PagesGen.row(Seed, _))
    val docs = DocIds.fromPages(pages.toDS(), 4)
    docs.count()
    val (_, staged) = jobsOf(spark)(IndexBuilder.build(docs,
      SparkTestSession.tmpDir("graft_jobs_staged"), Cfg))
    val (_, fused) = jobsOf(spark)(IndexBuilder.build(docs,
      SparkTestSession.tmpDir("graft_jobs_fused"), Cfg.copy(numGroups = 1)))
    docs.unpersist()
    // new pages plus a re-crawl of base pages, over every generation
    val changed = (0L until 20L).map(i => PagesGen.row(Seed + 9, 9000L + i)) ++
      pages.take(5).map(p => p.copy(text = s"${p.text} zzdelta9",
        warc_ts = new java.sql.Timestamp(p.warc_ts.getTime + 9 * 86400000L)))
    val (_, delta) = jobsOf(spark)(Incremental.buildDelta(changed.toDS(), f.dirs,
      SparkTestSession.tmpDir("graft_jobs_delta"), Cfg, useExtractor = false,
      allowRecrawl = true))
    val (_, compaction) = jobsOf(spark)(Compaction.compact(spark, f.dirs,
      SparkTestSession.tmpDir("graft_jobs_compact"), Cfg))
    Seq(("staged build", staged, 23), ("fused build", fused, 19),
      ("delta", delta, 34), ("compaction", compaction, 23)).foreach {
      case (what, jobs, budget) =>
        info(s"$what: ${jobs.size} jobs (budget $budget)")
        assert(jobs.size <= budget, s"$what: ${jobs.mkString("\n", "\n", "")}")
    }
  }
}
