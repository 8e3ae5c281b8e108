package graft.index

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.data.PagesGen
import graft.query.ServeJobsSpec
import graft.query.ServeJobsSpec.{Cfg, Seed, jobsOf}

/** The generation writer's Spark job budget, on the serve fixture's
  * base and deltas: a build, a delta and a compaction each start at
  * most as many jobs as they do since norms are written inside the
  * docs job and the docs split needs no sampling job (18, 14, 29 and
  * 18 jobs; 22, 18, 33 and 23 before). A generation small enough for
  * one salt run is one fused pass at the default layout. A job more is
  * plumbing cost a generation pays at every scale.
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
    Seq(("staged build", staged, 18), ("fused build", fused, 14),
      ("delta", delta, 29), ("compaction", compaction, 18)).foreach {
      case (what, jobs, budget) => withinBudget(what, jobs, budget)
    }
  }

  test("at the default salt target a small build and delta are one fused pass") {
    import spark.implicits._
    // numGroups 4 is only the ceiling: 300 pages hold far fewer postings
    // than one salt run (250 000), so both take one group
    val cfg = Cfg.copy(numGroups = 4, saltTarget = IndexBuilder.Config().saltTarget)
    val pages = (0L until 300L).map(PagesGen.row(Seed, _))
    val docs = DocIds.fromPages(pages.toDS(), 4)
    docs.count()
    val base = SparkTestSession.tmpDir("graft_jobs_routed_base")
    val (_, build) = jobsOf(spark)(IndexBuilder.build(docs, base, cfg))
    docs.unpersist()
    val changed = (0L until 20L).map(i => PagesGen.row(Seed + 9, 9000L + i)) ++
      pages.take(5).map(p => p.copy(text = s"${p.text} zzdelta9",
        warc_ts = new java.sql.Timestamp(p.warc_ts.getTime + 9 * 86400000L)))
    val delta = SparkTestSession.tmpDir("graft_jobs_routed_delta")
    val (_, deltaJobs) = jobsOf(spark)(Incremental.buildDelta(changed.toDS(),
      Seq(base), delta, cfg, useExtractor = false, allowRecrawl = true))
    Seq(("routed build", base, build, 14), ("routed delta", delta, deltaJobs, 25))
      .foreach { case (what, dir, jobs, budget) =>
        assert(!IndexPaths.exists(spark, s"$dir/postings_staged"), what)
        val ck = new CheckpointStore(spark, dir).list()
        assert(ck.filter(_.stage == "segments").map(_.unit) == Seq(0), what)
        assert(!jobs.exists(_.contains("Norms.scala")),
          s"$what: ${jobs.mkString("\n", "\n", "")}")
        withinBudget(what, jobs, budget)
      }
  }

  private def withinBudget(what: String, jobs: Seq[String], budget: Int): Unit = {
    info(s"$what: ${jobs.size} jobs (budget $budget)")
    assert(jobs.size <= budget, s"$what: ${jobs.mkString("\n", "\n", "")}")
  }
}
