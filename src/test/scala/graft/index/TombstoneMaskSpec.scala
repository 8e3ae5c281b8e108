package graft.index

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.data.PagesGen
import graft.query.{QuerySpec, Searcher, ServeJobsSpec}

/** The serve-path tombstone mask below the broadcast threshold is read
  * from the committed strided sidecar on the driver, and equals the
  * tombstoned docIds `buildDelta` wrote. The sidecar is the only
  * at-rest form: a generation holding the retired parquet form but no
  * manifest is refused.
  */
class TombstoneMaskSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def setOf(m: Tombstones.Mask): Set[Long] = m match {
    case Tombstones.SetMask(ids) => ids
    case other => fail(s"expected a SetMask, got $other")
  }

  test("the job-free SetMask equals the parquet set, a url re-crawled twice included") {
    val f = ServeJobsSpec.fixture(spark)
    val rows = f.dirs.flatMap(Incremental.readTombstones(spark, _))
    assert(rows.size > rows.distinct.size, "no docId tombstoned twice")
    val (mask, jobs) = ServeJobsSpec.jobsOf(spark)(Tombstones.maskFor(spark, f.dirs))
    assert(jobs.isEmpty, s"maskFor started jobs: $jobs")
    assert(setOf(mask) == rows.toSet && rows.toSet == f.dead)
  }

  test("readTombstones and the manifest count start no Spark job") {
    val f = ServeJobsSpec.fixture(spark)
    val ((rows, counts), jobs) = ServeJobsSpec.jobsOf(spark)(
      (f.dirs.flatMap(Incremental.readTombstones(spark, _)),
        f.dirs.map(Tombstones.count(spark, _))))
    assert(jobs.isEmpty, s"tombstone readers started jobs: $jobs")
    assert(counts.sum == rows.size && rows.toSet == f.dead)
  }

  test("a generation with tombstone parquet but no manifest is refused") {
    import spark.implicits._
    val legacy = SparkTestSession.tmpDir("graft_mask_legacy")
    Seq(5L, 9L).toDF("docId").write.parquet(s"$legacy/tombstones")
    Seq[() => Any](() => Tombstones.maskFor(spark, Seq(legacy)),
      () => Incremental.readTombstones(spark, legacy),
      () => Tombstones.count(spark, legacy)).foreach { read =>
      val e = intercept[IllegalStateException](read())
      assert(e.getMessage.contains("Tombstones.write"))
    }
  }

  test("a torn manifest still throws, parquet present or not") {
    import spark.implicits._
    val dir = SparkTestSession.tmpDir("graft_mask_torn")
    Seq(5L, 9L).toDF("docId").write.parquet(s"$dir/tombstones")
    Tombstones.write(Seq(5L, 9L).toDS(), dir)
    IndexPaths.writeString(spark, s"${Tombstones.dirOf(dir)}/manifest.json",
      """{"count":2,"strides":[0""")
    intercept[IllegalStateException](Tombstones.maskFor(spark, Seq(dir)))
  }

  test("a tombstone set rewritten into the same directory is seen by the next query") {
    import spark.implicits._
    val dir = SparkTestSession.tmpDir("graft_mask_rewrite")
    IndexBuilder.build(DocIds.fromPages(PagesGen.pages(spark, 200L), 4), dir,
      IndexBuilder.Config(numBuckets = 4, blockSize = 32, numGroups = 1))
    val q = Seq(QuerySpec(0L, "term000002 term000007"))
    def top() = Searcher.searchMulti(spark, Seq(dir), q, 10, numRanges = 4)
      .collect().sortBy(_.rank).map(_.docId).toSeq
    def tombstone(ids: Seq[Long]): Unit = Tombstones.write(ids.toDS(), dir)
    val open = top()
    val (a, b) = (open.take(3), open.slice(3, 6))
    tombstone(a)
    val maskedA = top()
    assert(a.forall(!maskedA.contains(_)) && b.forall(maskedA.contains))
    tombstone(b)
    val maskedB = top()
    assert(b.forall(!maskedB.contains(_)) && a.forall(maskedB.contains))
  }
}
