package graft.index

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.data.PagesGen

/** Resume fixture (FIXTURES.md §6): a build that crashes after M of P
  * groups must, when resumed, (a) skip the completed groups and (b)
  * produce exactly the same segment content as an uninterrupted build.
  */
class ResumeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  val cfg = IndexBuilder.Config(numBuckets = 8, blockSize = 32,
    numGroups = 4, saltTarget = 400L, shufflePartitions = 6)

  private def segmentFingerprint(dir: String): Seq[String] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/segments")
      .as[SegmentBlock].collect()
      .map(b => s"${b.bucket}|${b.termHash}|${b.skey}|${b.blockId}|" +
        s"${b.n}|${b.firstDocId}|${b.lastDocId}|${b.maxTf}|${b.minDl}|" +
        s"${b.docIdsEnc.mkString(",")}|${b.tfsEnc.mkString(",")}|" +
        s"${b.posEnc.mkString(",")}")
      .sorted.toSeq
  }

  /** Every group checkpoint records its block count: together they
    * count the rows of `segments/`. */
  private def assertCheckpointsCountSegments(dir: String): Unit = {
    val recorded = new CheckpointStore(spark, dir).list()
      .filter(_.stage == "segments").map(_.rowCount).sum
    assert(recorded == IndexPaths.segments(spark, dir).count(), dir)
  }

  /** Crash `run` after each group in turn, then run it again with
    * `resume`, and check that no checkpoint committed before the crash
    * (the `frontHalf` stages and the completed groups) re-ran and that
    * the segments equal the clean run's. */
  private def crashMatrix(cleanDir: String, prefix: String,
                          frontHalf: Seq[String])(
                          run: (String, IndexBuilder.Config, Boolean) => Unit): Unit =
    (0 until cfg.numGroups).foreach { g =>
      val crashDir = SparkTestSession.tmpDir(s"${prefix}_crash$g")
      intercept[RuntimeException] {
        run(crashDir, cfg.copy(failAfterGroup = g), false)
      }
      // only groups 0..g committed
      val before = new CheckpointStore(spark, crashDir).list()
      assert(before.count(_.stage == "segments") == g + 1)
      frontHalf.foreach(st => assert(before.count(_.stage == st) == 1))

      run(crashDir, cfg, true)
      val after = new CheckpointStore(spark, crashDir).list()
      assert(after.count(_.stage == "segments") == cfg.numGroups)
      // completed groups and the whole front half must NOT re-run
      // (same finishedMs)
      val fAfter = after.map(c => (c.stage, c.unit) -> c.finishedMs).toMap
      before.foreach { c =>
        assert(fAfter((c.stage, c.unit)) == c.finishedMs,
          s"${c.stage}_${c.unit} re-ran on resume after group $g")
      }
      assert(segmentFingerprint(crashDir) == segmentFingerprint(cleanDir),
        s"resumed after group $g != uninterrupted")
      assertCheckpointsCountSegments(crashDir)
      assert(!IndexPaths.exists(spark, s"$crashDir/postings_staged"))
    }

  test("crash after any group, resume → identical segments") {
    val docs = DocIds.fromPages(PagesGen.pages(spark, 900L), 6)
    docs.cache().count()

    val cleanDir = SparkTestSession.tmpDir("graft_clean")
    IndexBuilder.build(docs, cleanDir, cfg, buildId = "clean")
    assertCheckpointsCountSegments(cleanDir)

    crashMatrix(cleanDir, "graft", Seq("stats", "postings")) { (dir, c, resume) =>
      IndexBuilder.build(docs, dir, c, buildId = "crash", resume = resume)
    }
  }

  test("fused single-group build == staged multi-group build, byte-identical") {
    // numGroups=1 skips the staged-postings parquet and encodes
    // straight from the posting stream; the segment CONTENT must be
    // exactly what the staged path produces — same blocks, same bytes
    // (block boundaries are a pure function of each skey's run).
    val docs = DocIds.fromPages(PagesGen.pages(spark, 700L), 6)
    docs.cache().count()
    val fusedDir = SparkTestSession.tmpDir("graft_fused")
    val stagedDir = SparkTestSession.tmpDir("graft_staged")
    val posCfg = cfg.copy(withPositions = true)
    IndexBuilder.build(docs, fusedDir, posCfg.copy(numGroups = 1), "f")
    IndexBuilder.build(docs, stagedDir, posCfg.copy(numGroups = 4), "s")
    assert(segmentFingerprint(fusedDir) == segmentFingerprint(stagedDir))
    // the fused path must have written no staging parquet at all
    assert(!IndexPaths.exists(spark, s"$fusedDir/postings_staged"))
    // the staged path committed "postings" with the posting count, and
    // its staging parquet is gone once every group committed
    val postingRows = IndexPaths.segments(spark, stagedDir)
      .agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0)
    assert(new CheckpointStore(spark, stagedDir).read("postings", 0)
      .map(_.rowCount).contains(postingRows))
    assert(!IndexPaths.exists(spark, s"$stagedDir/postings_staged"))
    // and both checkpoints exist so resume skips the fused build whole
    val ck = new CheckpointStore(spark, fusedDir)
    assert(ck.isComplete("postings", 0) && ck.isComplete("segments", 0))
    assertCheckpointsCountSegments(fusedDir)
  }

  test("a build routed to one group resumes at its stats and postings boundaries") {
    // 300 docs hold far fewer postings than the default salt run, so
    // numGroups 4 routes to one fused group. No term's df (at most 300)
    // reaches either salt target, so the staged 4-group build at
    // saltTarget 400 lays out the same blocks.
    val docs = DocIds.fromPages(PagesGen.pages(spark, 300L), 6)
    docs.cache().count()
    val routed = cfg.copy(saltTarget = IndexBuilder.Config().saltTarget)
    val stagedDir = SparkTestSession.tmpDir("graft_route_staged")
    IndexBuilder.build(docs, stagedDir, cfg, "s")
    assert(new CheckpointStore(spark, stagedDir).list()
      .count(_.stage == "segments") == cfg.numGroups)
    def stages(dir: String) =
      new CheckpointStore(spark, dir).list().map(c => (c.stage, c.unit)).toSet
    val all = Set(("stats", 0), ("segments", 0), ("postings", 0))

    // a crash after the "stats" commit, and one between the fused
    // segments and "postings" commits, leave exactly the checkpoints
    // committed before it (and a torn segments dir)
    Seq("stats" -> Seq("segments_0", "postings_0"), "segments" -> Seq("postings_0"))
      .foreach { case (at, lost) =>
        val dir = SparkTestSession.tmpDir(s"graft_route_crash_$at")
        IndexBuilder.build(docs, dir, routed, "r")
        lost.foreach(c => IndexPaths.delete(spark, s"$dir/_checkpoints/$c.json"))
        IndexPaths.delete(spark, s"$dir/segments/bucket=0")
        IndexBuilder.build(docs, dir, routed, "r", resume = true)
        assert(stages(dir) == all, at)
        assert(!IndexPaths.exists(spark, s"$dir/postings_staged"), at)
        assert(segmentFingerprint(dir) == segmentFingerprint(stagedDir),
          s"resumed after $at != the staged build")
        assertCheckpointsCountSegments(dir)
      }

    // after the "postings" commit the build is whole: a resume starts
    // no job at all, let alone an encode
    val dir = SparkTestSession.tmpDir("graft_route_done")
    IndexBuilder.build(docs, dir, routed, "r")
    val (_, jobs) = graft.query.ServeJobsSpec.jobsOf(spark)(
      IndexBuilder.build(docs, dir, routed, "r", resume = true))
    assert(jobs.isEmpty, jobs.mkString("\n", "\n", ""))
    assert(stages(dir) == all)
    assert(segmentFingerprint(dir) == segmentFingerprint(stagedDir))
    docs.unpersist()
  }

  test("compacting a base alone gives the base's own build back") {
    // one writer: a compaction of one generation re-derives exactly
    // what the build wrote — segments, dictionary, docs, norms, stats
    val posCfg = cfg.copy(withPositions = true)
    val baseDir = SparkTestSession.tmpDir("graft_parity_base")
    IndexBuilder.build(DocIds.fromPages(PagesGen.pages(spark, 600L), 4),
      baseDir, posCfg, "base")
    val outDir = SparkTestSession.tmpDir("graft_parity_out")
    val st = Compaction.compact(spark, Seq(baseDir), outDir, posCfg)
    assert(segmentFingerprint(outDir) == segmentFingerprint(baseDir))
    def rows[T](ds: org.apache.spark.sql.Dataset[T]) =
      ds.collect().map(_.toString).sorted.toSeq
    assert(rows(IndexPaths.terms(spark, outDir)) ==
      rows(IndexPaths.terms(spark, baseDir)))
    assert(rows(IndexPaths.docs(spark, outDir)) ==
      rows(IndexPaths.docs(spark, baseDir)))
    val base = IndexPaths.readStats(spark, baseDir)
    assert(st == base.copy(buildId = st.buildId))
    assert(IndexPaths.readStats(spark, outDir) == st)
    def norms(dir: String): Map[String, Seq[Byte]] = {
      val fs = IndexPaths.fs(spark, dir)
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/norms"))
        .map(_.getPath).filter(_.getName.matches("s\\d+\\.bin")).map { p =>
          val in = fs.open(p)
          try p.getName -> org.apache.commons.io.IOUtils.toByteArray(in).toSeq
          finally in.close()
        }.toMap
    }
    assert(norms(baseDir).nonEmpty && norms(outDir) == norms(baseDir))
    assertCheckpointsCountSegments(outDir)
  }

  test("recompacting DIFFERENT generations into a reused outDir recomputes") {
    import spark.implicits._
    val basePages = PagesGen.pages(spark, 400L)
    val d1Pages = spark.createDataset((0 until 80).map(i =>
      PagesGen.row(17L, 40000L + i)))
    val d2Pages = spark.createDataset((0 until 60).map(i =>
      PagesGen.row(19L, 50000L + i)))
    val baseDir = SparkTestSession.tmpDir("graft_lin_base")
    val d1Dir = SparkTestSession.tmpDir("graft_lin_d1")
    val d2Dir = SparkTestSession.tmpDir("graft_lin_d2")
    IndexBuilder.build(DocIds.fromPages(basePages, 4), baseDir, cfg, "b")
    Incremental.buildDelta(d1Pages, Seq(baseDir), d1Dir, cfg,
      useExtractor = false)
    Incremental.buildDelta(d2Pages, Seq(baseDir, d1Dir), d2Dir, cfg,
      useExtractor = false)

    val out = SparkTestSession.tmpDir("graft_lin_out")
    Compaction.compact(spark, Seq(baseDir, d1Dir), out, cfg)
    // resume=true default + COMPLETE checkpoints from the 2-gen run:
    // without lineage validation every stage would skip and d2's docs
    // would silently be missing from the "compacted" index
    val stats3 = Compaction.compact(spark,
      Seq(baseDir, d1Dir, d2Dir), out, cfg)
    val cleanDir = SparkTestSession.tmpDir("graft_lin_clean")
    val statsClean = Compaction.compact(spark,
      Seq(baseDir, d1Dir, d2Dir), cleanDir, cfg)
    assert(stats3.numDocs == statsClean.numDocs)
    assert(segmentFingerprint(out) == segmentFingerprint(cleanDir),
      "reused-outDir recompaction served stale artifacts")
  }

  test("compaction crash after any group, resume → identical segments") {
    val basePages = PagesGen.pages(spark, 500L)
    val deltaPages = {
      import spark.implicits._
      spark.createDataset((0 until 120).map(i =>
        PagesGen.row(13L, 30000L + i)))
    }
    val baseDir = SparkTestSession.tmpDir("graft_cres_base")
    val deltaDir = SparkTestSession.tmpDir("graft_cres_delta")
    IndexBuilder.build(DocIds.fromPages(basePages, 4), baseDir, cfg,
      "base")
    Incremental.buildDelta(deltaPages, Seq(baseDir), deltaDir, cfg,
      useExtractor = false)

    val cleanDir = SparkTestSession.tmpDir("graft_cres_clean")
    Compaction.compact(spark, Seq(baseDir, deltaDir), cleanDir, cfg)
    assertCheckpointsCountSegments(cleanDir)

    crashMatrix(cleanDir, "graft_cres", Seq("stats")) { (dir, c, _) =>
      Compaction.compact(spark, Seq(baseDir, deltaDir), dir, c)
    }

    // cache-vs-recompute knob: graft.compaction.cacheDecoded=false
    // re-decodes the posting stream per consumer instead of persisting
    // it for the run — output must be byte-identical to cached mode
    val recompDir = SparkTestSession.tmpDir("graft_cres_recomp")
    spark.conf.set("graft.compaction.cacheDecoded", "false")
    try Compaction.compact(spark, Seq(baseDir, deltaDir), recompDir, cfg)
    finally spark.conf.unset("graft.compaction.cacheDecoded")
    assert(segmentFingerprint(recompDir) == segmentFingerprint(cleanDir),
      "recompute-mode compaction != cached-mode compaction")
  }
}
