package graft.index

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.data.PagesGen

/** A generation's `docs/` and `norms/` are a pure function of its rows:
  * the docs write splits on docId analytically, so the same inputs
  * give the same files, byte for byte, whatever else runs beside the
  * write. Parquet part names carry a per-write id, so files are matched
  * by their partition index (`part-<index>-…`), not their names.
  */
class DeterminismSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  val cfg = IndexBuilder.Config(numBuckets = 8, blockSize = 32,
    numGroups = 4, saltTarget = 400L, shufflePartitions = 6)

  /** (partition index or file name, bytes) of every data file under
    * `dir/sub`: no checksum, no `_SUCCESS`. */
  private def files(dir: String, sub: String): Seq[(String, Seq[Byte])] = {
    val root = Paths.get(s"$dir/$sub")
    Files.list(root).toArray.map(_.asInstanceOf[Path])
      .map(_.getFileName.toString)
      .filterNot(n => n.startsWith(".") || n == "_SUCCESS")
      .map { n =>
        val key = if (n.startsWith("part-")) n.split('-')(1) else n
        key -> Files.readAllBytes(root.resolve(n)).toSeq
      }.sortBy(_._1).toSeq
  }

  private lazy val base = {
    val dir = SparkTestSession.tmpDir("graft_det_base")
    IndexBuilder.build(DocIds.fromPages(PagesGen.pages(spark, 900L), 6), dir, cfg, "base")
    dir
  }

  /** 100 new pages and 30 re-crawls of base pages. */
  private def deltaPages = {
    import spark.implicits._
    val recrawled = (0L until 30L).map(i => PagesGen.row(PagesGen.DefaultSeed, i * 7))
      .map(p => p.copy(text = s"${p.text} zzdet",
        warc_ts = new java.sql.Timestamp(p.warc_ts.getTime + 86400000L)))
    ((0L until 100L).map(i => PagesGen.row(23L, 60000L + i)) ++ recrawled).toDS()
  }

  test("the same delta built twice has identical docs and norms bytes") {
    val dirs = (1 to 2).map { i =>
      val dir = SparkTestSession.tmpDir(s"graft_det_delta$i")
      Incremental.buildDelta(deltaPages, Seq(base), dir, cfg,
        useExtractor = false, allowRecrawl = true)
      dir
    }
    Seq("docs", "norms").foreach { sub =>
      val first = files(dirs.head, sub)
      assert(first.nonEmpty, sub)
      assert(files(dirs(1), sub) == first, s"$sub differs between two builds")
    }
  }

  test("a base + delta compaction run three times has identical docs bytes") {
    val delta = SparkTestSession.tmpDir("graft_det_cdelta")
    Incremental.buildDelta(deltaPages, Seq(base), delta, cfg,
      useExtractor = false, allowRecrawl = true)
    val outs = (1 to 3).map { i =>
      val out = SparkTestSession.tmpDir(s"graft_det_comp$i")
      Compaction.compact(spark, Seq(base, delta), out, cfg)
      out
    }
    assert(IndexPaths.readStats(spark, outs.head).numDocs >= 1000L)
    Seq("docs", "norms").foreach { sub =>
      val first = files(outs.head, sub)
      outs.tail.foreach(o =>
        assert(files(o, sub) == first, s"$sub differs between compactions"))
    }
  }
}
