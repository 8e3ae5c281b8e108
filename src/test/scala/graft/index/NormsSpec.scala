package graft.index

import java.nio.ByteBuffer
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestSession
import graft.data.PagesGen

/** The norms sidecar is sized to the generation: each stride file holds
  * an 8-byte header and 4 B per docId of the window its generation
  * wrote, never a padded 2^20-slot stride.
  */
class NormsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def conf = new Norms.SerConf(spark.sparkContext.hadoopConfiguration)

  private def reader(dir: String, lo: Long, hi: Long) =
    new Norms.Reader(Array(Norms.GenMeta(dir, lo, hi)), conf)

  /** (lo offset in the stride, dl values) of one stride file. */
  private def window(dir: String, sid: Long): (Int, Seq[Int]) = {
    val b = ByteBuffer.wrap(Files.readAllBytes(Paths.get(Norms.filePath(dir, sid))))
    assert(b.getInt(0) == Norms.Magic)
    (b.getInt(4), (Norms.HeaderBytes until b.capacity by 4).map(b.getInt))
  }

  /** Bytes of the stride files under `<dir>/norms`: no marker, no .crc. */
  private def strideBytes(dir: String): Long =
    new java.io.File(s"$dir/norms").listFiles()
      .filter(f => f.getName.startsWith("s") && f.getName.endsWith(".bin"))
      .map(_.length).sum

  test("a window crossing a stride boundary writes two exact windows") {
    import spark.implicits._
    val first = Norms.Stride - 30
    val rows = (first to Norms.Stride + 24).map(d => (d, (d % 11).toInt + 1))
    val dir = SparkTestSession.tmpDir("graft_norms_cross")
    Norms.write(rows.toDS(), dir)
    assert(window(dir, 0L) == ((Norms.Stride - 30).toInt, rows.take(30).map(_._2)))
    assert(window(dir, 1L) == ((0, rows.drop(30).map(_._2))))
    assert(strideBytes(dir) == 2 * Norms.HeaderBytes + 4 * rows.size)
    val r = reader(dir, first, Norms.Stride + 24)
    rows.foreach { case (d, dl) => assert(r.dl(d) == dl, s"docId $d") }
  }

  test("zero-token docs at the edges and inside a window read as 0") {
    import spark.implicits._
    // dl=0 rows at both edges (compaction writes every doc) and docIds
    // with no row inside (a build writes only docs with tokens)
    val rows = Seq((100L, 0), (101L, 7), (103L, 0), (105L, 3), (108L, 0))
    val dir = SparkTestSession.tmpDir("graft_norms_zero")
    Norms.write(rows.toDS(), dir)
    assert(window(dir, 0L) == ((100, Seq(0, 7, 0, 0, 0, 3, 0, 0, 0))))
    val r = reader(dir, 100L, 108L)
    assert((100L to 108L).map(r.dl) == Seq(0, 7, 0, 0, 0, 3, 0, 0, 0))
  }

  test("an out-of-window read and a headerless stride fail loudly") {
    import spark.implicits._
    val dir = SparkTestSession.tmpDir("graft_norms_window")
    Norms.write(Seq((10L, 4), (11L, 5)).toDS(), dir)
    // the generation's range is wider than the window its rows wrote
    val r = reader(dir, 0L, 20L)
    assert(r.dl(11L) == 5L)
    Seq(9L, 12L).foreach { d =>
      val e = intercept[IllegalArgumentException](r.dl(d))
      assert(e.getMessage.contains("outside the norms window"), e.getMessage)
    }
    // a committed sidecar of the padded layout: 2^20 slots, no header
    Files.write(Paths.get(Norms.filePath(dir, 0L)), new Array[Byte](4 << 20))
    Files.delete(Paths.get(s"$dir/norms/.s0.bin.crc"))
    val e = intercept[IllegalArgumentException](reader(dir, 0L, 20L).dl(10L))
    assert(e.getMessage.contains("no window header"), e.getMessage)
    assert(e.getMessage.contains("rebuild the index"), e.getMessage)
  }

  // a 400-doc base, a 100-doc delta above it, and their compaction
  private lazy val gens = {
    import spark.implicits._
    val cfg = IndexBuilder.Config(numBuckets = 4, blockSize = 32,
      numGroups = 1, saltTarget = 300L, shufflePartitions = 4)
    val all = PagesGen.pages(spark, 500L).cache()
    val cutoff = new java.sql.Timestamp(PagesGen.Epoch + 399L * 37000L)
    val base = SparkTestSession.tmpDir("graft_norms_base")
    val delta = SparkTestSession.tmpDir("graft_norms_delta")
    val comp = SparkTestSession.tmpDir("graft_norms_comp")
    IndexBuilder.build(DocIds.fromPages(all.filter($"warc_ts" <= lit(cutoff)), 4),
      base, cfg, "base")
    Incremental.buildDelta(all.filter($"warc_ts" > lit(cutoff)), Seq(base),
      delta, cfg, useExtractor = false)
    Compaction.compact(spark, Seq(base, delta), comp, cfg)
    all.unpersist()
    (base, delta, comp)
  }

  test("a base + delta Reader serves the docs meta dl of every posted doc") {
    val (base, delta, _) = gens
    val dirs = Seq(base, delta)
    val metas = dirs.map { d =>
      val st = IndexPaths.readStats(spark, d)
      Norms.GenMeta(d, st.minDocId, st.maxDocId)
    }
    val r = new Norms.Reader(metas.toArray, conf)
    val posted = dirs.flatMap(d => IndexPaths.docs(spark, d)
      .filter(col("dl") > 0).collect())
    assert(posted.size == 500)
    posted.foreach(m => assert(r.dl(m.docId) == m.dl, s"docId ${m.docId}"))
  }

  test("norms bytes grow with docs, not strides") {
    val (base, delta, comp) = gens
    Seq(base -> 400L, delta -> 100L, comp -> 500L).foreach { case (d, n) =>
      assert(IndexPaths.readStats(spark, d).numDocs == n)
      assert(new java.io.File(s"$d/norms/_complete").isFile, d)
      assert(strideBytes(d) == Norms.HeaderBytes + 4 * n, d)
    }
  }
}
