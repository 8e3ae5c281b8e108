package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.index.{IndexPaths, Norms, Tombstones}

/** Crash-injection matrix for the one commit protocol ([[Commit]]):
  * for `file`, `marked` and `publish`, a throw before the write,
  * mid-write (a partial tmp existed), after the parts but before the
  * marker, and a torn marker. Every case must leave the previous
  * committed state or a loud failure, and a rerun must reproduce a
  * clean run byte for byte.
  */
class CommitSpec extends AnyFunSuite {
  import CommitSpec.Boom
  lazy val spark = SparkTestSession.spark

  /** Every file under `dir` (relative name → bytes), checksums
    * excluded; asserts no tmp or build residue anywhere.
    */
  private def snapshot(dir: String): Map[String, Seq[Byte]] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) return Map.empty
    val files = Files.walk(root).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString)
      .filterNot(_.endsWith(".crc"))
    files.foreach(f => assert(!f.contains(".tmp.") && !f.contains("_build"),
      s"commit residue $f under $dir"))
    files.map(f => f -> Files.readAllBytes(root.resolve(f)).toSeq).toMap
  }

  private def read(path: String): String =
    new String(Files.readAllBytes(Paths.get(path)), UTF_8)

  /** A plain in-place write — what a crashed or non-atomic writer
    * leaves behind. */
  private def writeRaw(path: String, s: String): Unit = {
    val out = IndexPaths.fs(spark, path).create(new Path(path), true)
    try out.write(s.getBytes(UTF_8)) finally out.close()
  }

  private def commitFile(path: String)(write: java.io.OutputStream => Unit): Unit =
    Commit.file(IndexPaths.fs(spark, path), new Path(path))(write)

  // ------------------------------------------------------------- file

  test("file: every crash point keeps the previous bytes; rerun is exact") {
    val dir = SparkTestSession.tmpDir("graft_commit_file")
    val dst = s"$dir/stats.json"
    val clean = SparkTestSession.tmpDir("graft_commit_file_clean")
    IndexPaths.writeString(spark, s"$clean/stats.json", """{"v":2}""")
    IndexPaths.writeString(spark, dst, """{"v":1}""")
    val crashes: Seq[(String, java.io.OutputStream => Unit)] = Seq(
      "before-write" -> (_ => throw Boom("before-write")),
      "mid-write" -> { out =>
        out.write("""{"v":""".getBytes(UTF_8)); out.flush()
        throw Boom("mid-write")
      })
    crashes.foreach { case (at, w) =>
      assert(intercept[Boom](commitFile(dst)(w)).at == at)
      assert(read(dst) == """{"v":1}""", s"$at tore the committed file")
      snapshot(dir) // the failed attempt removed its tmp
    }
    // a writer killed after its bytes but before its rename leaves a
    // full tmp beside the file: invisible to readers, and harmless to
    // the next commit
    writeRaw(s"$dir/.stats.json.tmp.p999_1", """{"v":9}""")
    assert(read(dst) == """{"v":1}""")
    // a torn destination (a non-atomic writer died mid-file) is
    // replaced whole
    writeRaw(dst, """{"v""")
    IndexPaths.writeString(spark, dst, """{"v":2}""")
    IndexPaths.delete(spark, s"$dir/.stats.json.tmp.p999_1")
    assert(snapshot(dir) == snapshot(clean))
  }

  // ----------------------------------------------------------- marked

  /** A two-part output with a marker naming its parts. */
  private def writeParts(dir: String, crashAt: Option[String]): Seq[String] =
    Commit.marked(spark, s"$dir/_complete") {
      if (crashAt.contains("before-write")) throw Boom("before-write")
      commitFile(s"$dir/p0.bin")(_.write(Array[Byte](1, 2, 3)))
      if (crashAt.contains("mid-write")) {
        commitFile(s"$dir/p1.bin") { out =>
          out.write(Array[Byte](4)); throw Boom("mid-write")
        }
      }
      commitFile(s"$dir/p1.bin")(_.write(Array[Byte](4, 5, 6)))
      Seq("p0.bin", "p1.bin")
    } { parts =>
      if (crashAt.contains("after-parts")) throw Boom("after-parts")
      parts.mkString("""{"parts":[""", ",", "]}")
    }

  test("marked: a crash at any point retracts the marker; rerun is exact") {
    val clean = SparkTestSession.tmpDir("graft_commit_marked_clean")
    writeParts(clean, None)
    val want = snapshot(clean)
    assert(want.keySet == Set("_complete", "p0.bin", "p1.bin"))
    Seq("before-write", "mid-write", "after-parts").foreach { at =>
      val dir = SparkTestSession.tmpDir(s"graft_commit_marked_$at")
      writeParts(dir, None) // a previous committed run into a reused dir
      assert(intercept[Boom](writeParts(dir, Some(at))).at == at)
      assert(!new java.io.File(s"$dir/_complete").exists,
        s"$at left a marker over a partial rewrite")
      writeParts(dir, None)
      assert(snapshot(dir) == want, s"rerun after $at")
    }
    // torn marker and a dead writer's tmp: the rerun clears both
    val dir = SparkTestSession.tmpDir("graft_commit_marked_torn")
    writeParts(dir, None)
    writeRaw(s"$dir/_complete", """{"parts":["p0""")
    writeRaw(s"$dir/.p1.bin.tmp.a77", "partial")
    writeParts(dir, None)
    assert(snapshot(dir) == want)
  }

  test("Norms reader refuses a sidecar whose job died before _complete") {
    import spark.implicits._
    val rows = (0L until 50L).map(d => (d, (d % 7).toInt + 1))
    val clean = SparkTestSession.tmpDir("graft_commit_norms_clean")
    Norms.write(rows.toDS(), clean)
    val dir = SparkTestSession.tmpDir("graft_commit_norms")
    Norms.write(rows.toDS(), dir)
    val reader = () => new Norms.Reader(Array(Norms.GenMeta(dir, 0L, 49L)),
      new Norms.SerConf(spark.sparkContext.hadoopConfiguration))
    assert(reader().dl(10L) == 4L)
    // the rewrite dies inside its stride job: the old marker is gone,
    // so the reader fails loudly instead of serving mixed strides
    val boom = org.apache.spark.sql.functions.udf { (d: Long) =>
      if (d == 33L) throw Boom("mid-job") else d
    }
    val failing = rows.toDF("d", "dl")
      .select(boom($"d"), $"dl").as[(Long, Int)]
    intercept[Exception](Norms.write(failing, dir))
    val e = intercept[IllegalArgumentException](reader().dl(10L))
    assert(e.getMessage.contains("no commit marker"))
    Norms.write(rows.toDS(), dir)
    assert(reader().dl(10L) == 4L)
    assert(snapshot(dir) == snapshot(clean))
  }

  test("a torn tombstone manifest fails loudly, never as fewer tombstones") {
    import spark.implicits._
    val ids = Seq(3L, (1L << 20) + 5, (1L << 21) + 9)
    val clean = SparkTestSession.tmpDir("graft_commit_tomb_clean")
    Tombstones.write(ids.toDS(), clean)
    val dir = SparkTestSession.tmpDir("graft_commit_tomb")
    Tombstones.write(ids.toDS(), dir)
    assert(Tombstones.readManifest(spark, dir).map(m => (m._1, m._2.toSeq))
      .contains((3L, Seq(0L, 1L, 2L))))
    val manifest = s"${Tombstones.dirOf(dir)}/manifest.json"
    Seq("""{"count":12,"strides":[3,4""", """{"count":""", "").foreach { torn =>
      writeRaw(manifest, torn)
      intercept[IllegalStateException](Tombstones.readManifest(spark, dir))
      intercept[IllegalStateException](Tombstones.maskFor(spark, Seq(dir)))
    }
    Tombstones.write(ids.toDS(), dir)
    assert(snapshot(dir) == snapshot(clean))
  }

  // ---------------------------------------------------------- publish

  private def build(crashAt: Option[String], lineage: String)(tmp: String): Unit = {
    if (crashAt.contains("before-write")) throw Boom("before-write")
    commitFile(s"$tmp/part/a.bin")(_.write(Array[Byte](7, 8)))
    if (crashAt.contains("mid-write")) throw Boom("mid-write")
    commitFile(s"$tmp/part/b.bin")(_.write(Array[Byte](9)))
    if (crashAt.contains("after-parts")) return
    val stats = s"""{"kind":"t","lineage":"$lineage"}"""
    IndexPaths.writeString(spark, s"$tmp/stats.json",
      if (crashAt.contains("torn-marker")) stats.take(20) else stats)
  }

  test("publish: a failed build keeps the previous artifact; rerun is exact") {
    val root = SparkTestSession.tmpDir("graft_commit_publish")
    val clean = s"$root/clean"
    Commit.publish(spark, clean, "stats.json", "L2")(build(None, "L2"))
    val want = snapshot(clean)
    Seq("before-write", "mid-write", "after-parts", "torn-marker").foreach { at =>
      val dir = s"$root/a_$at"
      Commit.publish(spark, dir, "stats.json", "L1")(build(None, "L1"))
      val before = snapshot(dir)
      val e = intercept[Exception](
        Commit.publish(spark, dir, "stats.json", "L2")(build(Some(at), "L2")))
      assert(e.isInstanceOf[Boom] || e.isInstanceOf[java.io.IOException], at)
      assert(snapshot(dir) == before, s"$at replaced the committed artifact")
      assert(!Commit.committed(spark, s"$dir/stats.json", "L2"))
      snapshot(root) // no _build residue
      Commit.publish(spark, dir, "stats.json", "L2")(build(None, "L2"))
      assert(snapshot(dir) == want, s"rerun after $at")
    }
    // committed + memoized: a second publish never rebuilds
    Commit.publish(spark, clean, "stats.json", "L2")(_ => fail("rebuilt"))
  }

  test("sweep: aged siblings go, live-pid builds and kept names stay") {
    val root = SparkTestSession.tmpDir("graft_commit_sweep")
    val now = System.currentTimeMillis()
    val old = now - Commit.Ttl - 60000L
    val fs = IndexPaths.fs(spark, root)
    def mk(name: String, marker: Boolean, mtime: Long): Unit = {
      val d = new Path(s"$root/$name")
      fs.mkdirs(d)
      if (marker) {
        IndexPaths.writeString(spark, s"$d/m.json", "{}")
        fs.setTimes(new Path(d, "m.json"), mtime, -1)
      }
      fs.setTimes(d, mtime, -1)
    }
    val self = ProcessHandle.current().pid()
    mk("aged", marker = true, old)
    mk("aged_unmarked", marker = false, old)
    mk("fresh", marker = true, now)
    mk("kept", marker = true, old)
    mk(s"x_build$self", marker = false, old)
    mk("x_build999999999", marker = false, old)
    val gone = Commit.sweep(spark, root, "m.json", keep = Set("kept"))
      .map(p => new Path(p).getName).sorted
    assert(gone == Seq("aged", "aged_unmarked", "x_build999999999"))
    // a touch is a use: the marker's mtime, not the dir's, is the age
    mk("used", marker = true, old)
    assert(Commit.touch(spark, s"$root/used/m.json"))
    assert(!Commit.touch(spark, s"$root/missing/m.json"))
    assert(Commit.sweep(spark, root, "m.json", keep = Set("kept")).isEmpty)
    IndexPaths.delete(spark, root)
  }
}

object CommitSpec {
  case class Boom(at: String) extends RuntimeException(s"injected at $at")
}
