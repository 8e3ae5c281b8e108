package graft

import org.scalatest.funsuite.AnyFunSuite

/** One mechanism per concern in the engine sources. Durable outputs
  * commit through [[Commit]] only: a rename, an mtime refresh or a TTL
  * literal anywhere else is a second commit protocol growing beside it.
  * Shuffle widths are set through [[Adaptive]] only: a session setting
  * written anywhere else mutates a session other operators share.
  * Index artifacts are read through [[graft.index.IndexPaths]] only: an
  * untyped read of one starts a schema-inference job on every call.
  * Norms are sized to the generation's docId window: a buffer of a
  * whole stride (`Stride * 4` bytes) is the 4 MB padding coming back.
  * Tombstones rest in one form, the strided sidecar: a `tombstones/`
  * parquet path outside [[graft.index.Tombstones]] (which refuses the
  * retired form) is the second copy coming back.
  * An index generation is written by [[graft.index.Generation]] only:
  * a salt key built, or a generation's docs, terms or segments written,
  * anywhere else is a second generation writer drifting from the first.
  * A docId split in the index package is analytic (docIds are dense):
  * a range sample outside [[graft.index.DocIds]] (the url rank) is a
  * job bought for nothing, and norms ride the docs job, so a
  * `groupByKey` in `Norms.scala` is their old shuffle coming back.
  * [[graft.query.Searcher]] serves every entry point through one view:
  * a second segment scan or live-generation filter there is a second
  * copy of the serve plumbing drifting from the first.
  */
class SourceGuardSpec extends AnyFunSuite {

  /** Lines of `src/main/scala` outside `allowedIn` containing a banned string. */
  private def hits(banned: Seq[String], allowedIn: String): Seq[String] =
    hitsWhere(allowedIn)(l => banned.exists(l.contains))

  /** Lines of `src/main/scala` outside `allowedIn` that `bad` accepts. */
  private def hitsWhere(allowedIn: String)(bad: String => Boolean): Seq[String] = {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root")
    java.nio.file.Files.walk(root).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != allowedIn)
      .flatMap { p =>
        val lines = java.nio.file.Files.readAllLines(p).toArray.map(_.toString)
        lines.zipWithIndex.collect {
          case (l, i) if bad(l) => s"$p:${i + 1}: ${l.trim}"
        }
      }.toSeq
  }

  test("rename, setTimes and TTL literals appear only in Commit.scala") {
    val found = hits(Seq(".rename(", "setTimes(", "3600 * 1000"), "Commit.scala")
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("session settings are written only in Adaptive.scala") {
    val found = hits(Seq("conf.set(", "GRAFT_SESS_SHUFFLE"), "Adaptive.scala")
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("index artifacts are read only through IndexPaths") {
    val artifactRead = """read\.parquet\(.*/(segments|terms|docs|tombstones)"""".r
    val found = hitsWhere("IndexPaths.scala")(artifactRead.findFirstIn(_).nonEmpty)
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("tombstone parquet paths appear only in Tombstones.scala") {
    val found = hits(Seq("/tombstones\""), "Tombstones.scala")
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("the salt key is built only in Generation.scala") {
    val saltKey = """concat\(.*lit\("#"\)""".r
    val found = hitsWhere("Generation.scala")(saltKey.findFirstIn(_).nonEmpty)
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
    val writer = java.nio.file.Paths.get("src/main/scala/graft/index/Generation.scala")
    assert(java.nio.file.Files.readAllLines(writer).toArray
      .count(l => saltKey.findFirstIn(l.toString).nonEmpty) == 1)
  }

  test("a generation's docs, terms and segments are written only in Generation.scala") {
    val artifactWrite = """\.parquet\(s?"[^"]*/(segments|terms|docs)"""".r
    val found = hitsWhere("Generation.scala")(artifactWrite.findFirstIn(_).nonEmpty)
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("Searcher scans segments and filters live generations in one place each") {
    val searcher = java.nio.file.Paths.get("src/main/scala/graft/query/Searcher.scala")
    val lines = java.nio.file.Files.readAllLines(searcher).toArray.map(_.toString)
    Seq("IndexPaths.segments(", "numDocs > 0").foreach { s =>
      assert(lines.count(_.contains(s)) == 1,
        lines.filter(_.contains(s)).mkString(s"$s:\n", "\n", ""))
    }
  }

  test("only the docId rank samples a range split in the index package") {
    // the url rank needs sampling; docIds are dense, so every other
    // docId split is analytic (Generation's docs write)
    val found = hitsWhere("DocIds.scala")(_.contains("repartitionByRange("))
      .filter(_.startsWith("src/main/scala/graft/index/"))
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("norms are written without a groupByKey") {
    val norms = java.nio.file.Paths.get("src/main/scala/graft/index/Norms.scala")
    val found = java.nio.file.Files.readAllLines(norms).toArray
      .map(_.toString).filter(_.contains("groupByKey"))
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("no buffer is sized to a whole norms stride") {
    val wholeStride = """Stride\s*\*\s*4\b|\b4\s*\*\s*Stride\b""".r
    val found = hitsWhere(allowedIn = "")(wholeStride.findFirstIn(_).nonEmpty)
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }
}
