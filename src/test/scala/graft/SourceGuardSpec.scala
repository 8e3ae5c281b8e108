package graft

import org.scalatest.funsuite.AnyFunSuite

/** Durable outputs commit through [[Commit]] only: a rename, an mtime
  * refresh or a TTL literal anywhere else in the engine sources is a
  * second commit protocol growing beside it.
  */
class SourceGuardSpec extends AnyFunSuite {

  test("rename, setTimes and TTL literals appear only in Commit.scala") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root")
    val banned = Seq(".rename(", "setTimes(", "3600 * 1000")
    val hits = java.nio.file.Files.walk(root).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "Commit.scala")
      .flatMap { p =>
        val lines = java.nio.file.Files.readAllLines(p).toArray.map(_.toString)
        lines.zipWithIndex.collect {
          case (l, i) if banned.exists(l.contains) => s"$p:${i + 1}: ${l.trim}"
        }
      }
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
