package graft.sources

import org.scalatest.funsuite.AnyFunSuite

/** [[Snapshots]] is the one home of the lake's file layout: no other
  * main source spells out a store file name or the plain-token check,
  * so a change to the format or to a commit step has one place to land.
  * Prose may still name the files; the sweep reads code lines only.
  */
class SnapshotsLayoutSpec extends AnyFunSuite {

  private val layout = Seq("_manifest", "_claim-v", "_tag-", "_rewrite-v",
    "_model-v", "-staging-", "-commits", "matches(\"[A-Za-z0-9")

  /** The file's lines without Scaladoc, block or line comments. */
  private def codeLines(f: java.io.File): Seq[String] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().toList
      .filterNot { l =>
        val t = l.trim
        t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")
      }
      .map(_.replaceAll("\\s//.*$", ""))
    finally src.close()
  }

  private def scalaFiles(dir: java.io.File): Seq[java.io.File] =
    dir.listFiles().toSeq.sortBy(_.getName).flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  test("only Snapshots spells out the store's file names and token check") {
    val home = new java.io.File("src/main/scala/graft/sources/Snapshots.scala")
    val spelled = scalaFiles(new java.io.File("src/main/scala"))
      .filter(_.getCanonicalPath != home.getCanonicalPath)
      .flatMap { f =>
        val code = codeLines(f)
        layout.filter(t => code.exists(_.contains(t))).map(t => s"${f.getName}: $t")
      }
    assert(spelled.isEmpty, s"go through Snapshots instead: $spelled")
  }
}
