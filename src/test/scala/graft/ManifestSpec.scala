package graft

import org.scalatest.funsuite.AnyFunSuite

/**
 * `graft.sources.Manifest` is the only code that knows the manifest's
 * JSON layout: no other source file reads or writes a manifest key
 * through a JSON accessor.
 */
class ManifestSpec extends AnyFunSuite {

  private val keys = Seq("snapshots", "dirStats", "dvIndex", "bloomIdx", "dynIdx",
    "changelog", "schemas", "currentSchemaVersion", "lastFieldId", "nestedIds",
    "commitVersion", "tags", "consumers", "statistics", "lastStreamBatchId",
    "baseId", "added", "removed", "xbuckets", "timestampMillis", "commitKind")

  private val accessor = ("""\.(get|has|put\w*|remove|set(\[\w+\])?|path)\(\s*"(""" +
    keys.mkString("|") + """)"""").r

  test("no file outside Manifest.scala names a manifest key in a JSON accessor") {
    val root = new java.io.File("src/main/scala/graft")
    assert(root.isDirectory, s"run from the project root (${root.getAbsolutePath})")
    def scalaFiles(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.sortBy(_.getName).flatMap { f =>
        if (f.isDirectory) scalaFiles(f) else Seq(f).filter(_.getName.endsWith(".scala"))
      }
    val files = scalaFiles(root)
    assert(files.exists(_.getName == "Manifest.scala"))
    val hits = for {
      f <- files if f.getName != "Manifest.scala"
      (line, i) <- scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq.zipWithIndex
      hit <- accessor.findAllIn(line)
    } yield s"${root.toPath.relativize(f.toPath)}:${i + 1}: $hit"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
