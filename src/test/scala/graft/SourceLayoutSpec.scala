package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-layout lint over `src/main/scala`: the index lifecycle's
  * write modes and streaming trigger live only in `core/Generations.scala`,
  * and only `core/IndexMeta.scala` names a sidecar directory. Comment
  * lines are skipped; a `"meta"` column name is not a path.
  */
class SourceLayoutSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  /** (file relative to `root`, line number, line) of every code line. */
  private lazy val codeLines: Seq[(String, Int, String)] = {
    assert(Files.isDirectory(root), s"run from the repository root: no $root")
    val files = Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq
    files.flatMap { p: Path =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if !isComment(line) => (root.relativize(p).toString, i + 1, line)
      }
    }
  }

  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
  }

  private def offenders(allowed: String, pattern: scala.util.matching.Regex): Seq[String] =
    codeLines.collect {
      case (f, n, line) if f != allowed && pattern.findFirstIn(line).nonEmpty => s"$f:$n: ${line.trim}"
    }

  test("only core/Generations.scala sets a partition overwrite mode or an AvailableNow trigger") {
    val bad = offenders("graft/core/Generations.scala", """partitionOverwriteMode|Trigger\.AvailableNow""".r)
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("only core/IndexMeta.scala names a sidecar directory") {
    // `s"$dir/meta"`, `"…/geom/…"` or `new Path(dir, "meta")`
    val sidecar = """/(meta|geom)["/]|Path\([^)]*,\s*"(meta|geom)"\s*\)""".r
    Seq("""parquet(s"$outDir/geom")""", """new org.apache.hadoop.fs.Path(indexDir, "geom")""")
      .foreach(l => assert(sidecar.findFirstIn(l).nonEmpty, s"the lint must catch $l"))
    Seq("""col("meta"),""", """.as("meta"))""")
      .foreach(l => assert(sidecar.findFirstIn(l).isEmpty, s"the lint must pass $l"))
    val bad =offenders("graft/core/IndexMeta.scala", sidecar)
    assert(bad.isEmpty, bad.mkString("\n"))
  }
}
