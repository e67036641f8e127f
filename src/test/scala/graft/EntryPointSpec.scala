package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The main jar ships the engine plus a fixed set of entry points: the
  * driver contract (`Bench`, `Verify`) and the two ETL CLIs. One-off
  * A/B or profiling mains belong in the benchmark or in test code, not
  * in the library. This spec scans the main sources, so a new `main`
  * fails here before it ships. */
class EntryPointSpec extends AnyFunSuite {

  private val Expected = Set("graft.Bench", "graft.Verify",
    "graft.etl.GraftEtlMain", "graft.etl.CurationJobMain")

  private val PackageRe = """(?m)^package\s+([\w.]+)""".r
  private val ObjectRe = """(?m)^\s*object\s+(\w+)""".r

  /** `package.Object` for every object in `src` that defines `main(`. */
  private def mainObjects(src: String): Seq[String] = {
    val pkg = PackageRe.findFirstMatchIn(src).map(_.group(1) + ".")
      .getOrElse("")
    val objects = ObjectRe.findAllMatchIn(src).toSeq
    """def main\(""".r.findAllMatchIn(src).toSeq.map { m =>
      val owner = objects.takeWhile(_.start < m.start).lastOption
      pkg + owner.map(_.group(1)).getOrElse("<no enclosing object>")
    }
  }

  test("src/main defines main only in the four entry-point objects") {
    val root = Paths.get(sys.props("user.dir"), "src", "main", "scala")
    assert(Files.isDirectory(root), s"main sources not found at $root")
    val walk = Files.walk(root)
    val files = try walk.iterator.asScala
      .filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
    val found = files.flatMap { f: Path =>
      mainObjects(new String(Files.readAllBytes(f), "UTF-8"))
    }.toSet
    assert(found == Expected,
      s"objects with a main under src/main: ${found.toSeq.sorted}; the " +
        s"entry points are fixed to ${Expected.toSeq.sorted.mkString(", ")}" +
        " — put one-off tools in the benchmark or in test code")
  }
}
