package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins the library's runnable entry points. Every `def main` (or
  * `extends App`) under `src/main/scala` ships in the pipeline's jar, so a
  * one-off probe added there is dead weight the moment its question is
  * answered; dev probes live outside `src/main`. A new entry point has to
  * be added here on purpose. */
class EntryPointsSpec extends AnyFunSuite {

  private val Expected = Set("GraftApp", "DocumentsApp", "Bench", "Verify",
    "ScaleGen", "PlanDump")

  private val ObjectDecl = """\bobject\s+(\w+)""".r
  private val MainDecl = """\bdef\s+main\s*\(|\bextends\s+App\b""".r

  /** The object enclosing each `main` of one source file: the nearest
    * `object` declared before it. */
  private def mains(src: String): Seq[String] =
    MainDecl.findAllMatchIn(src).map { m =>
      ObjectDecl.findAllMatchIn(src.take(m.end)).toSeq.lastOption
        .fold("<no object>")(_.group(1))
    }.toSeq

  test("src/main/scala defines exactly the known entry points") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: $root")
    val found = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap((p: Path) => mains(Files.readString(p)))
      .toSeq
    assert(found.sorted === Expected.toSeq.sorted)
  }
}
