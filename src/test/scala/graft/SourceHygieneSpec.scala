package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Library code takes its configuration from session confs, never from
  * the process environment: an env read inside an operator is a knob no
  * session, test or caller can see or scope. Entry points (the `main`
  * programs directly under `graft`) may still read the environment.
  */
class SourceHygieneSpec extends AnyFunSuite {
  private val libraryPackages = Seq("ops", "queries", "streaming",
    "functions", "plans", "forecast", "ml", "multimodal", "sources",
    "schemas")

  test("no library package reads sys.env or System.getenv") {
    val root = Paths.get("src/main/scala/graft")
    assume(Files.isDirectory(root), s"$root missing")
    val files = libraryPackages.map(root.resolve).filter(Files.isDirectory(_))
      .flatMap(d => Files.walk(d).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toSeq)
    assert(files.size > 50, s"only ${files.size} library sources found")
    val envRead = "sys\\.env|System\\.getenv".r
    val hits = files.flatMap { f: Path =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if envRead.findFirstIn(line).isDefined =>
          s"$f:${i + 1}: ${line.trim}"
      }
    }
    assert(hits.isEmpty, hits.mkString("env reads in library code:\n", "\n", ""))
  }
}
