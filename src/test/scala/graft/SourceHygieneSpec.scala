package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Library code takes its configuration from session confs, never from
  * the process environment: an env read inside an operator is a knob no
  * session, test or caller can see or scope. Entry points (the `main`
  * programs directly under `graft`) may still read the environment, and
  * they build their session only through [[Harness]].
  */
class SourceHygieneSpec extends AnyFunSuite {
  private val libraryPackages = Seq("ops", "queries", "streaming",
    "functions", "plans", "forecast", "ml", "multimodal", "sources",
    "schemas")

  private def sources(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    assume(Files.isDirectory(root), s"$root missing")
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
  }

  private def lines(f: Path): Seq[(String, Int)] =
    Files.readAllLines(f).asScala.toSeq.zipWithIndex
      .map { case (l, i) => (l, i + 1) }

  test("no library package reads sys.env or System.getenv") {
    val files = libraryPackages.map(p => s"src/main/scala/graft/$p")
      .filter(d => Files.isDirectory(Paths.get(d))).flatMap(sources)
    assert(files.size > 50, s"only ${files.size} library sources found")
    val envRead = "sys\\.env|System\\.getenv".r
    val hits = files.flatMap(f => lines(f).collect {
      case (line, n) if envRead.findFirstIn(line).isDefined =>
        s"$f:$n: ${line.trim}"
    })
    assert(hits.isEmpty, hits.mkString("env reads in library code:\n", "\n", ""))
  }

  test("only Harness builds a SparkSession in main code") {
    val comment = "^\\s*(//|/\\*|\\*)".r
    val files = sources("src/main/scala")
      .filter(_.getFileName.toString != "Harness.scala")
    assert(files.size > 50, s"only ${files.size} main sources found")
    val hits = files.flatMap(f => lines(f).collect {
      case (line, n) if line.contains("SparkSession.builder") &&
          comment.findFirstIn(line).isEmpty =>
        s"$f:$n: ${line.trim}"
    })
    assert(hits.isEmpty,
      hits.mkString("session built outside Harness:\n", "\n", ""))
  }

  test("no kernel in graft.functions carries a Java-string loop") {
    // each codegen kernel's loop is one static Scala method that both
    // eval and doGenCode call; a `for (int` in a string is a second copy
    val files = sources("src/main/scala/graft/functions")
    assert(files.size >= 8, s"only ${files.size} function sources found")
    val hits = files.flatMap(f => lines(f).collect {
      case (line, n) if line.contains("for (int") => s"$f:$n: ${line.trim}"
    })
    assert(hits.isEmpty, hits.mkString("Java loops in kernels:\n", "\n", ""))
  }

  test("session conf is mutated only at the two sites still open") {
    // (file, enclosing member def) -> mutation count. Both are open
    // cleanup items: dupClusters flips AQE per sparse CC round, and
    // Tables.events sets nanosAsLong so events.parquet reads at all.
    val allowed = Map(
      ("DedupOps.scala", "dupClusters") -> 2,
      ("Tables.scala", "events") -> 1)
    val mutation = "conf\\.(set|unset)\\b".r
    val member = "^  (?:[a-z\\[\\]]+ )*def (\\w+)".r.unanchored
    val files = sources("src/main/scala/graft")
    assert(files.size > 50, s"only ${files.size} main sources found")
    val sites = files.flatMap { f =>
      var owner = ""
      lines(f).flatMap { case (line, n) =>
        line match { case member(d) => owner = d; case _ => }
        mutation.findFirstIn(line).map(_ =>
          (f.getFileName.toString, owner) -> s"$f:$n: ${line.trim}")
      }
    }
    val counts = sites.groupBy(_._1).view.mapValues(_.size).toMap
    val extra = counts.filter { case (site, c) =>
      c > allowed.getOrElse(site, 0) }.keySet
    assert(extra.isEmpty, sites.filter(s => extra(s._1)).map(_._2)
      .mkString("session conf mutated outside the allowed sites:\n", "\n", ""))
  }

  test("every spec named in a main-code comment exists") {
    val defined = "\\b(?:class|trait|object) (\\w+)".r
    val specs = sources("src/test/scala").flatMap(f => lines(f).flatMap {
      case (line, _) => defined.findAllMatchIn(line).map(_.group(1))
    }).toSet
    val comment = "^\\s*(?://|/\\*|\\*)|//".r
    val specName = "\\b[A-Z]\\w*Spec\\b".r
    val hits = sources("src/main/scala").flatMap(f => lines(f).flatMap {
      case (line, n) =>
        comment.findFirstMatchIn(line).toSeq.flatMap(m =>
          specName.findAllIn(line.substring(m.start)).filterNot(specs)
            .map(s => s"$f:$n: $s"))
    })
    assert(hits.isEmpty, hits.mkString("comments name missing specs:\n",
      "\n", ""))
  }
}
