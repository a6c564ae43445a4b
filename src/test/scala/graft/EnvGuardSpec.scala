package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Keeps the single-read property of [[GraftConf]]: no other file under
  * `src/main` reads the process environment, so every knob keeps one
  * name, one parser and one default. */
class EnvGuardSpec extends AnyFunSuite {
  test("only GraftConf reads the environment in src/main") {
    val root = Paths.get("src", "main")
    assert(Files.isDirectory(root), s"run from the repository root (no $root here)")
    val walk = Files.walk(root)
    val sources = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
                  finally walk.close()
    val reads = """sys\.env|System\.getenv""".r
    val offenders = sources.filterNot(_.getFileName.toString == "GraftConf.scala").flatMap { p: Path =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if reads.findFirstIn(line).isDefined => s"$p:${i + 1}: ${line.trim}"
      }
    }
    assert(offenders.isEmpty,
      "read knobs through GraftConf, not the environment:\n" + offenders.mkString("\n"))
  }
}
