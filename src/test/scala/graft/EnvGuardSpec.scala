package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** Source rules over `src/main` that keep one mechanism in one place:
  * only [[GraftConf]] reads the process environment, so every knob keeps
  * one name, one parser and one default; only `Ckpt` checkpoints, so
  * every checkpoint has an owner that releases it; and iterative
  * operators free their generations only through `Ckpt.advance`. */
class EnvGuardSpec extends AnyFunSuite {
  private lazy val sources: List[Path] = {
    val root = Paths.get("src", "main")
    assert(Files.isDirectory(root), s"run from the repository root (no $root here)")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  /** Lines matching `pattern` in every source file except `allowed`. */
  private def offenders(pattern: Regex, allowed: String): List[String] =
    sources.filterNot(_.getFileName.toString == allowed).flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if pattern.findFirstIn(line).isDefined => s"$p:${i + 1}: ${line.trim}"
      }
    }

  test("only GraftConf reads the environment in src/main") {
    val found = offenders("""sys\.env|System\.getenv""".r, "GraftConf.scala")
    assert(found.isEmpty,
      "read knobs through GraftConf, not the environment:\n" + found.mkString("\n"))
  }

  test("only Ckpt checkpoints in src/main") {
    val found = offenders("""localCheckpoint\(|\.checkpoint\(""".r, "Ckpt.scala")
    assert(found.isEmpty,
      "checkpoint through graft.operators.Ckpt, which owns and releases it:\n" +
        found.mkString("\n"))
  }

  test("only Ckpt.advance frees a loop generation in src/main") {
    // the one hand-written free left is Dedup.clusters' post-loop release
    // of its edge checkpoint, which is no generation
    val found = offenders("""Ckpt\.free\(""".r, "Ckpt.scala")
    assert(found.size == 1 && found.head.contains("Dedup.scala") &&
      found.head.contains("Ckpt.free(edges)"),
      "step an iterative operator's generations with Ckpt.advance:\n" + found.mkString("\n"))
  }
}
