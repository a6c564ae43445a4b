package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.operators.Ckpt
import org.apache.spark.sql.SparkSession

/** What the measuring mains share: one timed pass with the between-pass
  * hygiene, the summary statistics, and the JSON report writer. */
object Harness {
  /** Times `action` and returns its wall seconds, or None when it throws
    * (logged as `[tag] name failed: ...`; a failure is never a time, or a
    * broken query would make a total faster). Then, outside the timed
    * region, the between-pass hygiene: the pass runs in a [[Ckpt.scope]],
    * which releases its checkpoint blocks so they cannot leak into the
    * next pass, and a GC so the
    * ContextCleaner reclaims the pass's shuffle and broadcast state now,
    * not whenever the driver heap next collects. Without the GC, later
    * passes time the debris of earlier ones (at sf10, pass 6 of identical
    * q22 ran 4× pass 1; with a GC per pass all passes are flat). */
  def timed(spark: SparkSession, tag: String, name: String)(action: => Any): Option[Double] = {
    val r = Ckpt.scope(spark) {
      val t0 = System.nanoTime()
      try { action; Some((System.nanoTime() - t0) / 1e9) }
      catch { case e: Throwable =>
        System.err.println(s"[$tag] $name failed: ${e.getMessage}"); None }
    }
    System.gc()
    r
  }

  /** Median; 0.0 for no samples. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Coefficient of variation (population stddev / mean): the run-to-run
    * noise a delta must clear to be real. 0.0 when the mean is 0. */
  def cv(xs: Seq[Double]): Double = {
    val m = xs.sum / xs.size
    if (m == 0.0) 0.0
    else math.sqrt(xs.map(x => (x - m) * (x - m)).sum / xs.size) / m
  }

  /** A JSON object whose fields keep their order. */
  final case class Obj(fields: (String, Any)*)

  /** Compact JSON: [[Obj]] is an object, a String is escaped, any other
    * Iterable is an array, and numbers and booleans print as `toString`. */
  def json(v: Any): String = v match {
    case Obj(fs @ _*) => fs.map { case (k, x) => quote(k) + ":" + json(x) }.mkString("{", ",", "}")
    case s: String => quote(s)
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case x => x.toString
  }

  /** JSON string literal: escapes quote, backslash and every control
    * character below 0x20, so a tab or CR in query SQL cannot break a
    * reader's `json.load`. */
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Writes the report to `path` and prints it as one stdout line (sbt
    * interleaves log noise into stdout, so the file is the reliable copy). */
  def emit(path: String, report: Obj): Unit = {
    val line = json(report)
    Files.write(Paths.get(path), (line + "\n").getBytes(StandardCharsets.UTF_8))
    println(line)
  }
}
