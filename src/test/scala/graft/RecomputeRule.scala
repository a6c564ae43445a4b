package graft

/** The plan gate's recompute rule: no identical full call of an expensive
  * expression repeats inside one operator. An operator is one line of a
  * physical plan's text; an expensive call is any native kernel
  * (`graft_*(`, the prefix NativeCodegenSpec pins), an `md5(` base hash or
  * an interpreted `lambdafunction(` body, taken with its balanced
  * parentheses. Identical text is the same expression instance, since
  * every attribute and lambda variable carries its exprId, so a repeat
  * is the same value computed again for every row — the round-9 32×
  * minhash shape, where each band-key slot re-ran the signature.
  *
  * One exemption: inside a `Project`, a repeated call that holds no
  * `lambdafunction(` passes, because whole-stage subexpression
  * elimination evaluates it once. Lambda bodies block that elimination,
  * and Filter / Join conditions have none. */
object RecomputeRule {
  private val Marker = "graft_[a-z0-9_]+\\(|md5\\(|lambdafunction\\(".r

  /** The call whose opening parenthesis is at `open`, through its match. */
  private def call(line: String, start: Int, open: Int): String = {
    var depth = 1
    var j = open + 1
    while (depth > 0 && j < line.length) {
      if (line(j) == '(') depth += 1 else if (line(j) == ')') depth -= 1
      j += 1
    }
    line.substring(start, j)
  }

  private def isProject(line: String): Boolean =
    line.dropWhile(" :+-".contains(_)).replaceFirst("^\\*\\(\\d+\\) ", "")
      .startsWith("Project [")

  /** Every call that repeats inside one operator of `plan` against the
    * rule, as "call ×count in: operator" (both truncated). */
  def repeats(plan: String): Seq[String] = plan.linesIterator.toSeq.flatMap { line =>
    val calls = Marker.findAllMatchIn(line).map(m => call(line, m.start, m.end - 1)).toSeq
    calls.groupBy(identity).toSeq.collect {
      case (c, cs) if cs.size > 1 && !(isProject(line) && !c.contains("lambdafunction(")) =>
        s"${c.take(200)} ×${cs.size} in: ${line.trim.take(200)}"
    }
  }
}
