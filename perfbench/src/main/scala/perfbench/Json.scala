package perfbench

/** The result line: the last stdout line of a run. */
object Json {
  private def quote(s: String): String = {
    require(!s.exists(c => c == '"' || c == '\\' || c < ' '), s"name or unit needs escaping: $s")
    "\"" + s + "\""
  }

  def result(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) =>
      require(!v.isNaN && !v.isInfinite, s"metric $n is $v")
      s"${quote(n)}: {\"value\": $v, \"unit\": ${quote(u)}}"
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}
