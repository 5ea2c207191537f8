package graft

/** The JSON pieces every emitter in the repo shares (Bench, the scale
  * probes, Verify, HttpInference): one string-literal escaper and one
  * failure-record array, so a future escaping fix lands once.
  */
object Jsons {
  def escape(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** `[{<nameKey>, class, message, causes: [{class, message}, …]}, …]`,
    * one object per named failure with its cause chain — Verify's
    * failures.json and the harnesses' `derivation_errors` block.
    */
  def failures(nameKey: String, fs: Seq[(String, Throwable)]): String = {
    def classMessage(e: Throwable): String =
      s"${escape("class")}: ${escape(e.getClass.getName)}, " +
        s"${escape("message")}: ${escape(String.valueOf(e.getMessage))}"
    fs.map { case (name, e) =>
      val chain = Iterator.iterate(e.getCause)(_.getCause).takeWhile(_ != null)
        .map(c => s"{${classMessage(c)}}")
      s"{${escape(nameKey)}: ${escape(name)}, ${classMessage(e)}, " +
        s"${escape("causes")}: ${chain.mkString("[", ",", "]")}}"
    }.mkString("[", ",", "]")
  }
}
