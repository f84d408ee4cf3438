package graft

/** Scala sources as the guard specs read them: the files under a root, and
  * [[lex]] for a guard that must check the code, not its comments. */
object ScalaSource {
  def files(d: java.io.File): Seq[java.io.File] =
    d.listFiles.toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f).filter(_.getName.endsWith(".scala")))

  def text(f: java.io.File): String = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")

  /** Scala source split into its code, with comments blanked and string
    * literals emptied, and the values of those literals. A small lexer
    * rather than regexes, so that a comment marker inside a string cannot
    * hide the code after it. Block comments nest, as in Scala; the `${...}`
    * parts of an interpolated string are lexed as code. */
  def lex(src: String): (String, Seq[String]) = {
    val code = new StringBuilder
    val strings = Seq.newBuilder[String]
    var i = 0
    def at(s: String) = src.startsWith(s, i)
    // code up to the end, or up to the `}` that closes an interpolation
    def codeUntil(closingBrace: Boolean): Unit = {
      var depth = 0
      while (i < src.length && !(closingBrace && depth == 0 && src(i) == '}')) {
        if (at("//")) i = src.indexOf('\n', i) match { case -1 => src.length; case n => n }
        else if (at("/*")) {
          var open = 0
          do {
            if (at("/*")) { open += 1; i += 2 }
            else if (at("*/")) { open -= 1; i += 2 }
            else i += 1
          } while (open > 0 && i < src.length)
          code += ' '
        } else if (src(i) == '"') string(interpolated = i > 0 && src(i - 1).isLetterOrDigit)
        else if (at("'") && src.startsWith("'", i + 2)) { code ++= "' '"; i += 3 } // 'x'
        else if (at("'\\") && src.startsWith("'", i + 3)) { code ++= "' '"; i += 4 } // '\x'
        else {
          depth += (if (src(i) == '{') 1 else if (src(i) == '}') -1 else 0)
          code += src(i); i += 1
        }
      }
    }
    def string(interpolated: Boolean): Unit = {
      val quote = if (at("\"\"\"")) "\"\"\"" else "\""
      val value = new StringBuilder
      i += quote.length
      while (i < src.length && !at(quote) && !(quote == "\"" && src(i) == '\n')) {
        if (interpolated && at("${")) { i += 2; codeUntil(closingBrace = true); i += 1 }
        else if (quote == "\"" && src(i) == '\\' && i + 1 < src.length) { value += src(i + 1); i += 2 }
        else { value += src(i); i += 1 }
      }
      i += quote.length
      strings += value.toString
      code ++= "\"\""
    }
    codeUntil(closingBrace = false)
    (code.toString, strings.result())
  }
}
