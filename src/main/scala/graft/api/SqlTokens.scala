package graft.api

/** The SQL facade's one lexer, on Calcite's lexical rules (the reference
  * parses its SQL with a Calcite parser, `planner/DruidSqlParser.java`).
  * Every dialect pass, parameter binding and native-expression reroute
  * works on its tokens, so what counts as a string, an identifier, a
  * comment or a bracket is decided here once:
  *  - `'…'` strings take `''` escapes only — a backslash is an ordinary
  *    character (Spark's lexer reads backslash escapes, so [[renderCalcite]]
  *    doubles them on the way out);
  *  - `U&'…'` strings are decoded here: `\XXXX` is the code point, `\\` a
  *    backslash, and a decoded quote re-escapes as `''`;
  *  - `"…"` and `` `…` `` identifiers take doubled-quote escapes;
  *  - `--` and `/* */` comments, and Spark hints `/*+ … */`, are kept
  *    verbatim and are not significant to the passes.
  * Rendering gives back each token's text, so lex-then-render returns the
  * input unchanged (decoded `U&` strings aside).
  */
private[graft] object SqlTokens {

  sealed abstract class Kind
  case object Space extends Kind
  case object Comment extends Kind
  case object Hint extends Kind
  case object Str extends Kind
  case object Ident extends Kind
  case object Num extends Kind
  case object Word extends Kind
  case object Sym extends Kind

  final case class Tok(kind: Kind, text: String) {
    def sig: Boolean = kind != Space && kind != Comment && kind != Hint
    /** A word or symbol spelled `s`, case-insensitively. */
    def is(s: String): Boolean =
      (kind == Word || kind == Sym) && text.equalsIgnoreCase(s)
  }

  type Toks = Vector[Tok]

  private def wordChar(c: Char): Boolean = c.isLetterOrDigit || c == '_'

  def lex(s: String): Toks = {
    val out = Vector.newBuilder[Tok]
    val n = s.length
    var i = 0
    def take(end: Int, k: Kind): Unit = { out += Tok(k, s.substring(i, end)); i = end }
    def skip(from: Int, p: Char => Boolean): Int = {
      var j = from
      while (j < n && p(s.charAt(j))) j += 1
      j
    }
    // index past the quote closing a region opened just before `from`
    def quoted(from: Int, q: Char): Int = {
      var j = from
      while (j < n) {
        if (s.charAt(j) != q) j += 1
        else if (j + 1 < n && s.charAt(j + 1) == q) j += 2
        else return j + 1
      }
      n
    }
    while (i < n) {
      val c = s.charAt(i)
      if (c.isWhitespace) take(skip(i, _.isWhitespace), Space)
      else if (s.startsWith("--", i)) take(skip(i, _ != '\n'), Comment)
      else if (s.startsWith("/*", i)) {
        val e = s.indexOf("*/", i + 2)
        take(if (e < 0) n else e + 2, if (s.startsWith("/*+", i)) Hint else Comment)
      } else if (c == '\'') take(quoted(i + 1, c), Str)
      else if ((c == 'U' || c == 'u') && s.startsWith("&'", i + 1)) {
        val e = quoted(i + 3, '\'')
        val body = s.substring(i + 3, if (s.charAt(e - 1) == '\'' && e > i + 3) e - 1 else e)
        out += Tok(Str, "'" + decodeUnicode(body) + "'")
        i = e
      } else if (c == '"' || c == '`') take(quoted(i + 1, c), Ident)
      else if (c.isDigit) {
        var j = skip(i, _.isDigit)
        if (j + 1 < n && s.charAt(j) == '.' && s.charAt(j + 1).isDigit)
          j = skip(j + 1, _.isDigit)
        if (j < n && (s.charAt(j) == 'e' || s.charAt(j) == 'E')) {
          val k = if (j + 1 < n && "+-".indexOf(s.charAt(j + 1)) >= 0) j + 2 else j + 1
          if (k < n && s.charAt(k).isDigit) j = skip(k, _.isDigit)
        }
        take(skip(j, wordChar), Num) // type suffixes: 1L, 2.0D, 3BD
      } else if (wordChar(c)) take(skip(i, wordChar), Word)
      else take(i + 1, Sym)
    }
    out.result()
  }

  private def decodeUnicode(body: String): String = {
    val dec = new StringBuilder
    var k = 0
    while (k < body.length) {
      val c = body.charAt(k)
      if (c == '\\' && k + 1 < body.length && body.charAt(k + 1) == '\\') {
        dec.append('\\'); k += 2
      } else if (c == '\\' && k + 4 < body.length &&
          body.substring(k + 1, k + 5).forall(h => Character.digit(h, 16) >= 0)) {
        val cp = Integer.parseInt(body.substring(k + 1, k + 5), 16).toChar
        if (cp == '\'') dec.append("''") else dec.append(cp)
        k += 5
      } else { dec.append(c); k += 1 }
    }
    dec.toString
  }

  def render(ts: Seq[Tok]): String = ts.iterator.map(_.text).mkString

  /** Render for Spark's parser with Calcite's string semantics: each
    * backslash in a string literal doubles, so Spark's unescaping gives
    * back the characters Calcite reads ('\|' stays backslash+pipe).
    */
  def renderCalcite(ts: Seq[Tok]): String = ts.iterator.map(t =>
    if (t.kind == Str) t.text.replace("\\", "\\\\") else t.text).mkString

  /** Index of the first significant token at or after `i` (`ts.length` if none). */
  def next(ts: IndexedSeq[Tok], i: Int): Int = {
    var j = i
    while (j < ts.length && !ts(j).sig) j += 1
    j
  }

  /** Index of the last significant token before `i` (-1 if none). */
  def prev(ts: IndexedSeq[Tok], i: Int): Int = {
    var j = i - 1
    while (j >= 0 && !ts(j).sig) j -= 1
    j
  }

  private val Number = """\d+(?:\.\d+)?""".r

  /** Whether `t` is `w`: a word or symbol (case-insensitive), `#` an
    * unsigned number, `'` a string literal, `_` any word, and `A|B` either.
    */
  private def matches(t: Tok, w: String): Boolean = w match {
    case "#" => t.kind == Num && Number.matches(t.text)
    case "'" => t.kind == Str
    case "_" => t.kind == Word
    case _ if w.length > 1 && w.contains('|') => w.split('|').exists(matches(t, _))
    case _ => t.is(w)
  }

  /** Index of the token matching the last of `words` when `ts(i)` matches
    * the first and the significant tokens after it the rest, or -1.
    */
  def seq(ts: IndexedSeq[Tok], i: Int, words: String*): Int = {
    var j = i
    var k = 0
    while (k < words.length && j >= 0 && j < ts.length && matches(ts(j), words(k))) {
      k += 1
      if (k < words.length) j = next(ts, j + 1)
    }
    if (k == words.length) j else -1
  }

  /** Index of the `)` or `]` closing the bracket at `open`, -1 if none. */
  def close(ts: IndexedSeq[Tok], open: Int): Int = {
    var d = 0
    var j = open
    while (j < ts.length) {
      val t = ts(j)
      if (t.is("(") || t.is("[")) d += 1
      else if (t.is(")") || t.is("]")) { d -= 1; if (d == 0) return j }
      j += 1
    }
    -1
  }

  /** Indices of `[from, to)` outside the brackets opened in it. */
  private def topIndices(ts: IndexedSeq[Tok], from: Int, to: Int): Iterator[Int] = {
    var d = 0
    (from until to).iterator.filter { j =>
      val t = ts(j)
      if (t.is("(") || t.is("[")) { d += 1; false }
      else if (t.is(")") || t.is("]")) { d -= 1; false }
      else d == 0
    }
  }

  /** Index of the first top-level token of `[from, to)` spelled `w`, or -1. */
  def topLevel(ts: IndexedSeq[Tok], from: Int, to: Int, w: String): Int =
    topIndices(ts, from, to).find(ts(_).is(w)).getOrElse(-1)

  /** The ranges of `[from, to)` between its top-level commas. */
  def splitTop(ts: IndexedSeq[Tok], from: Int, to: Int): Seq[(Int, Int)] = {
    val commas = topIndices(ts, from, to).filter(ts(_).is(",")).toSeq
    (from +: commas.map(_ + 1)).zip(commas :+ to)
  }

  /** Text of `[from, to)`, trimmed. */
  def span(ts: IndexedSeq[Tok], from: Int, to: Int): String =
    render(ts.slice(from, to)).trim

  /** Left-to-right rewrite: where `f(ts, i)` gives `(end, text)`, tokens
    * `[i, end)` become the tokens of `text`, and the scan goes on inside
    * the replacement after its first token (so nested matches rewrite too).
    */
  def rewrite(ts: Toks)(f: (Toks, Int) => Option[(Int, String)]): Toks = {
    var cur = ts
    var i = 0
    while (i < cur.length) {
      val hit = if (cur(i).sig) f(cur, i) else None
      hit match {
        case Some((end, repl)) =>
          val r = lex(repl)
          cur = cur.take(i) ++ r ++ cur.drop(end)
          if (r.nonEmpty) i += 1
        case None => i += 1
      }
    }
    cur
  }
}
