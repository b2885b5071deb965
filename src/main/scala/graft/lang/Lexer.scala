package graft.lang

/** MiniGQL tokenizer — token surface per the reference lexer
  * (/root/reference/graphDB/lib/lexer.mll:29-85): lowercase keywords,
  * `(* … *)` comments, string literals restricted to `[A-Za-z0-9 ]`,
  * unsigned decimal integers, `->` arrow, `<>` not-equal.
  */
object Lexer {

  sealed trait Token extends Product with Serializable
  final case class TIdent(s: String) extends Token
  final case class TInt(i: Long) extends Token
  final case class TString(s: String) extends Token
  final case class TBool(b: Boolean) extends Token
  final case class TTp(tp: AttribTp) extends Token
  final case class TKw(kw: String) extends Token // create delete match return set where
  final case class TParam(name: String) extends Token // `$name` query parameter
  final case class TSym(s: String) extends Token // punctuation & operators
  case object TEof extends Token

  final case class LexError(msg: String, pos: Int) extends RuntimeException(s"$msg at offset $pos")

  private val keywords = Set("create", "delete", "match", "return", "set", "where")

  /** (token, start offset, end offset) — the end offset feeds the
    * reference-shaped error report (interf.ml:25-31 prints the column of
    * the END of the offending token, ocamllex's pos_cnum - pos_bol) and
    * lets the parser recover the exact source lexeme. */
  def tokenize(src: String): Vector[(Token, Int, Int)] = {
    val out = Vector.newBuilder[(Token, Int, Int)]
    var i = 0
    val n = src.length
    while (i < n) {
      val c = src(i)
      if (c == ' ' || c == '\t' || c == '\n' || c == '\r') { i += 1 }
      else if (c == '(' && i + 1 < n && src(i + 1) == '*' &&
               !(i + 2 < n && src(i + 2) == ')')) {
        // comment: scan to matching "*)" (non-nested, like the ocamllex
        // regex). The exact three-char sequence `(*)` is NOT a comment
        // opener — it lexes as `(` `*` `)` so `count(*)` works (round 11
        // extension). Documented deviation: a comment whose body starts
        // with `)` must be written `(* )…` with a space; no reference
        // program is affected (the corpus has no such comment).
        val end = src.indexOf("*)", i + 2)
        if (end < 0) throw LexError("unterminated comment", i)
        i = end + 2
      } else if (c.isDigit) {
        val start = i
        while (i < n && src(i).isDigit) i += 1
        out += ((TInt(src.substring(start, i).toLong), start, i))
      } else if (c == '"') {
        val start = i
        i += 1
        val sb = new StringBuilder
        while (i < n && src(i) != '"') {
          val ch = src(i)
          // printable ASCII, minus `"`, which closes the literal (the
          // grammar has no escape mechanism), and `'` and `\`, kept out
          // of the language surface: a `\` in a pattern would open the
          // regex escape classes (\d \w \b \Q…) on which `=~` and its
          // DuckDB oracle disagree. The engine compiles every constant
          // to a literal value, so neither char is unsafe there; a
          // `$param` string may hold both.
          // (Round 11 — the reference corpus uses only [a-zA-Z0-9 ],
          // so every reference-legal program still lexes identically;
          // punctuation is what real text data needs.)
          if (ch < 0x20 || ch > 0x7e || ch == '\'' || ch == '\\')
            throw LexError(s"illegal string char '$ch'", i)
          sb += ch; i += 1
        }
        if (i >= n) throw LexError("unterminated string", start)
        i += 1
        out += ((TString(sb.result()), start, i))
      } else if (c == '$') {
        // `$name` — query parameter (round 12); the name follows ident
        // rules (letter head). A bare `$` is a lex error.
        val start = i
        i += 1
        if (i >= n || !src(i).isLetter)
          throw LexError("expected a parameter name after '$'", start)
        while (i < n && src(i).isLetterOrDigit) i += 1
        out += ((TParam(src.substring(start + 1, i)), start, i))
      } else if (c.isLetter) {
        val start = i
        while (i < n && (src(i).isLetterOrDigit)) i += 1
        val w = src.substring(start, i)
        val tok = w match {
          case "true"            => TBool(true)
          case "false"           => TBool(false)
          case "and"             => TSym("and")
          case "or"              => TSym("or")
          case "mod"             => TSym("mod")
          case "bool"            => TTp(BoolT)
          case "int"             => TTp(IntT)
          case "string"          => TTp(StringT)
          case k if keywords(k)  => TKw(k)
          case _                 => TIdent(w)
        }
        out += ((tok, start, i))
      } else {
        val two = if (i + 1 < n) src.substring(i, i + 2) else ""
        two match {
          case "->" | ">=" | "<=" | "<>" | "=~" =>
            out += ((TSym(two), i, i + 2)); i += 2
          case _ =>
            c match {
              case '{' | '}' | '[' | ']' | '(' | ')' | '.' | ',' | ':' | '+' | '-' | '*' | '/' | '=' | '>' | '<' | '|' =>
                out += ((TSym(c.toString), i, i + 1)); i += 1
              case _ => throw LexError(s"unrecognized symbol '$c'", i)
            }
        }
      }
    }
    out += ((TEof, n, n))
    out.result()
  }
}
