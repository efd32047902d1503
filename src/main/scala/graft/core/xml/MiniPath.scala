package graft.core.xml

/** Minimal XPath subset — exactly the forms used by the reference's rule
  * tables and extraction call sites (adsft/rules.py:4-101,
  * adsft/extraction.py:729-733; tests use `//body//sec[@id="s2"]//p`).
  *
  * Grammar:
  *   path   := ('//' step)+
  *   step   := (NAME | '*') ('[' pred ']')?
  *   pred   := clause (' or ' clause)* | 'not(' clause (' or ' clause)* ')'
  *   clause := '@'NAME'='STRING
  *           | 'contains(.,'STRING')'
  *           | 'contains(@'NAME','STRING')'
  *           | 'local-name()='STRING
  *
  * Evaluation is one walk in document order ([[Elem.walk]]) with greedy
  * ancestor matching for the descendant axis — sufficient and exact for
  * `//a//b//c` forms.
  */
object MiniPath {

  sealed trait Clause
  final case class AttrEq(attr: String, value: String) extends Clause
  final case class ContainsText(value: String) extends Clause
  final case class ContainsAttr(attr: String, value: String) extends Clause
  final case class LocalName(value: String) extends Clause

  final case class Pred(clauses: Vector[Clause], negated: Boolean)
  final case class Step(tag: String, pred: Option[Pred]) // tag "*" = any

  final case class Path(steps: Vector[Step])

  def compile(expr: String): Path = {
    val e = expr.trim
    require(e.startsWith("//"), s"unsupported xpath (must start with //): $expr")
    val steps = Vector.newBuilder[Step]
    var i = 0
    while (i < e.length) {
      require(e.startsWith("//", i), s"unsupported axis in: $expr")
      i += 2
      val st = i
      while (i < e.length && e.charAt(i) != '[' && !e.startsWith("//", i)) i += 1
      val tag = e.substring(st, i).trim
      require(tag.nonEmpty, s"empty step in: $expr")
      var pred: Option[Pred] = None
      if (i < e.length && e.charAt(i) == '[') {
        val close = matchBracket(e, i)
        pred = Some(parsePred(e.substring(i + 1, close).trim, expr))
        i = close + 1
      }
      steps += Step(tag, pred)
    }
    Path(steps.result())
  }

  private def matchBracket(s: String, open: Int): Int = {
    var depth = 0
    var i = open
    while (i < s.length) {
      s.charAt(i) match {
        case '[' => depth += 1
        case ']' => depth -= 1; if (depth == 0) return i
        case _   =>
      }
      i += 1
    }
    throw new IllegalArgumentException(s"unbalanced [] in: $s")
  }

  private def parsePred(p0: String, ctx: String): Pred = {
    var p = p0
    var neg = false
    if (p.startsWith("not(") && p.endsWith(")")) {
      neg = true
      p = p.substring(4, p.length - 1).trim
    }
    val clauses = splitTopLevelOr(p).map(c => parseClause(c.trim, ctx)).toVector
    Pred(clauses, neg)
  }

  /** Split on ' or ' outside parens/quotes. */
  private def splitTopLevelOr(s: String): Seq[String] = {
    val parts = Seq.newBuilder[String]
    var depth = 0
    var quote: Char = 0
    var last = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) { if (c == quote) quote = 0 }
      else c match {
        case '"' | '\'' => quote = c
        case '(' | '[' => depth += 1
        case ')' | ']' => depth -= 1
        case 'o' if depth == 0 && i + 1 < s.length && s.charAt(i + 1) == 'r' &&
            i > 0 && Character.isWhitespace(s.charAt(i - 1)) &&
            i + 2 < s.length && Character.isWhitespace(s.charAt(i + 2)) =>
          parts += s.substring(last, i)
          last = i + 2
          i += 1
        case _ =>
      }
      i += 1
    }
    parts += s.substring(last)
    parts.result()
  }

  private def quoted(s: String, ctx: String): String = {
    val t = s.trim
    require(t.length >= 2 && (t.head == '"' || t.head == '\'') && t.last == t.head,
      s"expected quoted string '$s' in: $ctx")
    t.substring(1, t.length - 1)
  }

  private def parseClause(c: String, ctx: String): Clause = {
    if (c.startsWith("@")) {
      val eq = c.indexOf('=')
      require(eq > 0, s"unsupported predicate clause '$c' in: $ctx")
      AttrEq(c.substring(1, eq).trim, quoted(c.substring(eq + 1), ctx))
    } else if (c.startsWith("contains(")) {
      val inner = c.substring("contains(".length, c.lastIndexOf(')'))
      val comma = inner.indexOf(',')
      val lhs = inner.substring(0, comma).trim
      val rhs = quoted(inner.substring(comma + 1), ctx)
      if (lhs == ".") ContainsText(rhs)
      else { require(lhs.startsWith("@"), s"unsupported contains() lhs '$lhs' in: $ctx"); ContainsAttr(lhs.substring(1), rhs) }
    } else if (c.startsWith("local-name()")) {
      LocalName(quoted(c.substring(c.indexOf('=') + 1), ctx))
    } else throw new IllegalArgumentException(s"unsupported predicate clause '$c' in: $ctx")
  }

  private def stepMatches(e: Elem, s: Step): Boolean = {
    if (s.tag != "*" && e.tag != s.tag) return false
    s.pred match {
      case None => true
      case Some(Pred(clauses, neg)) =>
        val hit = clauses.exists {
          case AttrEq(a, v)       => e.attr(a).contains(v)
          case ContainsText(v)    => e.textContent.contains(v)
          case ContainsAttr(a, v) => e.attr(a).exists(_.contains(v))
          case LocalName(v)       => e.tag == v // prefixes already stripped
        }
        if (neg) !hit else hit
    }
  }

  /** Elements under `root` (root itself excluded) that match any of `paths`,
    * in document order, each once (lxml `a | b` semantics).
    */
  def eval(root: Elem, paths: Path*): Vector[Elem] = {
    val out = Vector.newBuilder[Elem]
    root.walk(e => if ((e ne root) && paths.exists(matches(root, e, _))) out += e, _ => ())
    out.result()
  }

  /** `e` matches the last step and its ancestors below `root` match the
    * earlier steps, bottom-up and greedily — exact for `//a//b//c` forms.
    */
  private def matches(root: Elem, e: Elem, path: Path): Boolean = {
    val steps = path.steps
    if (!stepMatches(e, steps.last)) return false
    var si = steps.length - 2
    var a = e.parent
    while (si >= 0 && a != null) {
      if ((a ne root) && stepMatches(a, steps(si))) si -= 1
      a = a.parent
    }
    si < 0
  }
}
