package graft.cypher

import Ast._

/** Hand-rolled tokenizer + recursive-descent parser for the Cypher subset
  * (grammar documented on [[Ast]]). No parser library — the subset is small
  * and the error messages stay query-shaped.
  */
object Parser {

  final case class ParseException(msg: String) extends RuntimeException(msg)

  /** Depth cap the bounded var-length CLOSURE compiler enforces for
    * explicit upper bounds. Open upper bounds are no longer clamped here —
    * they parse as [[Unbounded]] and the compiler decides: shortestPath /
    * allShortestPaths run to frontier exhaustion; the plain var-length
    * closure rejects them loudly (a silent clamp changed answers on deep
    * graphs).
    */
  val MaxVarLength = 10

  /** Sentinel for an open var-length upper bound (`*`, `*n..`, `*..`). */
  val Unbounded: Int = Int.MaxValue

  /** The list-predicate function names (`all(x IN coll WHERE pred)` …). */
  val ListPredKinds: Set[String] = Set("all", "any", "none", "single")

  // ----------------------------------------------------------------- tokens
  private sealed trait Tok
  private case class Ident(s: String) extends Tok // identifiers + keywords, original case
  private case class Num(s: String) extends Tok
  private case class Str(s: String) extends Tok
  private case class Sym(s: String) extends Tok
  private case class ParamT(s: String) extends Tok // $name
  private case object EOF extends Tok

  private val symbols = List( // longest first
    "=~", "<=", ">=", "<>", "->", "<-", "..", "(", ")", "[", "]", "{", "}",
    ":", ",", ".", "-", ">", "<", "=", "+", "*", "/", "%", "|")

  private def tokenize(q: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    val n = q.length
    while (i < n) {
      val c = q(i)
      if (c.isWhitespace) i += 1
      // Cypher comments — generated queries carry them routinely. Line
      // comments run to end-of-line, block comments to `*/` (non-nesting,
      // Neo4j's rule). Strings are consumed by their own branch first, so
      // `'//'` inside a literal is untouched; division keeps working (the
      // next char is neither '/' nor '*').
      else if (c == '/' && i + 1 < n && q(i + 1) == '/') {
        while (i < n && q(i) != '\n') i += 1
      }
      else if (c == '/' && i + 1 < n && q(i + 1) == '*') {
        val j = q.indexOf("*/", i + 2)
        if (j < 0) throw ParseException("unterminated block comment")
        i = j + 2
      }
      else if (c.isLetter || c == '_' || c == '`') {
        if (c == '`') {
          val j = q.indexOf('`', i + 1)
          if (j < 0) throw ParseException("unterminated backtick identifier")
          out += Ident(q.substring(i + 1, j)); i = j + 1
        } else {
          val s = i
          while (i < n && (q(i).isLetterOrDigit || q(i) == '_')) i += 1
          out += Ident(q.substring(s, i))
        }
      } else if (c.isDigit) {
        val s = i
        while (i < n && q(i).isDigit) i += 1
        // decimal part — but not the ".." range operator
        if (i + 1 < n && q(i) == '.' && q(i + 1).isDigit) {
          i += 1
          while (i < n && q(i).isDigit) i += 1
        }
        out += Num(q.substring(s, i))
      } else if (c == '$') {
        val s = i + 1
        i += 1
        while (i < n && (q(i).isLetterOrDigit || q(i) == '_')) i += 1
        if (i == s) throw ParseException("expected parameter name after '$'")
        out += ParamT(q.substring(s, i))
      } else if (c == '\'' || c == '"') {
        val sb = new StringBuilder
        i += 1
        while (i < n && q(i) != c) {
          if (q(i) == '\\' && i + 1 < n) {
            q(i + 1) match {
              case 'n' => sb += '\n'; i += 2
              case 't' => sb += '\t'; i += 2
              case 'r' => sb += '\r'; i += 2
              case 'b' => sb += '\b'; i += 2
              case 'f' => sb += '\f'; i += 2
              case 'u' if i + 5 < n =>
                sb += Integer.parseInt(q.substring(i + 2, i + 6), 16).toChar
                i += 6
              case other => sb += other; i += 2 // \' \" \\ and any literal
            }
          }
          else { sb += q(i); i += 1 }
        }
        if (i >= n) throw ParseException("unterminated string literal")
        i += 1
        out += Str(sb.toString)
      } else {
        symbols.find(s => q.startsWith(s, i)) match {
          case Some(s) => out += Sym(s); i += s.length
          case None => throw ParseException(s"unexpected character '$c' at $i")
        }
      }
    }
    (out += EOF).result()
  }

  // ----------------------------------------------------------------- parser
  private final class P(toks: Vector[Tok]) {
    private var pos = 0
    def peek: Tok = toks(pos)
    def peek2: Tok = if (pos + 1 < toks.length) toks(pos + 1) else EOF
    def next(): Tok = { val t = toks(pos); pos += 1; t }

    def isKw(kw: String): Boolean = peek match {
      case Ident(s) => s.equalsIgnoreCase(kw)
      case _ => false
    }
    def eatKw(kw: String): Unit =
      if (isKw(kw)) { pos += 1 }
      else throw ParseException(s"expected $kw, found $peek")
    def tryKw(kw: String): Boolean = if (isKw(kw)) { pos += 1; true } else false
    def isSym(s: String): Boolean = peek match {
      case Sym(x) => x == s
      case _ => false
    }
    def eatSym(s: String): Unit =
      if (isSym(s)) { pos += 1 }
      else throw ParseException(s"expected '$s', found $peek")
    def trySym(s: String): Boolean = if (isSym(s)) { pos += 1; true } else false

    def ident(): String = next() match {
      case Ident(s) => s
      case t => throw ParseException(s"expected identifier, found $t")
    }

    private val keywords = Set("match", "optional", "where", "with", "return",
      "order", "by", "limit", "skip", "as", "and", "or", "not", "distinct", "in",
      "is", "null", "asc", "desc", "ascending", "descending", "true", "false",
      "exists", "case", "when", "then", "else", "end", "unwind",
      "create", "merge", "set", "delete", "detach", "on", "remove", "foreach",
      "call")

    // ---------------------------------------------------------------- query
    def query(): Query = query(inSub = false)

    /** `inSub` = parsing a `CALL { … }` body: the closing `}` acts as the
      * end-of-query token instead of EOF.
      */
    private def query(inSub: Boolean, callImports: Option[Seq[String]] = None,
                      requireImportWith: Boolean = false): Query = {
      var stages = Seq.empty[Stage]
      var ret: Projection = null
      // a UNION branch inside a correlated CALL body repeats the importing
      // WITH (Neo4j requires it per-branch, and requires it be IDENTICAL);
      // the first branch's was consumed by the CALL clause parser, so the
      // requirement is only enforced on UNION branches (requireImportWith)
      if (callImports.exists(_.nonEmpty) && isKw("WITH")) {
        eatKw("WITH")
        val br = Seq.newBuilder[String]
        br += ident()
        while (trySym(",")) br += ident()
        if (br.result() != callImports.get)
          throw ParseException(
            "every branch of a correlated CALL { } body must begin with the " +
              s"same importing WITH (${callImports.get.mkString(", ")})")
      } else if (callImports.exists(_.nonEmpty) && requireImportWith)
        throw ParseException(
          "every branch of a correlated CALL { } body must begin with the " +
            s"same importing WITH (${callImports.get.mkString(", ")}); " +
            s"found $peek")
      // first stage must read or write something. OPTIONAL (MATCH) is
      // accepted HERE so the compiler can reject a query-starting
      // OPTIONAL MATCH with its semantic error instead of a parse error
      // (found by the round-trip fuzzer, round 11)
      if (!isKw("MATCH") && !isKw("OPTIONAL") && !isKw("UNWIND") &&
          !isKw("CREATE") && !isKw("MERGE") && !isKw("FOREACH"))
        eatKw("MATCH")
      var done = false
      while (!done) {
        var clauses = Seq.empty[Reading]
        var more = true
        while (more) {
          if (tryKw("MATCH")) clauses :+= matchBody()
          else if (isKw("OPTIONAL")) {
            eatKw("OPTIONAL"); eatKw("MATCH")
            clauses :+= (matchBody() match {
              case MatchClause(ps, _) => MatchClause(ps, optional = true)
              case sp: ShortestPathClause => sp.copy(optional = true)
            })
          } else if (tryKw("UNWIND")) {
            val e = expr(); eatKw("AS")
            clauses :+= UnwindClause(e, ident())
          } else if (isKw("CALL") && peek2 == Sym("{")) {
            eatKw("CALL"); eatSym("{")
            // importing WITH: bare variables only (Neo4j's rule)
            val imports = Seq.newBuilder[String]
            if (tryKw("WITH")) {
              imports += ident()
              while (trySym(",")) imports += ident()
            }
            val imps = imports.result()
            clauses :+= CallClause(imps, query(inSub = true, Some(imps)))
            eatSym("}")
          } else more = false
        }
        val where = if (tryKw("WHERE")) Some(expr()) else None
        val writes = writeClauses()
        if (tryKw("WITH"))
          stages :+= Stage(clauses, where, Some(projection(allowWhere = true)), writes)
        else if (where.nonEmpty && writes.isEmpty && startsReading)
          // `MATCH … WHERE … MATCH/OPTIONAL MATCH/UNWIND/CALL {…}`: the
          // WHERE closes its stage, which carries every variable forward
          // unprojected (the same rows as an explicit `WITH *`)
          stages :+= Stage(clauses, where, None, Nil)
        else if (tryKw("RETURN")) {
          stages :+= Stage(clauses, where, None, writes)
          ret = projection(allowWhere = false)
          done = true
        } else if ((peek == EOF || (inSub && isSym("}"))) && writes.nonEmpty &&
            !requireImportWith) {
          // a write query needs no RETURN (reference injection scripts end
          // on MERGE/SET); synthesize `RETURN count(*) AS rows` so every
          // execution yields a summary row. NOT inside a UNION branch
          // (requireImportWith flags those): every branch must RETURN the
          // same columns explicitly, and a synthesized `rows` column would
          // mismatch the other branches with an obscure union error
          // downstream instead of this parse error (r10 ADVICE).
          stages :+= Stage(clauses, where, None, writes)
          ret = Projection(Seq(Item(Fn("count", Nil), Some("rows"))), distinct = false)
          done = true
        } else if (peek == EOF && writes.nonEmpty && requireImportWith)
          throw ParseException(
            "every UNION branch must RETURN explicitly (a write-only final " +
              "branch cannot synthesize one — its columns must match the " +
              "other branches)")
        else eatKw("RETURN") // error with the expected-keyword message
      }
      if (tryKw("UNION")) {
        val all = tryKw("ALL")
        // consumes to EOF / `}`
        Query(stages, ret, Some((all, query(inSub, callImports, requireImportWith = true))))
      } else if (inSub && isSym("}")) Query(stages, ret) // caller eats `}`
      else peek match {
        case EOF => Query(stages, ret)
        case t => throw ParseException(s"trailing input: $t")
      }
    }

    /** The next token opens a reading clause of a stage's read loop. */
    private def startsReading: Boolean =
      isKw("MATCH") || isKw("OPTIONAL") || isKw("UNWIND") ||
        (isKw("CALL") && peek2 == Sym("{"))

    /** The body of a MATCH: either a pattern list or the path-function form
      * `p = shortestPath((…)-[…]->(…))`.
      */
    private def matchBody(): Reading = (peek, peek2) match {
      case (Ident(pv), Sym("=")) if !keywords.contains(pv.toLowerCase) =>
        next(); next()
        val fn = ident()
        val all = fn.equalsIgnoreCase("allShortestPaths")
        if (!all && !fn.equalsIgnoreCase("shortestPath"))
          throw ParseException(s"unsupported path function: $fn")
        eatSym("(")
        val p = pathPattern()
        eatSym(")")
        ShortestPathClause(pv, p, all)
      case _ => MatchClause(patternList(), optional = false)
    }

    private def writeClauses(): Seq[WriteClause] = {
      val b = Seq.newBuilder[WriteClause]
      var more = true
      def setItems(): Seq[SetItem] = {
        val items = Seq.newBuilder[SetItem]
        def one(): Unit = {
          val v = ident()
          if (isSym(":")) {
            // `SET v:Label[:Label2…]` — label addition
            val ls = Seq.newBuilder[String]
            while (trySym(":")) ls += ident()
            items += SetLabel(v, ls.result(), add = true)
          } else if (trySym(".")) {
            val p = ident(); eatSym("="); items += SetProp(v, p, expr())
          } else if (isSym("+")) {
            eatSym("+"); eatSym("=")
            items += SetPlus(v, propMap())
          } else {
            eatSym("=") // `SET n = {…}` — replace-all
            items += SetAll(v, propMap())
          }
        }
        one()
        while (trySym(",")) one()
        items.result()
      }
      while (more) {
        if (tryKw("CREATE")) b += CreateClause(patternList())
        else if (tryKw("MERGE")) {
          val p = pathPattern()
          var onCreate = Seq.empty[SetItem]
          var onMatch = Seq.empty[SetItem]
          while (isKw("ON")) {
            eatKw("ON")
            val isCreate = tryKw("CREATE")
            if (!isCreate) eatKw("MATCH")
            eatKw("SET")
            if (isCreate) onCreate ++= setItems() else onMatch ++= setItems()
          }
          b += MergeClause(p, onCreate, onMatch)
        }
        else if (tryKw("SET")) b += SetClause(setItems())
        else if (tryKw("REMOVE")) {
          // REMOVE n.p[, m.q …] — property removal is SET-to-null in the
          // tabular store (matches our `SET += {p: null}` semantics);
          // REMOVE n:Label drops secondary label membership
          val items = Seq.newBuilder[SetItem]
          def one(): Unit = {
            val v = ident()
            if (isSym(":")) {
              val ls = Seq.newBuilder[String]
              while (trySym(":")) ls += ident()
              items += SetLabel(v, ls.result(), add = false)
            } else { eatSym("."); items += SetProp(v, ident(), Lit(null)) }
          }
          one()
          while (trySym(",")) one()
          b += SetClause(items.result())
        }
        else if (isKw("DELETE") || isKw("DETACH")) {
          val detach = tryKw("DETACH")
          eatKw("DELETE")
          val vars = Seq.newBuilder[String]
          vars += ident()
          while (trySym(",")) vars += ident()
          b += DeleteClause(vars.result(), detach)
        }
        else if (tryKw("FOREACH")) {
          // FOREACH (x IN coll | write-clauses) — body recurses, so nested
          // FOREACH parses naturally
          eatSym("(")
          val x = ident()
          eatKw("IN")
          val coll = expr()
          eatSym("|")
          val body = writeClauses()
          if (body.isEmpty)
            throw ParseException("FOREACH body needs at least one write clause")
          eatSym(")")
          b += ForeachClause(x, coll, body)
        } else more = false
      }
      b.result()
    }

    def patternList(): Seq[PathPat] = {
      val b = Seq.newBuilder[PathPat]
      b += pathPattern()
      while (trySym(",")) b += pathPattern()
      b.result()
    }

    def pathPattern(): PathPat = {
      val head = nodePattern()
      val hops = Seq.newBuilder[(RelPat, NodePat)]
      var continue = true
      while (continue) {
        if (isSym("-") || isSym("<-")) hops += ((relPattern(), nodePattern()))
        else if (isSym("(") && peek2 == Sym("(")) hops += quantifiedGroup()
        else continue = false
      }
      PathPat(head, hops.result())
    }

    /** Neo4j-5 quantified path pattern `(s) (()-[:R]->()){m,n} (t)` —
      * parser surface only, desugared to the var-length relationship the
      * group repeats (`(s)-[:R*m..n]->(t)`, the G13 machinery; Neo4j's
      * relationship-uniqueness semantics are identical for both
      * spellings). The group must be a single hop with ANONYMOUS inner
      * nodes: a var-length walk cannot bind or constrain intermediate
      * nodes, so those reject loudly rather than silently change meaning.
      * A relationship variable inside the group is a GROUP VARIABLE — it
      * survives the desugar and the compiler binds it to the LIST of
      * traversed relationships. Zero-length quantifiers ({0,n}, *)
      * reject: a length-0 path binds both endpoints to one node.
      */
    private def quantifiedGroup(): (RelPat, NodePat) = {
      eatSym("(")
      val inner = pathPattern()
      eatSym(")")
      val (lo, hi) = quantifier()
      if (inner.hops.size != 1)
        throw ParseException(
          "a quantified path pattern group must contain exactly one " +
            s"relationship (got ${inner.hops.size}) — chain separate groups instead")
      val (rel, innerDst) = inner.hops.head
      def anon(n: NodePat, side: String): Unit =
        if (n.variable.nonEmpty || n.label.nonEmpty || n.props.nonEmpty)
          throw ParseException(
            s"quantified path patterns support anonymous inner nodes only — the " +
              s"$side node binds a variable/label/props, which a var-length " +
              "walk cannot apply per step; constrain the outer endpoints instead")
      anon(inner.head, "left")
      anon(innerDst, "right")
      // a relationship variable inside the group is a GROUP VARIABLE —
      // it binds the LIST of relationships the repetitions traverse.
      // The desugared var-length RelPat keeps the variable; the compiler
      // list-binds it (same machinery as the legacy `-[r:R*1..3]->`
      // spelling, whose variable binds the identical list in Neo4j).
      if (rel.varLength.nonEmpty)
        throw ParseException(
          "a var-length relationship inside a quantified group nests " +
            "quantifiers — use a single *m..n or {m,n}")
      (rel.copy(varLength = Some((lo, hi))), nodePattern())
    }

    /** `{n}` / `{m,n}` / `{m,}` / `{,n}` / `+` / `*` after a quantified
      * group or relationship. Zero-length lower bounds (`*`, `{0,n}`,
      * `{,n}`) are accepted (round 11): a length-0 path binds both
      * endpoints to ONE node — the compiler unions an identity frame
      * under the closure.
      */
    private def quantifier(): (Int, Int) = {
      if (trySym("+")) (1, Unbounded)
      else if (trySym("*")) (0, Unbounded)
      else {
        eatSym("{")
        val lo = peek match {
          case Num(s) => pos += 1; Some(s.toInt)
          case _ => None
        }
        val hi =
          if (trySym(",")) peek match {
            case Num(s) => pos += 1; Some(s.toInt)
            case _ => None // open upper bound
          }
          else lo // `{n}` exact
        eatSym("}")
        // GQL/Neo4j: `{,n}` means 0..n
        (lo.getOrElse(0), hi.getOrElse(Unbounded))
      }
    }

    def nodePattern(): NodePat = {
      eatSym("(")
      var variable: Option[String] = None
      var label: Option[String] = None
      peek match {
        case Ident(s) => variable = Some(s); next()
        case _ =>
      }
      // `:A|B` label disjunction (Neo4j-5 label expression subset; also
      // accepts the `|:B` spelling, mirroring the relationship parser)
      var alts: Seq[String] = Nil
      if (trySym(":")) {
        alts = Seq(ident())
        while (trySym("|")) { trySym(":"); alts :+= ident() }
        alts = alts.distinct
        if (alts.sizeIs == 1) { label = Some(alts.head); alts = Nil }
      }
      val props = if (isSym("{")) propMap() else Nil
      eatSym(")")
      NodePat(variable, label, props, alts)
    }

    private def propMap(): Seq[(String, Expr)] = {
      eatSym("{")
      val b = Seq.newBuilder[(String, Expr)]
      if (!isSym("}")) {
        def one(): Unit = { val k = ident(); eatSym(":"); b += ((k, expr())) }
        one()
        while (trySym(",")) one()
      }
      eatSym("}")
      b.result()
    }

    def relPattern(): RelPat = {
      // <-[r:T]-  |  -[r:T]->  |  -[r:T]-   (bracket part optional: -->, <--)
      val leftArrow = trySym("<-")
      if (!leftArrow) eatSym("-")
      var variable: Option[String] = None
      var labels: Seq[String] = Nil
      var varLength: Option[(Int, Int)] = None
      var props: Seq[(String, Expr)] = Nil
      if (trySym("[")) {
        peek match {
          case Ident(s) => variable = Some(s); pos += 1
          case _ =>
        }
        if (trySym(":")) {
          // type disjunction `[:A|B|C]`; the legacy `[:A|:B]` spelling is
          // accepted too (Neo4j allows both)
          labels = Seq(ident())
          while (trySym("|")) { trySym(":"); labels :+= ident() }
        }
        if (trySym("*")) {
          // Cypher: `*` = 1..unbounded, `*n` = exactly n, `*n..` = n..∞,
          // `*..m` = 1..m. Open upper bounds parse as the [[Unbounded]]
          // sentinel — never silently clamped; the compiler either runs to
          // frontier exhaustion (shortestPath) or fails loudly (closure).
          val lo = peek match {
            case Num(s) => pos += 1; Some(s.toInt)
            case _ => None
          }
          val hi =
            if (trySym("..")) peek match {
              case Num(s) => pos += 1; Some(s.toInt)
              case _ => None // open upper bound
            }
            else lo // `*n` exact; bare `*` open
          varLength = Some((lo.getOrElse(1), hi.getOrElse(Unbounded)))
        }
        if (isSym("{")) props = propMap()
        eatSym("]")
      }
      val rightArrow =
        if (leftArrow) { eatSym("-"); false }
        else if (trySym("->")) true
        else { eatSym("-"); trySym(">") }
      val dir =
        if (leftArrow) In
        else if (rightArrow) Out
        else Undirected
      // Neo4j-5 quantified relationship `-[:R]->{m,n}` / `->+` — the QPP
      // shorthand; a pattern always continues with a `(` node, so a `{` or
      // `+` here is unambiguous. Desugars to the same var-length spec.
      val varLength2 =
        if (varLength.isEmpty && (isSym("{") || isSym("+") || isSym("*")))
          Some(quantifier())
        else varLength
      RelPat(variable, labels.distinct, dir, varLength2, props)
    }

    // ----------------------------------------------------------- projection
    def projection(allowWhere: Boolean): Projection = {
      val distinct = tryKw("DISTINCT")
      val items = Seq.newBuilder[Item]
      def item(): Unit = {
        val e = expr()
        val alias = if (tryKw("AS")) Some(ident()) else None
        items += Item(e, alias)
      }
      // `WITH *` / `RETURN *` carries everything bound; `WITH *, expr AS a`
      // adds items on top
      val star = trySym("*")
      if (!star) { item(); while (trySym(",")) item() }
      else while (trySym(",")) item()
      val where = if (allowWhere && tryKw("WHERE")) Some(expr()) else None
      var orderBy = Seq.empty[Sort]
      if (tryKw("ORDER")) {
        eatKw("BY")
        val b = Seq.newBuilder[Sort]
        def sortItem(): Unit = {
          val e = expr()
          val asc =
            if (tryKw("DESC") || tryKw("DESCENDING")) false
            else { tryKw("ASC"); tryKw("ASCENDING"); true }
          b += Sort(e, asc)
        }
        sortItem()
        while (trySym(",")) sortItem()
        orderBy = b.result()
      }
      val skip = if (tryKw("SKIP")) Some(longLit()) else None
      val limit = if (tryKw("LIMIT")) Some(longLit()) else None
      Projection(items.result(), distinct, where, orderBy, skip, limit, star)
    }

    private def longLit(): Long = next() match {
      case Num(s) => s.toLong
      case t => throw ParseException(s"expected number, found $t")
    }

    // ------------------------------------------------------------ expression
    // precedence: OR < AND < NOT < comparison/IS/IN < add < mul < unary < postfix
    /** While true, the postfix label `|` is suppressed: inside a
      * comprehension's WHERE the bar terminates the predicate
      * (`[x IN xs WHERE p | proj]`), so `WHERE n:A|B` there needs parens —
      * the grammar ambiguity Neo4j's label expressions share. Parentheses
      * re-enable it (a `|` inside them cannot be the comprehension's).
      */
    private var noLabelBar = false
    private def barSuppressed[T](body: => T): T = {
      val saved = noLabelBar; noLabelBar = true
      try body finally noLabelBar = saved
    }
    private def barAllowed[T](body: => T): T = {
      val saved = noLabelBar; noLabelBar = false
      try body finally noLabelBar = saved
    }

    def expr(): Expr = orExpr()

    private def orExpr(): Expr = {
      var l = andExpr()
      while (tryKw("OR")) l = Bin("or", l, andExpr())
      l
    }
    private def andExpr(): Expr = {
      var l = notExpr()
      while (tryKw("AND")) l = Bin("and", l, notExpr())
      l
    }
    private def notExpr(): Expr =
      if (tryKw("NOT")) Not(notExpr()) else comparison()

    private def comparison(): Expr = {
      val l = addExpr()
      peek match {
        case Sym(op @ ("=" | "<>" | "<" | "<=" | ">" | ">=")) =>
          pos += 1
          var r = addExpr()
          var acc: Expr = Bin(op, l, r)
          // chained comparison `0 < x <= 5` = `(0 < x) AND (x <= 5)`
          // (Neo4j semantics; each operand evaluates once syntactically —
          // these are simple operands in practice)
          var chaining = true
          while (chaining) peek match {
            case Sym(op2 @ ("=" | "<>" | "<" | "<=" | ">" | ">=")) =>
              pos += 1
              val r2 = addExpr()
              acc = Bin("and", acc, Bin(op2, r, r2))
              r = r2
            case _ => chaining = false
          }
          acc
        case Sym("=~") =>
          pos += 1; Bin("=~", l, addExpr())
        case Ident(s) if s.equalsIgnoreCase("starts") =>
          pos += 1; eatKw("WITH"); Bin("startswith", l, addExpr())
        case Ident(s) if s.equalsIgnoreCase("ends") =>
          pos += 1; eatKw("WITH"); Bin("endswith", l, addExpr())
        case Ident(s) if s.equalsIgnoreCase("contains") =>
          pos += 1; Bin("contains", l, addExpr())
        case Ident(s) if s.equalsIgnoreCase("is") =>
          pos += 1
          val neg = tryKw("NOT")
          eatKw("NULL")
          IsNull(l, neg)
        case Ident(s) if s.equalsIgnoreCase("in") =>
          pos += 1
          In(l, addExpr()) // `[…]` literal, `$param`, or a list-valued expr
        case _ => l
      }
    }

    private def addExpr(): Expr = {
      var l = mulExpr()
      var continue = true
      while (continue) peek match {
        case Sym(op @ ("+" | "-")) => pos += 1; l = Bin(op, l, mulExpr())
        case _ => continue = false
      }
      l
    }
    private def mulExpr(): Expr = {
      var l = unary()
      var continue = true
      while (continue) peek match {
        case Sym(op @ ("*" | "/" | "%")) => pos += 1; l = Bin(op, l, unary())
        case _ => continue = false
      }
      l
    }
    private def unary(): Expr =
      if (trySym("-")) unary() match {
        // constant-fold so negative literals stay literals (property maps
        // and IN lists only accept Lit)
        case Lit(l: Long) => Lit(-l)
        case Lit(d: Double) => Lit(-d)
        case e => Bin("*", Lit(-1L), e)
      }
      else postfix()

    /** primary with `.prop` chains and `[idx]` subscripts: `v.p` → Prop;
      * `fn(..).year` → Fn("year", fn); `list[0]` → Index.
      */
    private def postfix(): Expr = {
      var e = primary()
      var continue = true
      while (continue) {
        if (trySym(".")) {
          val p = ident()
          e = e match {
            // namespaced function call — `duration.between(a, b)`,
            // `duration.inDays(a, b)`, `date.truncate(u, d)`,
            // `datetime.truncate(u, dt)`, `point.distance(p, q)`; claimed
            // only for the known namespaces AND only when a call follows,
            // so `v.prop` stays a property access everywhere else
            case Var(v) if isSym("(") &&
                Seq("duration", "date", "datetime", "point")
                  .exists(v.equalsIgnoreCase) =>
              eatSym("(")
              val args = Seq.newBuilder[Expr]
              if (!isSym(")")) { args += expr(); while (trySym(",")) args += expr() }
              eatSym(")")
              Fn(s"${v.toLowerCase}.${p.toLowerCase}", args.result())
            case Var(v) => Prop(v, p)
            case other => Fn(p.toLowerCase, Seq(other)) // date(x).year → year(date(x))
          }
        } else if (trySym("[")) {
          val i = expr()
          eatSym("]")
          e = Index(e, i)
        } else if (isSym(":") && (e.isInstanceOf[Var] || e.isInstanceOf[HasLabel])) {
          // label predicate `n:Label[:Label2]` in expression position
          // (`WHERE n:Nation`) — only a bare variable (or a chained label
          // predicate) takes the postfix, so map-literal / clause colons
          // never reach here
          eatSym(":")
          val l = ident()
          e = e match {
            case Var(v) => HasLabel(v, Seq(l))
            case HasLabel(v, ls) => HasLabel(v, ls :+ l)
            case other => other // unreachable by the guard
          }
        } else if (isSym("|") && !noLabelBar &&
            (e.isInstanceOf[HasLabel] || e.isInstanceOf[HasAnyLabel])) {
          // label DISJUNCTION `n:A|B` in expression position (Neo4j-5
          // label expressions; generated Cypher emits the WHERE-position
          // form as readily as the pattern one). Suppressed while parsing
          // a comprehension's WHERE ([[noLabelBar]]): there `|` terminates
          // the predicate — parenthesize `(n:A|B)` to disambiguate, the
          // same rule Neo4j's grammar ambiguity forces.
          eatSym("|")
          val l = ident()
          e = e match {
            case HasLabel(v, ls) =>
              if (ls.sizeIs > 1) throw ParseException(
                s"cannot mix ':' conjunction and '|' disjunction in one " +
                  s"label predicate ($v:${ls.mkString(":")}|$l) — parenthesize")
              HasAnyLabel(v, (ls :+ l).distinct)
            case HasAnyLabel(v, ls) => HasAnyLabel(v, (ls :+ l).distinct)
            case other => other // unreachable by the guard
          }
        } else if (isSym("{") && e.isInstanceOf[Var]) {
          // map projection `n {.prop, .*, alias: expr}` — `{` after a bare
          // variable is unambiguous in expression position (EXISTS/COUNT/
          // COLLECT blocks are claimed earlier, at their keyword)
          eatSym("{")
          val props = Seq.newBuilder[String]
          val extras = Seq.newBuilder[(String, Expr)]
          var star = false
          def item(): Unit =
            if (trySym(".")) {
              if (trySym("*")) star = true else props += ident()
            } else {
              val k = ident(); eatSym(":"); extras += ((k, expr()))
            }
          if (!isSym("}")) { item(); while (trySym(",")) item() }
          eatSym("}")
          e = MapProj(e.asInstanceOf[Var].name, props.result(), star, extras.result())
        } else continue = false
      }
      e
    }

    /** Attempt `[(a)-[:R]->(b) [WHERE pred] | proj]` with the leading `[`
      * already consumed; None (with `pos` restored) when the bracket turns
      * out to be a list literal — a pattern comprehension is only claimed
      * when the path parses WITH at least one hop and a `| proj` follows
      * (Neo4j's grammar makes the projection mandatory).
      */
    private def patternComp(): Option[Expr] = {
      val save = pos
      val p = try Some(pathPattern()) catch { case _: ParseException => None }
      p match {
        case Some(pat) if pat.hops.nonEmpty &&
            (isKw("WHERE") || isSym("|")) =>
          val where = if (tryKw("WHERE")) Some(barSuppressed(expr())) else None
          if (!trySym("|")) { pos = save; None }
          else {
            val proj = expr()
            eatSym("]")
            Some(PatternComp(pat, where, proj))
          }
        case _ => pos = save; None
      }
    }

    private def caseExpr(): Expr = {
      val subject = if (!isKw("WHEN")) Some(expr()) else None
      val branches = Seq.newBuilder[(Expr, Expr)]
      while (tryKw("WHEN")) {
        val cond = expr()
        eatKw("THEN")
        branches += ((cond, expr()))
      }
      val orElse = if (tryKw("ELSE")) Some(expr()) else None
      eatKw("END")
      CaseExpr(subject, branches.result(), orElse)
    }

    private def primary(): Expr = next() match {
      case Num(s) => if (s.contains('.')) Lit(s.toDouble) else Lit(s.toLong)
      case Str(s) => Lit(s)
      case ParamT(s) => Param(s)
      case Sym("(") =>
        // BARE pattern predicate `(a)-[:R]->(b)` in expression position —
        // Neo4j's existence-test shorthand, idiomatic in generated WHERE
        // clauses (round 11). Try the pattern (must have ≥1 hop; a plain
        // `(v)` stays a parenthesized expression), backtrack on failure —
        // the same discipline as [[patternComp]]'s `[(…` disambiguation.
        pos -= 1
        val save = pos
        val pat = try Some(pathPattern()) catch { case _: ParseException => None }
        pat match {
          case Some(p) if p.hops.nonEmpty => PatternPred(p)
          case _ =>
            pos = save
            eatSym("(")
            val e = barAllowed(expr()); eatSym(")"); e
        }
      case Sym("{") => // map literal (temporal constructor argument form)
        pos -= 1
        MapLit(propMap())
      case Sym("[") => // list literal, `[x IN coll WHERE … | …]` comprehension,
        // or `[(a)-[:R]->(b) WHERE … | proj]` pattern comprehension
        (peek, peek2) match {
          case (Ident(v), Ident(kw))
              if kw.equalsIgnoreCase("in") && !keywords.contains(v.toLowerCase) =>
            next(); next()
            val coll = barSuppressed(expr()) // `|` here starts the projection
            val where = if (tryKw("WHERE")) Some(barSuppressed(expr())) else None
            val proj = if (trySym("|")) Some(expr()) else None
            eatSym("]")
            ListComp(v, coll, where, proj)
          case (Sym("("), _) =>
            // `[(…` is ambiguous: a pattern comprehension or a list whose
            // first element is parenthesized. Try the pattern (it must
            // have ≥1 hop and a `| proj`), backtrack on any failure.
            patternComp().getOrElse {
              val b = Seq.newBuilder[Expr]
              if (!isSym("]")) { b += expr(); while (trySym(",")) b += expr() }
              eatSym("]")
              ListLit(b.result())
            }
          case _ =>
            val b = Seq.newBuilder[Expr]
            if (!isSym("]")) { b += expr(); while (trySym(",")) b += expr() }
            eatSym("]")
            ListLit(b.result())
        }
      case Ident(s) if s.equalsIgnoreCase("reduce") && isSym("(") =>
        // reduce(acc = init, x IN coll | step)
        eatSym("(")
        val acc = ident()
        eatSym("=")
        val init = expr()
        eatSym(",")
        val x = ident()
        eatKw("IN")
        val coll = barSuppressed(expr()) // `|` here separates coll from step
        eatSym("|")
        val step = expr()
        eatSym(")")
        ReduceExpr(acc, init, x, coll, step)
      case Ident(s) if ListPredKinds.contains(s.toLowerCase) && isSym("(") =>
        // all/any/none/single(x IN coll WHERE pred) — list predicates
        eatSym("(")
        val x = ident()
        eatKw("IN")
        val coll = expr()
        eatKw("WHERE")
        val pred = expr()
        eatSym(")")
        ListPred(s.toLowerCase, x, coll, pred)
      case Ident(s) if s.equalsIgnoreCase("exists") && isSym("{") =>
        // EXISTS { [MATCH] patterns [WHERE pred] } — Neo4j-5 block form
        eatSym("{")
        tryKw("MATCH")
        val ps = patternList()
        val w = if (tryKw("WHERE")) Some(expr()) else None
        eatSym("}")
        ExistsBlock(ps, w)
      case Ident(s) if s.equalsIgnoreCase("count") && isSym("{") =>
        // COUNT { [MATCH] patterns [WHERE pred] } — per-row match count
        eatSym("{")
        tryKw("MATCH")
        val ps = patternList()
        val w = if (tryKw("WHERE")) Some(expr()) else None
        eatSym("}")
        CountBlock(ps, w)
      case Ident(s) if s.equalsIgnoreCase("collect") && isSym("{") =>
        // COLLECT { [MATCH] patterns [WHERE pred] RETURN expr } — the
        // third Neo4j-5 block form; RETURN is mandatory (it names what
        // to collect)
        eatSym("{")
        tryKw("MATCH")
        val ps = patternList()
        val w = if (tryKw("WHERE")) Some(expr()) else None
        eatKw("RETURN")
        val r = expr()
        // optional ORDER BY (+ LIMIT): orders WITHIN each collected list,
        // LIMIT keeps its head — the "top-k list per row" form
        var ob = Seq.empty[Sort]
        if (tryKw("ORDER")) {
          eatKw("BY")
          val b = Seq.newBuilder[Sort]
          def sortItem(): Unit = {
            val e = expr()
            val asc =
              if (tryKw("DESC") || tryKw("DESCENDING")) false
              else { tryKw("ASC"); tryKw("ASCENDING"); true }
            b += Sort(e, asc)
          }
          sortItem()
          while (trySym(",")) sortItem()
          ob = b.result()
        }
        val lim = if (tryKw("LIMIT")) Some(longLit()) else None
        eatSym("}")
        CollectBlock(ps, w, r, ob, lim)
      case Ident(s) if s.equalsIgnoreCase("exists") && isSym("(") =>
        // exists((a)-[:R]->(b)) → pattern predicate;
        // exists(x.prop) → property-existence (IS NOT NULL)
        eatSym("(")
        if (isSym("(")) { val p = pathPattern(); eatSym(")"); PatternPred(p) }
        else { val e = expr(); eatSym(")"); Fn("exists", Seq(e)) }
      case Ident(s) if s.equalsIgnoreCase("case") => caseExpr()
      case Ident(s) if s.equalsIgnoreCase("null") => Lit(null)
      case Ident(s) if s.equalsIgnoreCase("true") => Lit(true)
      case Ident(s) if s.equalsIgnoreCase("false") => Lit(false)
      case Ident(s) if isSym("(") => // function call
        eatSym("(")
        val distinct = tryKw("DISTINCT")
        val args = Seq.newBuilder[Expr]
        if (!isSym(")")) {
          if (isSym("*")) { eatSym("*") } // count(*) → zero args
          else { args += expr(); while (trySym(",")) args += expr() }
        }
        eatSym(")")
        Fn(s.toLowerCase, args.result(), distinct)
      case Ident(s) if !keywords.contains(s.toLowerCase) => Var(s)
      // a keyword used as a bound variable is unambiguous when a property
      // access follows — text2cypher output routinely binds `order`
      // (reference: final/experimenting_new/notebook1.ipynb:844)
      case Ident(s) if isSym(".") => Var(s)
      case t => throw ParseException(s"unexpected token in expression: $t")
    }
  }

  def parse(q: String): Query = new P(tokenize(q)).query()
}
