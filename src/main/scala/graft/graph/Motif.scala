package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Ad-hoc declarative graph-pattern queries — the front-end that closes
  * the one capability-class gap vs the reference (VERDICT r11 task 1):
  * the reference's user hands *arbitrary* Cypher strings to Neo4j at
  * runtime (/root/reference/kmeans_clustering/database.py:46-48
  * `session.run(query)`; the patterns at image_classification.py:465-468
  * `MATCH (i:Image)-[:CLOSEST_TO]->(c:Centroid) WHERE ID(c)=$cid` and
  * the aggregate form at :513-522). Here the same pattern class is a
  * tiny motif grammar compiled onto the PropertyGraph nodes/edges
  * DataFrames — every clause becomes the equi-join / filter / aggregate
  * kernels the catalog queries already use, so Catalyst plans patterns
  * exactly like the hand-written forms (broadcast for selective sides,
  * pushed filters, partial aggregation; plan-shape-pinned in PlanSpec).
  *
  * Grammar (Cypher-flavoured subset; `MATCH` optional, paths separated
  * by `,` or `;`):
  *
  * {{{
  * [MATCH] (a:Supplier)-[:SUPPLIES]->(p:Part {id: 1000001}),
  *         (b:Supplier)-[e:SUPPLIES]->(p)
  * [WHERE a.id <> b.id AND e.weight >= 1.0
  *        AND NOT (a)-[:SUPPLIES]->(x:Part {id: 7})]
  * [OPTIONAL MATCH (a)-[:SUPPLIES]->(q:Part) [WHERE q.id < 1000005]]
  * ( RETURN [DISTINCT] a.id AS src, count(p) AS cnt
  *   [ORDER BY src [ASC|DESC], ...] [LIMIT n]
  * | CREATE (a)-[:CO_SUPPLIER {weight: 2.0}]->(b)
  * | SET a.name = 'PREFERRED' | SET e.weight = 2.0
  * | DELETE e | DETACH DELETE a )
  * }}}
  *
  * - node: `(name)` | `(name:Label)` | `(name:Label {prop: lit, ...})`
  *   (a property map desugars to equality predicates)
  * - edge: `-[:TYPE]->`, `-[e:TYPE]->`, `<-[:TYPE]-`, `-[e]->`, `-->`
  *   (direction is resolved at parse time; edge variables expose
  *   `e.weight` / `e.rel_type`); variable-length: `-[:TYPE*2]->`,
  *   `-[:TYPE*1..3]->`, `-[:TYPE*..3]->` — one row per PATH, bounds
  *   explicit and ≤ [[MaxVarHops]] (each hop is one more equi-join;
  *   unbounded reachability belongs to the iterated kernels)
  * - predicates: `var.prop op literal` or `var.prop op var.prop` with
  *   op ∈ {=, <>, !=, <, <=, >, >=}; conjunctions with AND; plus
  *   `NOT (a)-[:T]->(b)` — a single-edge anti-pattern whose endpoints
  *   are bound vars or LOCAL (existential) node specs — compiled to a
  *   left-anti join / NOT EXISTS
  * - OPTIONAL MATCH: one optional group (any number of paths) that must
  *   share ≥1 variable with the main pattern — compiled to a LEFT JOIN
  *   of the optional sub-pattern on the shared variables; a WHERE after
  *   it is scoped to the optional block (Cypher scoping), and label /
  *   property constraints written in the optional block on
  *   optional-bound vars filter only the optional side
  * - RETURN: property refs (with optional alias) and the aggregates
  *   count(*), count(v), sum/min/max/avg(v.prop); any aggregate turns
  *   the remaining refs into grouping keys. Omitted RETURN projects
  *   every node variable's id. Optional-bound refs are NULL on rows the
  *   optional group did not match.
  * - writes (the reference's other half of the Cypher surface —
  *   `create_relationship`'s `MATCH (a),(b) WHERE … CREATE
  *   (a)-[r:TYPE]->(b)` at database.py:51-67 and the centroid `SET` at
  *   image_classification.py:499-503): `CREATE (a)-[:T {weight: w}]->(b)`
  *   compiles to the new-edge rows (src, dst, rel_type, weight) — one
  *   per match row — for the edges-append sink; `SET v.name = 'x'`
  *   compiles to the full updated nodes relation and `SET e.weight = w`
  *   to the full updated edges relation (the recompute-overwrite
  *   kernel); `DELETE e` / `DETACH DELETE n` (the reference's teardown
  *   statements — `MATCH (n) DETACH DELETE n` at database.py:42-48 and
  *   `MATCH ()-[r]-() DELETE r` at image_classification.py:353-362)
  *   compile to the post-delete nodes/edges relations via anti-joins
  *   over the matched key set. Writes go through [[parseStatement]];
  *   [[parse]] accepts reads only.
  *
  * Semantics are SQL join semantics (pattern HOMOMORPHISM — repeated
  * edges allowed, like GraphFrames `find`, unlike Cypher's
  * edge-isomorphism), shared verbatim by both compilation targets:
  * [[Motif.dataFrame]] builds the Spark plan and [[Motif.sql]] emits the
  * equivalent ANSI SQL over `nodes`/`edges` relations — so a pattern's
  * DuckDB oracle is GENERATED from the very same AST, never hand-kept
  * in sync. ORDER BY emits explicit NULLS FIRST (asc) / NULLS LAST
  * (desc) to pin DuckDB to Spark's default null ordering — load-bearing
  * once OPTIONAL MATCH makes output columns nullable.
  */
object Motif {

  // ── AST ─────────────────────────────────────────────────────────────
  final case class PropRef(v: String, prop: String)
  sealed trait Operand
  final case class Ref(r: PropRef) extends Operand
  final case class LitLong(x: Long) extends Operand
  final case class LitDouble(x: Double) extends Operand
  final case class LitStr(x: String) extends Operand

  final case class Pred(left: PropRef, op: String, right: Operand)
  /** minHops/maxHops > 1 ⇒ a variable-length edge `-[:T*a..b]->`:
    * one output row per PATH (UNION ALL over hop counts, Cypher's
    * path-multiplicity semantics under homomorphism). */
  final case class EdgePat(src: String, name: Option[String],
      relType: Option[String], dst: String,
      minHops: Int = 1, maxHops: Int = 1)

  /** An endpoint of a `NOT (…)-[:T]->(…)` anti-pattern: either a
    * variable bound by the main pattern, or a LOCAL (existentially
    * quantified) node spec — label and/or property equalities — that
    * constrains the anti-join build side without binding anything. */
  sealed trait NodeRef
  final case class Bound(v: String) extends NodeRef
  final case class Local(label: Option[String],
      props: Seq[(String, Operand)]) extends NodeRef
  final case class NegPat(src: NodeRef, relType: Option[String], dst: NodeRef)

  /** Loud bound on `*a..b` expansion — each hop is one more equi-join;
    * past this, express the traversal as an iterated kernel (BFS /
    * reachability) instead of a pattern. */
  val MaxVarHops = 8

  sealed trait RetItem { def alias: String }
  final case class ColItem(ref: PropRef, alias: String) extends RetItem
  /** func ∈ count|sum|min|max|avg; arg None ⇔ count(*). */
  final case class AggItem(func: String, arg: Option[PropRef], alias: String)
      extends RetItem

  final case class Pattern(
      nodeLabels: Map[String, Option[String]], // var -> label constraint
      nodeOrder: Seq[String],                  // MAIN-block first-appearance order
      edges: Seq[EdgePat],
      preds: Seq[Pred],
      distinct: Boolean,
      items: Seq[RetItem],
      orderBy: Seq[(String, Boolean)],         // (output alias, ascending)
      limit: Option[Int],
      optEdges: Seq[EdgePat] = Seq.empty,      // OPTIONAL MATCH group
      optNodeOrder: Seq[String] = Seq.empty,   // vars FIRST bound optionally
      optPreds: Seq[Pred] = Seq.empty,         // WHERE scoped to the group
      negs: Seq[NegPat] = Seq.empty) {
    /** Edge variables declared in the main / optional block. */
    def mainEdgeVars: Set[String] = edges.flatMap(_.name).toSet
    def optEdgeVars: Set[String] = optEdges.flatMap(_.name).toSet
    /** Node vars bound by the main block. */
    def mainVars: Set[String] = nodeOrder.toSet
    /** Vars whose output columns come from the optional sub-plan. */
    def optVars: Set[String] = optNodeOrder.toSet ++ optEdgeVars
    /** Shared join keys between main and the optional group. */
    def sharedVars: Seq[String] =
      optEdges.flatMap(e => Seq(e.src, e.dst)).distinct.filter(mainVars)
  }

  // ── write statements ────────────────────────────────────────────────
  sealed trait Statement { def pattern: Pattern }
  final case class ReadStmt(pattern: Pattern) extends Statement
  /** `MATCH … CREATE (src)-[:relType {weight: w}]->(dst)` — one new
    * edge row per match row (Cypher row multiplicity). */
  final case class CreateStmt(pattern: Pattern, src: String,
      relType: String, dst: String, weight: Option[Operand]) extends Statement
  /** `MATCH … SET target = value` — node `name` or edge `weight`. */
  final case class SetStmt(pattern: Pattern, target: PropRef,
      value: Operand) extends Statement
  /** `MATCH … DELETE e` (edge variable) or `MATCH … DETACH DELETE n`
    * (node variable; incident edges go too — Cypher's DETACH semantics,
    * the reference's teardown statements at database.py:42-48 /
    * image_classification.py:353-362). Plain `DELETE n` on a node is
    * rejected at parse time (Cypher would fail it at runtime whenever
    * edges remain; rejecting early is the loud version). */
  final case class DeleteStmt(pattern: Pattern, target: String,
      detach: Boolean) extends Statement

  private val NodeProps = Set("id", "label", "name")
  private val EdgeProps = Set("rel_type", "weight")

  // ── tokenizer ───────────────────────────────────────────────────────
  private sealed trait Tok
  private case class TId(s: String) extends Tok      // identifier / keyword
  private case class TNum(s: String) extends Tok
  private case class TStr(s: String) extends Tok
  private case class TSym(s: String) extends Tok     // punct / operator
  private case object TEnd extends Tok

  private def tokenize(in: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    val n = in.length
    while (i < n) {
      val c = in(i)
      if (c.isWhitespace) i += 1
      else if (c.isLetter || c == '_') {
        val j0 = i
        while (i < n && (in(i).isLetterOrDigit || in(i) == '_')) i += 1
        out += TId(in.substring(j0, i))
      } else if (c.isDigit) {
        val j0 = i
        while (i < n && (in(i).isDigit || in(i) == '.')) i += 1
        out += TNum(in.substring(j0, i))
      } else if (c == '\'') {
        val j0 = i + 1
        i += 1
        while (i < n && in(i) != '\'') i += 1
        require(i < n, s"motif parse: unterminated string at offset $j0")
        out += TStr(in.substring(j0, i)); i += 1
      } else {
        // longest-match multi-char operators / arrows first
        val two = if (i + 1 < n) in.substring(i, i + 2) else ""
        if (two == "<=" || two == ">=" || two == "<>" || two == "!=" ||
            two == "->" || two == "<-" || two == "--") {
          out += TSym(two); i += 2
        } else {
          require("()[]{}:,;.<>=-*".indexOf(c) >= 0,
            s"motif parse: unexpected character '$c' at offset $i")
          out += TSym(c.toString); i += 1
        }
      }
    }
    (out += TEnd).result()
  }

  // ── recursive-descent parser ────────────────────────────────────────
  /** Read-only entry point: rejects CREATE/SET. */
  def parse(pattern: String): Pattern = parseStatement(pattern) match {
    case ReadStmt(p) => p
    case other => throw new IllegalArgumentException(
      s"motif parse: write statement ${other.getClass.getSimpleName} — use parseStatement")
  }

  def parseStatement(pattern: String): Statement =
    new P(tokenize(pattern)).statement()

  private final class P(ts: Vector[Tok]) {
    private var pos = 0
    private def peek: Tok = ts(pos)
    private def next(): Tok = { val t = ts(pos); pos += 1; t }
    private def isKw(t: Tok, kw: String): Boolean = t match {
      case TId(s) => s.equalsIgnoreCase(kw)
      case _ => false
    }
    private def eatKw(kw: String): Boolean =
      if (isKw(peek, kw)) { pos += 1; true } else false
    private def expectSym(s: String): Unit = next() match {
      case TSym(x) if x == s => ()
      case t => fail(s"expected '$s', got $t")
    }
    private def ident(): String = next() match {
      case TId(s) => s
      case t => fail(s"expected identifier, got $t")
    }
    private def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"motif parse: $msg (token #$pos)")

    private val labels = scala.collection.mutable.LinkedHashMap[String, Option[String]]()
    private val mainEdges = scala.collection.mutable.Buffer[EdgePat]()
    private val optEdges = scala.collection.mutable.Buffer[EdgePat]()
    private val mainPreds = scala.collection.mutable.Buffer[Pred]()
    private val optPreds = scala.collection.mutable.Buffer[Pred]()
    private val negs = scala.collection.mutable.Buffer[NegPat]()
    private val edgeVars = scala.collection.mutable.Set[String]()
    // routing: node()/path() append into the ACTIVE block's buffers
    private var curEdges = mainEdges
    private var curPreds = mainPreds
    private var inOptional = false

    private def bindNode(v: String, label: Option[String]): Unit = {
      require(!edgeVars.contains(v), s"motif parse: '$v' is both node and edge")
      (labels.get(v).flatten, label) match {
        case (Some(a), Some(b)) if a != b =>
          fail(s"variable '$v' bound to two labels: $a, $b")
        case (None, Some(_)) if inOptional && labels.contains(v) &&
            !optFirstBound.contains(v) =>
          // a NEW label constraint on a main-bound var inside OPTIONAL
          // would have to filter only the optional side, but the label
          // join lives in the block that first bound the var — reject
          fail(s"optional block may not add a label to main-bound '$v'")
        case _ => labels(v) = labels.get(v).flatten.orElse(label)
      }
    }
    // vars first bound inside the optional group, in order
    private val optFirstBound = scala.collection.mutable.LinkedHashSet[String]()

    /** `(name[:Label][{p: lit,…}])` → var name. */
    private def node(): String = {
      expectSym("(")
      val v = ident()
      val label = if (peek == TSym(":")) { next(); Some(ident()) } else None
      if (inOptional && !labels.contains(v)) optFirstBound += v
      bindNode(v, label)
      if (peek == TSym("{")) {
        next()
        var first = true
        while (peek != TSym("}")) {
          if (!first) expectSym(",")
          first = false
          val p = ident()
          expectSym(":")
          curPreds += Pred(PropRef(v, p), "=", literal())
        }
        next()
      }
      expectSym(")")
      v
    }

    private def literal(): Operand = next() match {
      case TNum(s) if s.contains('.') => LitDouble(s.toDouble)
      case TNum(s) => LitLong(s.toLong)
      case TStr(s) => LitStr(s)
      case TSym("-") => next() match {
        case TNum(s) if s.contains('.') => LitDouble(-s.toDouble)
        case TNum(s) => LitLong(-s.toLong)
        case t => fail(s"expected number after '-', got $t")
      }
      case t => fail(s"expected literal, got $t")
    }

    /** `-[e:T]->` / `<-[:T]-` / `-->` between two node() calls. */
    private def path(): Unit = {
      var left = node()
      while (peek == TSym("-") || peek == TSym("<-") || peek == TSym("--")) {
        val back = peek == TSym("<-")
        next()
        var ename: Option[String] = None
        var etype: Option[String] = None
        var hops = (1, 1)
        if (peek == TSym("[")) {
          next()
          peek match {
            case TId(_) => ename = Some(ident())
            case _ => ()
          }
          if (peek == TSym(":")) { next(); etype = Some(ident()) }
          if (peek == TSym("*")) {
            next()
            require(ename.isEmpty,
              "motif parse: variable-length edges cannot bind a variable")
            // the tokenizer reads digits+dots greedily, so `2..3`
            // arrives as ONE number token; `..3` as two '.' + a number
            val (lo, hi) = peek match {
              case TNum(s0) if s0.contains("..") =>
                next()
                val parts = s0.split("\\.\\.")
                require(parts.length == 2 && parts.forall(_.forall(_.isDigit)),
                  s"motif parse: malformed hop range '*$s0'")
                (parts(0).toInt, parts(1).toInt)
              case TNum(s0) if s0.forall(_.isDigit) =>
                next(); (s0.toInt, s0.toInt)
              case TSym(".") =>
                next(); expectSym(".")
                peek match {
                  case TNum(s) if s.forall(_.isDigit) => next(); (1, s.toInt)
                  case t => fail(s"expected max hop count after '*..', got $t")
                }
              case t => fail(s"expected explicit hop bounds after '*' " +
                s"(unbounded '*' is not supported — use an iterated kernel), got $t")
            }
            require(lo >= 1 && hi >= lo && hi <= MaxVarHops,
              s"motif parse: hop range *$lo..$hi out of [1, $MaxVarHops]")
            hops = (lo, hi)
          }
          expectSym("]")
          if (back) expectSym("-")
          else next() match {
            case TSym("->") => ()
            case t => fail(s"expected '->' after edge, got $t")
          }
        } else if (!back) {
          // bare `-->` tokenized as "--" then ">"
          next() match {
            case TSym(">") => ()
            case t => fail(s"expected '>' in '-->', got $t")
          }
        } else {
          // `<--` tokenized as "<-" then "-"
          next() match {
            case TSym("-") => ()
            case t => fail(s"expected '-' in '<--', got $t")
          }
        }
        val right = node()
        ename.foreach { e =>
          require(!labels.contains(e), s"motif parse: '$e' is both node and edge")
          // the same edge variable on two edges would silently rebind in
          // sql() (last alias wins) and duplicate `e__prop` columns in
          // dataFrame() — fail loudly at parse time on both targets
          require(!edgeVars.contains(e),
            s"motif parse: edge variable '$e' bound on two edges")
          edgeVars += e
        }
        require(hops == (1, 1) || left != right,
          "motif parse: variable-length self-loop patterns are not supported")
        curEdges += (if (back) EdgePat(right, ename, etype, left, hops._1, hops._2)
                     else EdgePat(left, ename, etype, right, hops._1, hops._2))
        left = right
      }
    }

    private def propRef(): PropRef = {
      val v = ident()
      expectSym(".")
      PropRef(v, ident())
    }

    private def predicate(): Pred = {
      val l = propRef()
      val op = next() match {
        case TSym("=") => "="
        case TSym("<>") | TSym("!=") => "<>"
        case TSym("<") => "<"
        case TSym("<=") => "<="
        case TSym(">") => ">"
        case TSym(">=") => ">="
        case t => fail(s"expected comparison operator, got $t")
      }
      val r = peek match {
        case TId(_) => Ref(propRef())
        case _ => literal()
      }
      Pred(l, op, r)
    }

    /** A node endpoint inside `NOT (…)`: a bound var (bare name, no new
      * constraints) or a local spec `([x][:Label][{k: lit}])`. */
    private def negNode(): NodeRef = {
      expectSym("(")
      val name: Option[String] = peek match {
        case TId(_) => Some(ident())
        case _ => None
      }
      val label = if (peek == TSym(":")) { next(); Some(ident()) } else None
      val props = Seq.newBuilder[(String, Operand)]
      if (peek == TSym("{")) {
        next()
        var first = true
        while (peek != TSym("}")) {
          if (!first) expectSym(",")
          first = false
          val k = ident()
          expectSym(":")
          props += ((k, literal()))
        }
        next()
      }
      expectSym(")")
      val ps = props.result()
      name match {
        case Some(v) if labels.contains(v) =>
          require(label.isEmpty && ps.isEmpty,
            s"motif parse: NOT pattern may not re-constrain bound var '$v'")
          Bound(v)
        case _ => Local(label, ps) // unbound name = anonymous existential
      }
    }

    /** `NOT (a)-[:T]->(b)` — exactly one edge, no hops, no edge var. */
    private def negPattern(): NegPat = {
      val first = negNode()
      val back = peek == TSym("<-")
      require(peek == TSym("-") || peek == TSym("<-") || peek == TSym("--"),
        s"motif parse: expected edge in NOT pattern, got $peek")
      next()
      var etype: Option[String] = None
      if (peek == TSym("[")) {
        next()
        if (peek == TSym(":")) { next(); etype = Some(ident()) }
        else fail("NOT pattern edge may not bind a variable")
        expectSym("]")
        if (back) expectSym("-")
        else next() match {
          case TSym("->") => ()
          case t => fail(s"expected '->' in NOT pattern, got $t")
        }
      } else if (!back) next() match {
        case TSym(">") => ()
        case t => fail(s"expected '>' in NOT pattern '-->', got $t")
      } else next() match {
        case TSym("-") => ()
        case t => fail(s"expected '-' in NOT pattern '<--', got $t")
      }
      val second = negNode()
      if (back) NegPat(second, etype, first) else NegPat(first, etype, second)
    }

    private def whereClause(allowNeg: Boolean): Unit = {
      def term(): Unit =
        if (isKw(peek, "NOT")) {
          require(allowNeg,
            "motif parse: NOT patterns are only supported in the main WHERE")
          next(); negs += negPattern()
        } else curPreds += predicate()
      term()
      while (eatKw("AND")) term()
    }

    private def retItem(): RetItem = peek match {
      case TId(f) if Set("count", "sum", "min", "max", "avg")
          .contains(f.toLowerCase) && ts(pos + 1) == TSym("(") =>
        next(); next()
        val func = f.toLowerCase
        val arg: Option[PropRef] = peek match {
          case TSym("*") =>
            require(func == "count", s"motif parse: $func(*) is not valid")
            next(); None
          case _ =>
            val v = ident()
            if (peek == TSym(".")) { next(); Some(PropRef(v, ident())) }
            else {
              require(func == "count", s"motif parse: $func needs var.prop")
              Some(PropRef(v, "id"))
            }
        }
        expectSym(")")
        val alias = if (eatKw("AS")) ident() else func
        AggItem(func, arg, alias)
      case _ =>
        val r = propRef()
        val alias = if (eatKw("AS")) ident() else s"${r.v}_${r.prop}"
        ColItem(r, alias)
    }

    def statement(): Statement = {
      eatKw("MATCH")
      path()
      while (peek == TSym(",") || peek == TSym(";")) { next(); path() }
      if (eatKw("WHERE")) whereClause(allowNeg = true)
      if (eatKw("OPTIONAL")) {
        require(eatKw("MATCH"), "motif parse: OPTIONAL must be followed by MATCH")
        inOptional = true
        curEdges = optEdges
        curPreds = optPreds
        path()
        while (peek == TSym(",") || peek == TSym(";")) { next(); path() }
        if (eatKw("WHERE")) whereClause(allowNeg = false)
        inOptional = false
      }

      def basePattern(distinct: Boolean, items: Seq[RetItem],
          order: Seq[(String, Boolean)], limit: Option[Int]): Pattern = {
        val optVarsOrdered = optFirstBound.toSeq
        val mainOrder = labels.keys.toSeq.filterNot(optFirstBound.contains)
        Pattern(labels.toMap, mainOrder, mainEdges.toSeq, mainPreds.toSeq,
          distinct, items, order, limit, optEdges.toSeq, optVarsOrdered,
          optPreds.toSeq, negs.toSeq)
      }

      if (eatKw("CREATE")) {
        expectSym("(")
        val a = ident()
        expectSym(")")
        expectSym("-"); expectSym("[")
        if (peek != TSym(":")) { ident(); () } // optional (ignored) edge var
        expectSym(":")
        val t = ident()
        var w: Option[Operand] = None
        if (peek == TSym("{")) {
          next()
          val k = ident()
          require(k == "weight", s"motif parse: CREATE edge property must be weight, got '$k'")
          expectSym(":")
          w = Some(peek match {
            case TId(_) => Ref(propRef())
            case _ => literal()
          })
          expectSym("}")
        }
        expectSym("]")
        next() match {
          case TSym("->") => ()
          case tk => fail(s"expected '->' in CREATE, got $tk")
        }
        expectSym("(")
        val b = ident()
        expectSym(")")
        require(peek == TEnd, s"motif parse: trailing tokens after CREATE from #$pos")
        val pat = basePattern(distinct = false, Seq.empty, Seq.empty, None)
        val st = CreateStmt(pat, a, t, b, w)
        validateStatement(st)
        st
      } else if (eatKw("SET")) {
        val target = propRef()
        expectSym("=")
        val v = literal()
        require(peek == TEnd, s"motif parse: trailing tokens after SET from #$pos")
        val pat = basePattern(distinct = false, Seq.empty, Seq.empty, None)
        val st = SetStmt(pat, target, v)
        validateStatement(st)
        st
      } else if (isKw(peek, "DETACH") || isKw(peek, "DELETE")) {
        val detach = eatKw("DETACH")
        if (detach)
          require(eatKw("DELETE"), "motif parse: DETACH must be followed by DELETE")
        else { eatKw("DELETE"); () }
        val v = ident()
        require(peek == TEnd, s"motif parse: trailing tokens after DELETE from #$pos")
        val pat = basePattern(distinct = false, Seq.empty, Seq.empty, None)
        val st = DeleteStmt(pat, v, detach)
        validateStatement(st)
        st
      } else {
        var distinct = false
        val items = Seq.newBuilder[RetItem]
        if (eatKw("RETURN")) {
          distinct = eatKw("DISTINCT")
          items += retItem()
          while (peek == TSym(",")) { next(); items += retItem() }
        }
        val order = Seq.newBuilder[(String, Boolean)]
        if (eatKw("ORDER")) {
          require(eatKw("BY"), "motif parse: ORDER must be followed by BY")
          def one(): Unit = {
            val a = ident()
            val asc = if (eatKw("DESC")) false else { eatKw("ASC"); true }
            order += ((a, asc))
          }
          one()
          while (peek == TSym(",")) { next(); one() }
        }
        val limit = if (eatKw("LIMIT")) next() match {
          case TNum(s) => Some(s.toInt)
          case t => fail(s"expected LIMIT count, got $t")
        } else None
        require(peek == TEnd, s"motif parse: trailing tokens from #$pos")

        val its0 = items.result()
        val its = if (its0.nonEmpty) its0
          else labels.keys.toSeq.map(v => ColItem(PropRef(v, "id"), v))
        val pat = basePattern(distinct, its, order.result(), limit)
        validate(pat)
        ReadStmt(pat)
      }
    }

    private def checkRef(p: Pattern, r: PropRef): Unit = {
      val evs = p.mainEdgeVars ++ p.optEdgeVars
      if (evs.contains(r.v))
        require(EdgeProps.contains(r.prop),
          s"motif parse: edge '${r.v}' has no property '${r.prop}'")
      else {
        require(p.nodeLabels.contains(r.v),
          s"motif parse: unbound variable '${r.v}'")
        require(NodeProps.contains(r.prop),
          s"motif parse: node '${r.v}' has no property '${r.prop}'")
      }
    }

    private def validate(p: Pattern): Unit = {
      def checkPred(pr: Pred, scope: String => Boolean, where: String): Unit = {
        checkRef(p, pr.left)
        require(scope(pr.left.v), s"motif parse: '$where' cannot see '${pr.left.v}'")
        pr.right match {
          case Ref(r) =>
            checkRef(p, r)
            require(scope(r.v), s"motif parse: '$where' cannot see '${r.v}'")
          case _ => ()
        }
      }
      // main WHERE sees main vars only (Cypher scoping: it is evaluated
      // before the OPTIONAL MATCH)
      val mainScope = (v: String) => p.mainVars.contains(v) || p.mainEdgeVars.contains(v)
      p.preds.foreach(checkPred(_, mainScope, "main WHERE"))
      // optional WHERE sees opt vars' props + any var's id-level columns
      // present in the optional sub-plan (shared vars expose id only)
      val optScope = (ref: PropRef) =>
        p.optVars.contains(ref.v) ||
          (p.sharedVars.contains(ref.v) && ref.prop == "id")
      p.optPreds.foreach { pr =>
        checkRef(p, pr.left)
        require(optScope(pr.left),
          s"motif parse: optional WHERE may reference optional vars and shared ids only, got '${pr.left.v}.${pr.left.prop}'")
        pr.right match {
          case Ref(r) =>
            checkRef(p, r)
            require(optScope(r),
              s"motif parse: optional WHERE may reference optional vars and shared ids only, got '${r.v}.${r.prop}'")
          case _ => ()
        }
      }
      if (p.optEdges.nonEmpty)
        require(p.sharedVars.nonEmpty,
          "motif parse: OPTIONAL MATCH must share at least one variable with the main pattern")
      p.negs.foreach { n =>
        Seq(n.src, n.dst).foreach {
          case Bound(v) =>
            require(p.mainVars.contains(v),
              s"motif parse: NOT pattern endpoint '$v' must be a main-bound node variable")
          case Local(_, props) => props.foreach { case (k, _) =>
            require(NodeProps.contains(k),
              s"motif parse: NOT pattern node has no property '$k'") }
        }
        require(n.src.isInstanceOf[Bound] || n.dst.isInstanceOf[Bound],
          "motif parse: NOT pattern needs at least one bound endpoint")
      }
      p.items.foreach {
        case ColItem(r, _) => checkRef(p, r)
        case AggItem(_, a, _) => a.foreach(checkRef(p, _))
      }
      val aliases = p.items.map(_.alias)
      require(aliases.distinct.size == aliases.size,
        s"motif parse: duplicate output aliases in ${aliases.mkString(", ")}")
      p.orderBy.foreach { case (a, _) =>
        require(aliases.contains(a), s"motif parse: ORDER BY '$a' is not an output column")
      }
    }

    private def validateStatement(st: Statement): Unit = st match {
      case ReadStmt(p) => validate(p)
      case CreateStmt(p, a, _, b, w) =>
        require(p.optEdges.isEmpty, "motif parse: CREATE with OPTIONAL MATCH is not supported")
        Seq(a, b).foreach(v => require(p.mainVars.contains(v),
          s"motif parse: CREATE endpoint '$v' is not a bound node variable"))
        w.foreach {
          case Ref(r) =>
            checkRef(p, r)
            require(p.mainVars.contains(r.v) || p.mainEdgeVars.contains(r.v),
              s"motif parse: CREATE weight ref '${r.v}' must be main-bound")
          case _ => ()
        }
        validate(p.copy(items = Seq(ColItem(PropRef(a, "id"), a))))
      case DeleteStmt(p, v, detach) =>
        require(p.optEdges.isEmpty, "motif parse: DELETE with OPTIONAL MATCH is not supported")
        if (detach)
          require(p.mainVars.contains(v),
            s"motif parse: DETACH DELETE target '$v' is not a bound node variable")
        else if (p.mainVars.contains(v))
          fail(s"motif parse: DELETE on node '$v' needs DETACH DELETE (incident edges would remain)")
        else {
          require(p.mainEdgeVars.contains(v),
            s"motif parse: DELETE target '$v' is not a bound edge variable")
          // ADVICE r14: the delete's survivor anti-join keys on
          // (endpoints, rel_type) only — a predicate on the deleted
          // edge's OWN properties (WHERE e.weight > x) would also remove
          // parallel sibling edges between the same endpoints that the
          // pattern did not match, diverging from Cypher; and the SQL
          // twin shares the anti-join, so the oracle gate cannot catch
          // it. Reject the form (the SET-statement restriction style)
          // until the anti-join key carries the edge properties.
          require(!referencedProps(p).exists(_.v == v),
            s"motif parse: DELETE $v with a predicate on $v's properties is " +
              "not supported (the survivor anti-join keys on endpoints + " +
              "rel_type and would drop parallel sibling edges)")
        }
        validate(p.copy(items = Seq(ColItem(PropRef(p.nodeOrder.head, "id"),
          p.nodeOrder.head))))
      case SetStmt(p, t, v) =>
        require(p.optEdges.isEmpty, "motif parse: SET with OPTIONAL MATCH is not supported")
        if (p.mainEdgeVars.contains(t.v)) {
          require(t.prop == "weight", s"motif parse: SET on edge '${t.v}' must target weight")
          require(v.isInstanceOf[LitLong] || v.isInstanceOf[LitDouble],
            "motif parse: SET e.weight needs a numeric literal")
        } else {
          require(p.mainVars.contains(t.v),
            s"motif parse: SET target '${t.v}' is not bound by the pattern")
          require(t.prop == "name", s"motif parse: SET on node '${t.v}' must target name")
          require(v.isInstanceOf[LitStr], "motif parse: SET v.name needs a string literal")
        }
        validate(p.copy(items = Seq(ColItem(PropRef(p.nodeOrder.head, "id"),
          p.nodeOrder.head))))
    }
  }

  // ── shared compilation helpers ──────────────────────────────────────
  /** Node/edge variables whose PROPERTIES (beyond a node's id) are
    * referenced anywhere — those nodes need the nodes-table join; a
    * node var used only for its id rides the edge endpoint column. */
  private def referencedProps(p: Pattern): Set[PropRef] = {
    val b = Set.newBuilder[PropRef]
    (p.preds ++ p.optPreds).foreach { pr =>
      b += pr.left
      pr.right match { case Ref(r) => b += r; case _ => () }
    }
    p.items.foreach {
      case ColItem(r, _) => b += r
      case AggItem(_, a, _) => a.foreach(b += _)
    }
    b.result()
  }

  private def nodeNeedsJoin(p: Pattern, refs: Set[PropRef])(v: String): Boolean =
    p.nodeLabels.get(v).flatten.isDefined ||
      refs.exists(r => r.v == v && r.prop != "id")

  private def isEdgeVar(p: Pattern)(v: String): Boolean =
    !p.nodeLabels.contains(v)

  private def litCol(o: Operand): Column = o match {
    case LitLong(x) => lit(x)
    case LitDouble(x) => lit(x)
    case LitStr(x) => lit(x)
    case Ref(r) => sys.error(s"unexpected ref $r")
  }

  private def litSql(o: Operand): String = o match {
    case LitLong(v) => v.toString
    case LitDouble(v) => v.toString
    case LitStr(v) => s"'${v.replace("'", "''")}'"
    case Ref(r) => sys.error(s"unexpected ref $r")
  }

  // ── target 1: the Spark DataFrame plan ──────────────────────────────
  /** One pattern block (main or optional) as a DataFrame: columns are
    * node var v → `v` (the id), node property → `v__prop`, edge var e
    * property → `e__prop`. `nodeJoinVars` are the vars whose node-table
    * join lives in THIS block (for the optional block, only vars first
    * bound there — shared vars' property columns come from main). */
  private def blockDf(g: PropertyGraph, p: Pattern, refs: Set[PropRef],
      edges: Seq[EdgePat], nodeJoinVars: Seq[String]): DataFrame = {
    val needsJoin = nodeNeedsJoin(p, refs) _
    var df: DataFrame = null
    val bound = scala.collection.mutable.Set[String]()
    def merge(next: DataFrame, on: Seq[String]): Unit =
      df = if (df == null) next
           else if (on.isEmpty) df.crossJoin(next)
           else df.join(next, on)

    edges.foreach { ep =>
      val base0 = ep.relType.fold(g.edges)(t => g.edges.filter(col("rel_type") === t))
      val edf =
        if (ep.maxHops == 1) {
          val cols = Seq.newBuilder[Column]
          if (ep.src == ep.dst) cols += col("src").as(ep.src)
          else { cols += col("src").as(ep.src); cols += col("dst").as(ep.dst) }
          ep.name.foreach { e =>
            EdgeProps.foreach(pr =>
              if (refs.contains(PropRef(e, pr))) cols += col(pr).as(s"${e}__$pr"))
          }
          val base = if (ep.src == ep.dst) base0.filter(col("src") === col("dst")) else base0
          base.select(cols.result(): _*)
        } else {
          // `*a..b`: UNION ALL of the k-hop equi-join chains, one row
          // per path — each chain joins k copies of the typed edge
          // list on the hop column, exactly the graph_two_hop kernel
          // iterated
          def kHop(k: Int): DataFrame = {
            var cur = base0.select(col("src").as(ep.src), col("dst").as("__hop"))
            (2 to k).foreach { _ =>
              cur = cur.join(base0.select(col("src").as("__hop"),
                  col("dst").as("__nxt")), "__hop")
                .select(col(ep.src), col("__nxt").as("__hop"))
            }
            cur.select(col(ep.src), col("__hop").as(ep.dst))
          }
          (ep.minHops to ep.maxHops).map(kHop).reduce(_ unionByName _)
        }
      val shared = Seq(ep.src, ep.dst).distinct.filter(bound.contains)
      merge(edf, shared)
      bound += ep.src; bound += ep.dst
    }

    nodeJoinVars.foreach { v =>
      if (needsJoin(v) || !bound.contains(v)) {
        val lbl = p.nodeLabels(v)
        val base = lbl.fold(g.nodes)(l => g.nodes.filter(col("label") === l))
        val cols = Seq.newBuilder[Column]
        cols += col("id").as(v)
        NodeProps.filter(_ != "id").foreach(pr =>
          if (refs.contains(PropRef(v, pr))) cols += col(pr).as(s"${v}__$pr"))
        val ndf = base.select(cols.result(): _*)
        merge(ndf, if (bound.contains(v)) Seq(v) else Seq.empty)
        bound += v
      }
    }
    require(df != null, "motif compile: empty pattern block")
    df
  }

  private def colOf(p: Pattern)(r: PropRef): Column =
    if (!isEdgeVar(p)(r.v) && r.prop == "id") col(r.v) else col(s"${r.v}__${r.prop}")

  private def predCol(p: Pattern)(pr: Pred): Column = {
    val l = colOf(p)(pr.left)
    val r = pr.right match {
      case Ref(rr) => colOf(p)(rr)
      case o => litCol(o)
    }
    pr.op match {
      case "=" => l === r
      case "<>" => l =!= r
      case "<" => l < r
      case "<=" => l <= r
      case ">" => l > r
      case ">=" => l >= r
    }
  }

  /** The matched-rows DataFrame (pattern joins + WHERE + NOT patterns +
    * optional group), before RETURN projection — shared by reads and
    * the write compilers. */
  private def matchDf(g: PropertyGraph, p: Pattern,
      extraRefs: Set[PropRef] = Set.empty): DataFrame = {
    val refs = referencedProps(p) ++ extraRefs
    var df = blockDf(g, p, refs, p.edges, p.nodeOrder)
    p.preds.foreach(pr => df = df.filter(predCol(p)(pr)))
    // NOT patterns: left-anti join against the (constrained) edge list
    p.negs.foreach { n =>
      var ne = n.relType.fold(g.edges)(t => g.edges.filter(col("rel_type") === t))
      def constrain(end: String, ref: NodeRef): Unit = ref match {
        case Local(label, props) =>
          props.foreach {
            case ("id", v) => ne = ne.filter(col(end) === litCol(v))
            case _ => ()
          }
          val other = props.filter(_._1 != "id")
          if (label.isDefined || other.nonEmpty) {
            var ns = g.nodes
            label.foreach(l => ns = ns.filter(col("label") === l))
            other.foreach { case (k, v) => ns = ns.filter(col(k) === litCol(v)) }
            ne = ne.join(ns.select(col("id").as(end)), Seq(end), "left_semi")
          }
        case Bound(_) => ()
      }
      constrain("src", n.src)
      constrain("dst", n.dst)
      val keyCols = Seq.newBuilder[(String, String)] // (main var, neg col)
      n.src match { case Bound(v) => keyCols += ((v, "__neg_src")); case _ => () }
      n.dst match { case Bound(v) => keyCols += ((v, "__neg_dst")); case _ => () }
      val ks = keyCols.result()
      val negSide = ne.select(col("src").as("__neg_src"), col("dst").as("__neg_dst"))
        .select(ks.map { case (_, c) => col(c) }.distinct: _*)
      val cond = ks.map { case (v, c) => col(v) === col(c) }.reduce(_ && _)
      df = df.join(negSide, cond, "left_anti")
    }
    if (p.optEdges.nonEmpty) {
      var opt = blockDf(g, p, refs, p.optEdges, p.optNodeOrder)
      p.optPreds.foreach(pr => opt = opt.filter(predCol(p)(pr)))
      df = df.join(opt, p.sharedVars, "left")
    }
    df
  }

  /** Column naming: node var v → column `v` (the id); node property →
    * `v__prop`; edge var e property → `e__prop`. */
  def dataFrame(g: PropertyGraph, p: Pattern): DataFrame = {
    val df = matchDf(g, p)
    val co = colOf(p) _
    val aggs = p.items.collect { case a: AggItem => a }
    var out =
      if (aggs.isEmpty) {
        val sel = p.items.map { case ColItem(r, a) => co(r).as(a); case x => sys.error(x.toString) }
        val d = df.select(sel: _*)
        if (p.distinct) d.distinct() else d
      } else {
        val keys = p.items.collect { case ColItem(r, a) => co(r).as(a) }
        val aggCols = aggs.map { a =>
          val c = a.func match {
            case "count" => a.arg.fold(count(lit(1)))(r => count(co(r)))
            case "sum" => sum(co(a.arg.get))
            case "min" => min(co(a.arg.get))
            case "max" => max(co(a.arg.get))
            case "avg" => avg(co(a.arg.get))
          }
          c.as(a.alias)
        }
        val keyed =
          if (keys.isEmpty) df.agg(aggCols.head, aggCols.tail: _*)
          else df.groupBy(keys: _*).agg(aggCols.head, aggCols.tail: _*)
        // groupBy(keys).agg keeps key aliases; order columns per RETURN
        keyed.select(p.items.map(i => col(i.alias)): _*)
      }
    if (p.orderBy.nonEmpty)
      out = out.orderBy(p.orderBy.map { case (a, asc) =>
        if (asc) col(a).asc else col(a).desc }: _*)
    p.limit.foreach(n => out = out.limit(n))
    out
  }

  /** `CREATE (a)-[:T {weight: w}]->(b)` → the new edge rows
    * (src, dst, rel_type, weight), one per match row. */
  def createDf(g: PropertyGraph, st: CreateStmt): DataFrame = {
    val extra = st.weight match {
      case Some(Ref(r)) => Set(r)
      case _ => Set.empty[PropRef]
    }
    val df = matchDf(g, st.pattern, extra)
    val w: Column = st.weight match {
      case Some(Ref(r)) => colOf(st.pattern)(r).cast("double")
      case Some(o) => litCol(o).cast("double")
      case None => lit(1.0)
    }
    df.select(col(st.src).as("src"), col(st.dst).as("dst"),
      lit(st.relType).as("rel_type"), w.as("weight"))
  }

  /** `SET v.name = 'x'` → the full updated nodes relation;
    * `SET e.weight = w` → the full updated edges relation (the
    * recompute-overwrite kernel: never a row-at-a-time mutation). */
  def setDf(g: PropertyGraph, st: SetStmt): DataFrame = {
    val p = st.pattern
    if (p.mainEdgeVars.contains(st.target.v)) {
      val ep = p.edges.find(_.name.contains(st.target.v)).get
      val matched = matchDf(g, p)
        .select(col(ep.src).as("src"), col(ep.dst).as("dst")).distinct()
        .withColumn("__hit", lit(1))
      val typeOk: Column = ep.relType.fold(lit(true))(t => col("rel_type") === t)
      g.edges.join(matched, Seq("src", "dst"), "left")
        .select(col("src"), col("dst"), col("rel_type"),
          when(col("__hit").isNotNull && typeOk, litCol(st.value).cast("double"))
            .otherwise(col("weight")).as("weight"))
    } else {
      val matched = matchDf(g, p)
        .select(col(st.target.v).as("id")).distinct()
        .withColumn("__hit", lit(1))
      g.nodes.join(matched, Seq("id"), "left")
        .select(col("id"), col("label"),
          when(col("__hit").isNotNull, litCol(st.value))
            .otherwise(col("name")).as("name"))
    }
  }

  /** `DELETE e` / `DETACH DELETE n` → the post-delete (nodes, edges)
    * relations — the same recompute-overwrite kernel as [[setDf]]
    * (never row-at-a-time): survivors are an anti-join of the base
    * relation against the matched key set. Edge delete leaves nodes
    * untouched; DETACH node delete also drops every incident edge. */
  def deleteDf(g: PropertyGraph, st: DeleteStmt): (DataFrame, DataFrame) = {
    val p = st.pattern
    if (st.detach) {
      val ids = matchDf(g, p)
        .select(col(st.target).as("id")).distinct()
      val nodes2 = g.nodes.join(ids, Seq("id"), "left_anti")
      val edges2 = g.edges
        .join(ids.select(col("id").as("src")), Seq("src"), "left_anti")
        .join(ids.select(col("id").as("dst")), Seq("dst"), "left_anti")
        .select(col("src"), col("dst"), col("rel_type"), col("weight"))
      (nodes2, edges2)
    } else {
      val ep = p.edges.find(_.name.contains(st.target)).get
      val matched = matchDf(g, p)
        .select(col(ep.src).as("src"), col(ep.dst).as("dst")).distinct()
        .withColumn("__hit", lit(1))
      val typeOk: Column = ep.relType.fold(lit(true))(t => col("rel_type") === t)
      val edges2 = g.edges.join(matched, Seq("src", "dst"), "left")
        .filter(!(col("__hit").isNotNull && typeOk))
        .select(col("src"), col("dst"), col("rel_type"), col("weight"))
      (g.nodes, edges2)
    }
  }

  // ── target 2: ANSI SQL from the SAME AST (the generated oracle) ─────
  /** Join-chain context for one pattern block. */
  private final class SqlBlock(p: Pattern, refs: Set[PropRef],
      nodesRel: String, edgesRel: String, pfx: String) {
    val bind = scala.collection.mutable.LinkedHashMap[String, String]()
    val nodeAlias = scala.collection.mutable.Map[String, String]()
    val leading = scala.collection.mutable.Buffer[String]()
    private val from = new StringBuilder
    private var first = true
    private def addRel(rel: String, alias: String, conds: Seq[String]): Unit =
      if (first) {
        from ++= s"$rel $alias"; first = false; leading ++= conds
      } else if (conds.isEmpty) from ++= s"\n  CROSS JOIN $rel $alias"
      else from ++= s"\n  JOIN $rel $alias ON ${conds.mkString(" AND ")}"

    def build(edges: Seq[EdgePat], nodeJoinVars: Seq[String]): Unit = {
      val needsJoin = nodeNeedsJoin(p, refs) _
      edges.zipWithIndex.foreach { case (ep, i) =>
        val a = s"${pfx}e$i"
        val conds = Seq.newBuilder[String]
        val rel =
          if (ep.maxHops == 1) {
            ep.relType.foreach(t => conds += s"$a.rel_type = '$t'")
            if (ep.src == ep.dst) conds += s"$a.src = $a.dst"
            edgesRel
          } else {
            // derived table: UNION ALL of the unrolled k-hop join chains
            // (type predicate inside, so the alias exposes plain src/dst)
            def kHopSql(k: Int): String = {
              val joins = (2 to k).map { j =>
                val tc = ep.relType.fold("")(t => s" AND h$j.rel_type = '$t'")
                s"  JOIN $edgesRel h$j ON h$j.src = h${j - 1}.dst$tc"
              }.mkString("\n")
              val t1 = ep.relType.fold("")(t => s" WHERE h1.rel_type = '$t'")
              s"SELECT h1.src AS src, h$k.dst AS dst FROM $edgesRel h1" +
                (if (k > 1) s"\n$joins" else "") + t1
            }
            (ep.minHops to ep.maxHops).map(kHopSql)
              .mkString("(", "\n  UNION ALL\n", ")")
          }
        if (bind.contains(ep.src)) conds += s"$a.src = ${bind(ep.src)}"
        else bind(ep.src) = s"$a.src"
        if (ep.dst != ep.src) {
          if (bind.contains(ep.dst)) conds += s"$a.dst = ${bind(ep.dst)}"
          else bind(ep.dst) = s"$a.dst"
        }
        ep.name.foreach(e => bind(e) = a)
        addRel(rel, a, conds.result())
      }
      nodeJoinVars.foreach { v =>
        if (needsJoin(v) || !bind.contains(v)) {
          val a = s"${pfx}n_$v"
          val conds = Seq.newBuilder[String]
          p.nodeLabels(v).foreach(l => conds += s"$a.label = '$l'")
          if (bind.contains(v)) conds += s"$a.id = ${bind(v)}"
          addRel(nodesRel, a, conds.result())
          if (!bind.contains(v)) bind(v) = s"$a.id"
          nodeAlias(v) = a
        }
      }
    }

    def exprOf(r: PropRef): String =
      if (isEdgeVar(p)(r.v)) s"${bind(r.v)}.${r.prop}"
      else if (r.prop == "id") bind(r.v)
      else s"${nodeAlias(r.v)}.${r.prop}"

    def operand(o: Operand): String = o match {
      case Ref(r) => exprOf(r)
      case other => litSql(other)
    }

    def predSql(pr: Pred): String =
      s"${exprOf(pr.left)} ${pr.op} ${operand(pr.right)}"

    def fromSql: String = from.result()
  }

  /** The FROM/WHERE spine of the statement: main chain + NOT EXISTS
    * conditions + LEFT JOIN of the optional sub-select. Returns the
    * main block (for binds), the full FROM string, and the outer WHERE
    * conditions. Outer references to optional-bound vars resolve
    * through the `opt` sub-select alias. */
  private def matchSql(p: Pattern, refs: Set[PropRef],
      nodesRel: String, edgesRel: String):
      (SqlBlock, String, Seq[String], PropRef => String) = {
    val main = new SqlBlock(p, refs, nodesRel, edgesRel, "")
    main.build(p.edges, p.nodeOrder)
    val where = main.leading.toSeq ++ p.preds.map(main.predSql) ++
      p.negs.zipWithIndex.map { case (n, i) =>
        val a = s"gx$i"
        val conds = scala.collection.mutable.Buffer[String]()
        val joins = new StringBuilder(s"$edgesRel $a")
        n.relType.foreach(t => conds += s"$a.rel_type = '$t'")
        def constrain(end: String, ref: NodeRef, nodeAl: String): Unit = ref match {
          case Bound(v) => conds += s"$a.$end = ${main.bind(v)}"
          case Local(label, props) =>
            props.foreach {
              case ("id", v) => conds += s"$a.$end = ${litSql(v)}"
              case _ => ()
            }
            val other = props.filter(_._1 != "id")
            if (label.isDefined || other.nonEmpty) {
              val on = Seq(s"$nodeAl.id = $a.$end") ++
                label.map(l => s"$nodeAl.label = '$l'") ++
                other.map { case (k, v) => s"$nodeAl.$k = ${litSql(v)}" }
              joins ++= s" JOIN $nodesRel $nodeAl ON ${on.mkString(" AND ")}"
            }
        }
        constrain("src", n.src, s"gnsrc$i")
        constrain("dst", n.dst, s"gndst$i")
        s"NOT EXISTS (SELECT 1 FROM ${joins.result()} WHERE ${conds.mkString(" AND ")})"
      }

    var fromAll = main.fromSql
    var exprOf: PropRef => String = main.exprOf
    if (p.optEdges.nonEmpty) {
      val ob = new SqlBlock(p, refs, nodesRel, edgesRel, "o")
      ob.build(p.optEdges, p.optNodeOrder)
      // sub-select exposes every opt-block var id as `v`, plus each
      // referenced property of opt-bound node/edge vars as `v__prop`
      val sel = scala.collection.mutable.LinkedHashSet[String]()
      ob.bind.keys.filterNot(p.optEdgeVars).foreach(v => sel += s"${ob.bind(v)} AS $v")
      refs.filter(r => p.optVars.contains(r.v) && !(r.prop == "id" && !p.optEdgeVars(r.v)))
        .foreach(r => sel += s"${ob.exprOf(r)} AS ${r.v}__${r.prop}")
      val optWhere = ob.leading.toSeq ++ p.optPreds.map(ob.predSql)
      val sub = new StringBuilder("(SELECT ")
      sub ++= sel.mkString(", ")
      sub ++= s"\n   FROM ${ob.fromSql}"
      if (optWhere.nonEmpty) sub ++= s"\n   WHERE ${optWhere.mkString(" AND ")}"
      sub ++= ")"
      val on = p.sharedVars.map(v => s"opt.$v = ${main.bind(v)}")
      fromAll = s"$fromAll\n  LEFT JOIN ${sub.result()} opt ON ${on.mkString(" AND ")}"
      val mainExpr = main.exprOf _
      exprOf = (r: PropRef) =>
        if (p.optVars.contains(r.v)) {
          if (!isEdgeVar(p)(r.v) && r.prop == "id") s"opt.${r.v}"
          else s"opt.${r.v}__${r.prop}"
        } else mainExpr(r)
    }
    (main, fromAll, where, exprOf)
  }

  /** Emits `SELECT … FROM edges e0 JOIN … JOIN nodes n_v ON …` against
    * relations named `nodes(id,label,name)` / `edges(src,dst,rel_type,
    * weight)` — prepend CTEs defining those two views of the underlying
    * tables (see PropertyGraph.motifCtes) and the statement is the
    * DuckDB oracle for [[dataFrame]]. Pass `nodesRel`/`edgesRel` to
    * point the pattern at differently-named relations (e.g. the
    * post-CREATE union view in a write-roundtrip oracle). */
  def sql(p: Pattern, nodesRel: String = "nodes",
      edgesRel: String = "edges"): String = {
    val refs = referencedProps(p)
    val (_, fromAll, where, exprOf) = matchSql(p, refs, nodesRel, edgesRel)
    val aggs = p.items.collect { case a: AggItem => a }
    val selItems = p.items.map {
      case ColItem(r, a) => s"${exprOf(r)} AS $a"
      case AggItem(f, arg, a) =>
        val inner = arg.fold("*")(exprOf)
        val core = if (f == "count") s"CAST(count($inner) AS BIGINT)"
          else s"$f($inner)"
        s"$core AS $a"
    }
    val groupKeys = p.items.collect { case ColItem(r, _) => exprOf(r) }

    val sb = new StringBuilder("SELECT ")
    if (p.distinct) sb ++= "DISTINCT "
    sb ++= selItems.mkString(", ")
    sb ++= s"\nFROM $fromAll"
    if (where.nonEmpty) sb ++= s"\nWHERE ${where.mkString(" AND ")}"
    if (aggs.nonEmpty && groupKeys.nonEmpty)
      sb ++= s"\nGROUP BY ${groupKeys.mkString(", ")}"
    if (p.orderBy.nonEmpty)
      // explicit null placement pins DuckDB (default NULLS LAST on ASC)
      // to Spark's asc_nulls_first/desc_nulls_last defaults — matters
      // whenever an ORDER BY column comes from the optional block
      sb ++= "\nORDER BY " + p.orderBy.map { case (a, asc) =>
        s"$a${if (asc) " ASC NULLS FIRST" else " DESC NULLS LAST"}" }.mkString(", ")
    p.limit.foreach(n => sb ++= s"\nLIMIT $n")
    sb.result()
  }

  /** The SQL twin of [[createDf]]: SELECTs the created edge rows. */
  def createSql(st: CreateStmt, nodesRel: String = "nodes",
      edgesRel: String = "edges"): String = {
    val extra = st.weight match {
      case Some(Ref(r)) => Set(r)
      case _ => Set.empty[PropRef]
    }
    val p = st.pattern
    val refs = referencedProps(p) ++ extra
    val (main, fromAll, where, exprOf) = matchSql(p, refs, nodesRel, edgesRel)
    val w = st.weight match {
      case Some(Ref(r)) => s"CAST(${exprOf(r)} AS DOUBLE)"
      case Some(o) => s"CAST(${litSql(o)} AS DOUBLE)"
      case None => "CAST(1.0 AS DOUBLE)"
    }
    val sb = new StringBuilder("SELECT ")
    sb ++= s"${main.bind(st.src)} AS src, ${main.bind(st.dst)} AS dst, " +
      s"'${st.relType}' AS rel_type, $w AS weight"
    sb ++= s"\nFROM $fromAll"
    if (where.nonEmpty) sb ++= s"\nWHERE ${where.mkString(" AND ")}"
    sb.result()
  }

  /** The SQL twin of [[setDf]]: the full updated nodes (or edges)
    * relation via CASE WHEN over the matched key set. */
  def setSql(st: SetStmt, nodesRel: String = "nodes",
      edgesRel: String = "edges"): String = {
    val p = st.pattern
    val refs = referencedProps(p)
    val (main, fromAll, where, _) = matchSql(p, refs, nodesRel, edgesRel)
    val whereSql = if (where.nonEmpty) s"\n  WHERE ${where.mkString(" AND ")}" else ""
    if (p.mainEdgeVars.contains(st.target.v)) {
      val ep = p.edges.find(_.name.contains(st.target.v)).get
      val sub = s"SELECT DISTINCT ${main.bind(ep.src)} AS src, " +
        s"${main.bind(ep.dst)} AS dst\n  FROM $fromAll$whereSql"
      val typeOk = ep.relType.fold("")(t => s" AND g.rel_type = '$t'")
      s"""SELECT g.src, g.dst, g.rel_type,
         |  CASE WHEN m.src IS NOT NULL$typeOk
         |       THEN CAST(${litSql(st.value)} AS DOUBLE)
         |       ELSE g.weight END AS weight
         |FROM $edgesRel g LEFT JOIN ($sub) m ON m.src = g.src AND m.dst = g.dst""".stripMargin
    } else {
      val sub = s"SELECT DISTINCT ${main.bind(st.target.v)} AS id" +
        s"\n  FROM $fromAll$whereSql"
      s"""SELECT g.id, g.label,
         |  CASE WHEN m.id IS NOT NULL THEN ${litSql(st.value)}
         |       ELSE g.name END AS name
         |FROM $nodesRel g LEFT JOIN ($sub) m ON m.id = g.id""".stripMargin
    }
  }

  /** The SQL twins of [[deleteDf]]: the post-delete edges / nodes
    * relations via anti-joins over the matched key set generated from
    * the same DeleteStmt AST. */
  def deleteEdgesSql(st: DeleteStmt, nodesRel: String = "nodes",
      edgesRel: String = "edges"): String = {
    val p = st.pattern
    val refs = referencedProps(p)
    val (main, fromAll, where, _) = matchSql(p, refs, nodesRel, edgesRel)
    val whereSql = if (where.nonEmpty) s"\n  WHERE ${where.mkString(" AND ")}" else ""
    if (st.detach) {
      val sub = s"SELECT DISTINCT ${main.bind(st.target)} AS id\n  FROM $fromAll$whereSql"
      s"""SELECT g.src, g.dst, g.rel_type, g.weight
         |FROM $edgesRel g
         |WHERE g.src NOT IN ($sub) AND g.dst NOT IN ($sub)""".stripMargin
    } else {
      val ep = p.edges.find(_.name.contains(st.target)).get
      val sub = s"SELECT DISTINCT ${main.bind(ep.src)} AS src, " +
        s"${main.bind(ep.dst)} AS dst\n  FROM $fromAll$whereSql"
      val typeOk = ep.relType.fold("")(t => s" AND g.rel_type = '$t'")
      s"""SELECT g.src, g.dst, g.rel_type, g.weight
         |FROM $edgesRel g LEFT JOIN ($sub) m ON m.src = g.src AND m.dst = g.dst
         |WHERE NOT (m.src IS NOT NULL$typeOk)""".stripMargin
    }
  }

  /** Post-delete nodes: unchanged for an edge delete, anti-joined for
    * DETACH. */
  def deleteNodesSql(st: DeleteStmt, nodesRel: String = "nodes",
      edgesRel: String = "edges"): String =
    if (!st.detach) s"SELECT id, label, name FROM $nodesRel"
    else {
      val p = st.pattern
      val refs = referencedProps(p)
      val (main, fromAll, where, _) = matchSql(p, refs, nodesRel, edgesRel)
      val whereSql = if (where.nonEmpty) s"\n  WHERE ${where.mkString(" AND ")}" else ""
      val sub = s"SELECT DISTINCT ${main.bind(st.target)} AS id\n  FROM $fromAll$whereSql"
      s"""SELECT g.id, g.label, g.name
         |FROM $nodesRel g
         |WHERE g.id NOT IN ($sub)""".stripMargin
    }
}
