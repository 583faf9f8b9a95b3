package graft.core

import graft.core.Result.Result
import scala.collection.mutable

/** Mini template engine covering the constructs the reference's projects
  * exercise (sayn/utils/compiler.py:31-135, which exposes full Jinja):
  *
  *   - `{{ expression }}` substitution over parameters and globals
  *     (`full_load`, `start_dt`, `end_dt`, `task.name`, `task.group`)
  *     plus the built-in calls `src('obj')`, `out('obj')`,
  *     `config(key=value, ...)` and `range(stop)` /
  *     `range(start, stop[, step])`;
  *   - control flow: `{% if cond %}` / `{% elif %}` / `{% else %}` /
  *     `{% endif %}` and `{% for x in seq %}` / `{% endfor %}` with Jinja's
  *     `loop.index/index0/first/last/length` variables;
  *   - filter pipes: `x | default('d') | upper` — default (incl. boolean
  *     mode), join, upper, lower, trim, replace, capitalize, title,
  *     length/count, first, last, int, float, abs, round, min, max;
  *   - `{% macro name(arg, arg2='default') %}` … `{% endmacro %}` with
  *     positional/keyword/default arguments and definition-scope closure;
  *   - cross-file composition via the Context loader: `{% include 'f' %}`
  *     (rendered in the current scope), `{% import 'f' %}` (flat merge of
  *     the file's macros/assignments), `{% from 'f' import a, b as c %}`
  *     and namespaced `{% import 'f' as ns %}` with dotted access
  *     (`{{ ns.macro(...) }}`, `{{ ns.var }}`);
  *   - `{% set var = expr %}` assignments;
  *   - `{% raw %} … {% endraw %}` verbatim blocks (template syntax
  *     inside passes through untouched — the escape hatch for SQL that
  *     itself contains `{{`);
  *   - `{# comments #}` (dropped).
  *
  * Every expression position — `{{ }}`, `{% set %}`, `{% if %}`/`{% elif
  * %}`, the `{% for %}` iterable, include/import paths, macro defaults,
  * call and filter arguments — is one [[Expr]] grammar, parsed into an
  * AST when it is first evaluated and walked by one evaluator, so the
  * same text means the same value wherever it appears. Filters bind to
  * the operand on their left, tighter than arithmetic and comparison
  * (`xs | length > 2`); `and`/`or` skip their right operand as Python
  * does, so a skipped `src()` records no lineage and a skipped division
  * raises nothing.
  *
  * Conditions follow Python/Jinja semantics: truthiness (None/false/""/0/
  * empty list are falsy). An undefined name is Jinja's Undefined: an
  * error in `{{ }}` unless piped into `default`, false under `is
  * defined`, and None (falsy) everywhere else, because reference
  * projects guard optional parameters with bare `{% if flag %}`. In a
  * call or filter argument a bare name with no binding is its own text
  * (`src(schema.table)`).
  */
object Compiler {

  /** Macro hooks supplied per compilation pass. `config` fires only when
    * `allowConfig` (first compile; sayn/tasks/sql.py:159-165) and renders
    * as the empty string.
    */
  final case class Context(
      params: Map[String, Any] = Map.empty,
      src: String => String = identity,
      out: String => String = identity,
      config: Map[String, Any] => Unit = _ => (),
      allowConfig: Boolean = false,
      warn: String => Unit = _ => (),
      /** Resolves `{% include %}` / `{% import %}` paths to template
        * text (the engine analog of the reference's
        * FileSystemLoader(Path("."), sayn/utils/compiler.py:48-50)).
        * None = no such template; the default loader loads nothing.
        */
      loader: String => Option[String] = _ => None)

  // ---- template AST ------------------------------------------------------

  private sealed trait Node
  private final case class Text(s: String) extends Node
  private final case class Interp(expr: Expr.Src) extends Node
  private final case class IfNode(
      branches: Seq[(Expr.Src, Seq[Node])], elseBody: Seq[Node]) extends Node
  private final case class ForNode(
      varName: String, iter: Expr.Src, body: Seq[Node]) extends Node
  private final case class SetNode(varName: String, expr: Expr.Src) extends Node
  private final case class MacroNode(
      name: String, params: Seq[(String, Option[Expr.Ast])],
      body: Seq[Node]) extends Node
  private final case class IncludeNode(path: Expr.Src) extends Node
  /** `names = None` imports every macro/assignment; `Some(ns)` is the
    * `{% from %}` form restricted to those `(source, boundAs)` pairs —
    * `boundAs` differs from `source` under `{% from 'f' import a as b %}`.
    * `alias = Some(ns)` is the namespaced `{% import 'f' as ns %}` form:
    * the file's definitions bind under ONE scope key as a map, reached
    * with dotted access (`{{ ns.macro(...) }}`, `{{ ns.var }}`).
    */
  private final case class ImportNode(
      path: Expr.Src, names: Option[Seq[(String, String)]],
      alias: Option[String] = None) extends Node

  /** A defined `{% macro %}`, stored in the template scope like any other
    * value; closes over its definition scope (Jinja semantics). Defaults
    * are expressions, evaluated against that scope at each call.
    */
  private final case class MacroDef(
      name: String, params: Seq[(String, Option[Expr.Ast])], body: Seq[Node],
      defScope: Map[String, Any]) {
    override def toString: String = s"<macro $name>"
  }

  /** `{{ expr }}` | `{% tag %}` (with optional whitespace-control dashes,
    * treated as plain tags) | `{# comment #}`.
    */
  private val TokenRe =
    "(?s)\\{\\{(.*?)\\}\\}|\\{%-?\\s*(.*?)\\s*-?%\\}|\\{#.*?#\\}".r

  /** One left-to-right alternation: a comment (passes through for the
    * main lexer to drop) OR a raw block (content captured verbatim).
    */
  private val RawOrCommentRe =
    ("(?s)(\\{#.*?#\\})|" +
      "\\{%-?\\s*raw\\s*-?%\\}(.*?)\\{%-?\\s*endraw\\s*-?%\\}").r
  private val RawOpenRe = "\\{%-?\\s*raw\\s*-?%\\}".r
  private val CommentRe = "(?s)\\{#.*?#\\}".r
  private val SentinelRe = "\u0000(\\d+)\u0000".r

  def compile(template: String, ctx: Context): Result[String] =
    parseTemplate(template).flatMap(render(_, ctx, ctx.params))

  // ---- parser ------------------------------------------------------------

  private def parseTemplate(template: String): Result[Seq[Node]] = {
    // {% raw %} pre-pass, BEFORE lexing: raw content must not tokenize
    // ({{...}} inside it is literal output — the Jinja escape hatch for
    // SQL that itself contains template syntax). One left-to-right scan
    // matches comments and raw blocks together, so a raw opener inside
    // a comment stays commented and a comment inside raw stays literal
    // — the same precedence a single-pass Jinja lexer gives. Contents
    // stash under NUL-framed sentinels (never produced by the
    // lexer's other tokens) and re-expand at Text-node construction.
    val rawStash = mutable.ArrayBuffer.empty[String]
    val preprocessed = RawOrCommentRe.replaceAllIn(template, m =>
      if (m.group(1) != null) // a comment: leave for the lexer to drop
        scala.util.matching.Regex.quoteReplacement(m.group(1))
      else {
        rawStash += m.group(2)
        "\u0000" + (rawStash.size - 1) + "\u0000"
      })
    // an opener surviving the pre-pass OUTSIDE a comment is a raw block
    // that never closed (openers inside comments were preserved above
    // deliberately — they are commented out, not unterminated)
    if (RawOpenRe.findFirstIn(
        CommentRe.replaceAllIn(preprocessed, "")).isDefined)
      return Left(ParseError("unterminated {% raw %} block"))
    def unstash(s: String): String =
      if (rawStash.isEmpty || s.indexOf('\u0000') < 0) s
      else SentinelRe.replaceAllIn(s, m =>
        // a template can itself contain a literal NUL-framed number
        // (we only ever emit indexes below the stash size) — leave any
        // sentinel that doesn't address the stash verbatim instead of
        // substituting wrongly or throwing
        scala.util.matching.Regex.quoteReplacement(
          m.group(1).toIntOption.filter(_ < rawStash.size)
            .map(rawStash).getOrElse(m.matched)))

    // lex into raw (text | interp | tag) pieces
    sealed trait Tok
    final case class TText(s: String) extends Tok
    final case class TInterp(e: String) extends Tok
    final case class TTag(words: String) extends Tok
    val toks = mutable.ArrayBuffer.empty[Tok]
    var last = 0
    for (m <- TokenRe.findAllMatchIn(preprocessed)) {
      if (m.start > last) toks += TText(unstash(preprocessed.substring(last, m.start)))
      if (m.group(1) != null) toks += TInterp(m.group(1).trim)
      else if (m.group(2) != null) toks += TTag(m.group(2).trim)
      // comments drop
      last = m.end
    }
    if (last < preprocessed.length) toks += TText(unstash(preprocessed.substring(last)))

    var i = 0
    def parseBlock(stop: Set[String]): Result[(Seq[Node], Option[String])] = {
      val out = mutable.ArrayBuffer.empty[Node]
      while (i < toks.length) {
        toks(i) match {
          case TText(s) => out += Text(s); i += 1
          case TInterp(e) => out += Interp(new Expr.Src(e)); i += 1
          case TTag(tag) =>
            val keyword = tag.split("\\s+", 2).head
            if (stop.contains(keyword)) return Right((out.toSeq, Some(tag)))
            keyword match {
              case "if" =>
                i += 1
                parseIf(tag.stripPrefix("if").trim) match {
                  case Right(n) => out += n
                  case Left(e) => return Left(e)
                }
              case "for" =>
                i += 1
                parseFor(tag.stripPrefix("for").trim) match {
                  case Right(n) => out += n
                  case Left(e) => return Left(e)
                }
              case "set" =>
                i += 1
                val SetHeader = "^([a-zA-Z_][a-zA-Z0-9_]*)\\s*=\\s*(.+)$".r
                tag.stripPrefix("set").trim match {
                  case SetHeader(v, e) => out += SetNode(v, new Expr.Src(e))
                  case other => return Left(ParseError(
                    s"malformed set tag: {% set $other %} (expected {% set var = expr %})"))
                }
              case "macro" =>
                i += 1
                parseMacro(tag.stripPrefix("macro").trim) match {
                  case Right(n) => out += n
                  case Left(e) => return Left(e)
                }
              case "include" =>
                i += 1
                out += IncludeNode(new Expr.Src(tag.stripPrefix("include").trim))
              case "import" =>
                i += 1
                val header = tag.stripPrefix("import").trim
                val NsHeader = "(?s)^(.+?)\\s+as\\s+([A-Za-z_][A-Za-z0-9_]*)\\s*$".r
                header match {
                  // namespaced `{% import 'x' as ns %}`: definitions
                  // bind under the single name `ns`, reached via dotted
                  // access — Jinja module semantics
                  case NsHeader(path, ns) =>
                    out += ImportNode(new Expr.Src(path.trim), None, Some(ns))
                  case _ if header.split("\\s+").contains("as") =>
                    return Left(ParseError(
                      s"malformed import tag: {% import $header %} " +
                        "(expected {% import 'file' %} or " +
                        "{% import 'file' as ns %})"))
                  case _ =>
                    out += ImportNode(new Expr.Src(header), None)
                }
              case "from" =>
                i += 1
                val FromHeader = "(?s)^(.+?)\\s+import\\s+(.+)$".r
                tag.stripPrefix("from").trim match {
                  case FromHeader(path, names) =>
                    // each item is `name` or `name as alias` (Jinja)
                    val parsed = names.split(",").map(_.trim).filter(_.nonEmpty)
                      .map { item =>
                        item.split("\\s+as\\s+") match {
                          case Array(src) => Right((src, src))
                          case Array(src, alias)
                              if src.nonEmpty && alias.nonEmpty &&
                                !alias.contains(" ") =>
                            Right((src.trim, alias.trim))
                          case _ => Left(ParseError(
                            s"malformed from-import item '$item' " +
                              "(expected `name` or `name as alias`)"))
                        }
                      }.toSeq
                    parsed.collectFirst { case Left(e) => e } match {
                      case Some(e) => return Left(e)
                      case None =>
                        out += ImportNode(new Expr.Src(path.trim),
                          Some(parsed.collect { case Right(p) => p }))
                    }
                  case other => return Left(ParseError(
                    s"malformed from tag: {% from $other %} " +
                      "(expected {% from 'file' import name, ... %})"))
                }
              case other =>
                return Left(ParseError(s"unexpected template tag '{% $tag %}'" +
                  (if (Set("elif", "else", "endif", "endfor", "endmacro")
                    .contains(other)) " outside its block" else "")))
            }
        }
      }
      Right((out.toSeq, None))
    }

    def parseIf(firstCond: String): Result[Node] = {
      val branches = mutable.ArrayBuffer.empty[(Expr.Src, Seq[Node])]
      var cond = firstCond
      var elseBody: Seq[Node] = Nil
      var closed = false
      while (!closed) {
        parseBlock(Set("elif", "else", "endif")) match {
          case Left(e) => return Left(e)
          case Right((body, Some(tag))) =>
            branches += ((new Expr.Src(cond), body))
            i += 1 // consume the stop tag
            val kw = tag.split("\\s+", 2).head
            kw match {
              case "elif" => cond = tag.stripPrefix("elif").trim
              case "else" =>
                parseBlock(Set("endif")) match {
                  case Left(e) => return Left(e)
                  case Right((eb, Some(_))) => elseBody = eb; i += 1; closed = true
                  case Right((_, None)) =>
                    return Left(ParseError("unclosed {% else %}: missing {% endif %}"))
                }
              case "endif" => closed = true
            }
          case Right((_, None)) =>
            return Left(ParseError("unclosed {% if %}: missing {% endif %}"))
        }
      }
      Right(IfNode(branches.toSeq, elseBody))
    }

    def parseFor(header: String): Result[Node] = {
      val ForHeader = "^([a-zA-Z_][a-zA-Z0-9_]*)\\s+in\\s+(.+)$".r
      header match {
        case ForHeader(v, iterExpr) =>
          parseBlock(Set("endfor")) match {
            case Left(e) => Left(e)
            case Right((body, Some(_))) =>
              i += 1; Right(ForNode(v, new Expr.Src(iterExpr), body))
            case Right((_, None)) =>
              Left(ParseError("unclosed {% for %}: missing {% endfor %}"))
          }
        case _ =>
          Left(ParseError(s"malformed for tag: {% for $header %} " +
            "(expected {% for var in sequence %})"))
      }
    }

    /** The header `name(a, b='x', c=3)` is a call expression: its
      * arguments, in declaration order, are the parameters — a bare
      * name, or `name=default` with the default kept as an expression.
      */
    def parseMacro(header: String): Result[Node] = Expr.parse(header) match {
      case Right(Expr.Call(name, args)) if !name.contains('.') =>
        if (Set("src", "out", "config").contains(name))
          return Left(ParseError(
            s"macro name '$name' shadows a built-in template function"))
        Result.sequence(args.map {
          case (None, Expr.Name(p)) if !p.contains('.') => Right((p, None))
          case (Some(p), default) => Right((p, Some(default)))
          case _ => Left(ParseError(s"bad macro parameter in '{% macro $header %}'"))
        }).flatMap { params =>
          parseBlock(Set("endmacro")) match {
            case Left(e) => Left(e)
            case Right((body, Some(_))) =>
              i += 1; Right(MacroNode(name, params, body))
            case Right((_, None)) =>
              Left(ParseError("unclosed {% macro %}: missing {% endmacro %}"))
          }
        }
      case _ => Left(ParseError(s"malformed macro tag: {% macro $header %} " +
        "(expected {% macro name(arg, arg2='default') %})"))
    }

    parseBlock(Set.empty).flatMap {
      case (nodes, None) => Right(nodes)
      case (_, Some(tag)) => Left(ParseError(s"unexpected '{% $tag %}'"))
    }
  }

  // ---- renderer ----------------------------------------------------------

  private def render(
      nodes: Seq[Node], ctx: Context, scope0: Map[String, Any],
      depth: Int = 0): Result[String] =
    renderScope(nodes, ctx, scope0, depth).map(_._1)

  /** Render and ALSO return the final scope plus the set of names the
    * block itself DEFINED (`{% set %}` / `{% macro %}` / transitive
    * imports) — `{% import %}` exposes exactly those, tracked by key so
    * a definition whose value happens to equal a global param still
    * counts as defined.
    */
  private def renderScope(
      nodes: Seq[Node], ctx: Context, scope0: Map[String, Any],
      depth: Int): Result[(String, Map[String, Any], Set[String])] = {
    if (depth > MaxIncludeDepth)
      return Left(ParseError(
        s"include/import nesting exceeds $MaxIncludeDepth (cycle?)"))
    val sb = new StringBuilder
    var scope = scope0 // {% set %} extends the scope for the rest of the block
    var definedKeys = Set.empty[String]
    for (n <- nodes) {
      val piece: Result[String] = n match {
        case Text(s) => Right(s)
        case SetNode(v, e) =>
          value(e, ctx, scope).map { x =>
            scope += (v -> x); definedKeys += v; ""
          }
        case MacroNode(mName, params, body) =>
          // closes over the CURRENT scope (Jinja semantics); visible to
          // the rest of the block like {% set %}. Self-recursion is not
          // supported.
          scope += (mName -> MacroDef(mName, params, body, scope))
          definedKeys += mName
          Right("")
        case Interp(e) =>
          e.ast.flatMap(eval(_, scope, ctx, e.text)).flatMap {
            case Expr.Undefined =>
              Left(ParseError(s"undefined template variable '${e.text}'"))
            case x => Right(renderValue(x))
          }
        case IfNode(branches, elseBody) =>
          // Jinja semantics: conditions evaluate strictly in order and the
          // FIRST error propagates — a malformed guard must not be masked
          // by a later branch matching (a typo'd condition would silently
          // change the emitted SQL otherwise)
          def choose(bs: Seq[(Expr.Src, Seq[Node])]): Result[String] = bs match {
            case (cond, body) +: rest =>
              value(cond, ctx, scope).flatMap(v =>
                if (Expr.truthy(v)) render(body, ctx, scope, depth)
                else choose(rest))
            case _ => render(elseBody, ctx, scope, depth)
          }
          choose(branches)
        case ForNode(v, iter, body) =>
          value(iter, ctx, scope).flatMap {
            case items: Seq[_] =>
              val n = items.length
              items.zipWithIndex.foldLeft(Right(""): Result[String]) {
                case (acc, (item, idx)) =>
                  acc.flatMap { prev =>
                    val loopScope = scope ++ Map(
                      v -> item,
                      "loop" -> Map(
                        "index" -> (idx + 1L), "index0" -> idx.toLong,
                        "first" -> (idx == 0), "last" -> (idx == n - 1),
                        "length" -> n.toLong))
                    render(body, ctx, loopScope, depth).map(prev + _)
                  }
              }
            case other => Left(ParseError(
              s"for-loop iterable '${iter.text}' is not a list (got " +
                s"${if (other == null) "none" else other.getClass.getSimpleName})"))
          }
        case IncludeNode(path) =>
          // rendered with the CURRENT scope (Jinja include semantics);
          // scope changes inside the included file do not leak back
          loadTemplate(path, ctx, scope)
            .flatMap { case (_, nodes2) => render(nodes2, ctx, scope, depth + 1) }
        case ImportNode(path, names, alias) =>
          // Jinja import semantics: the imported template renders against
          // the GLOBAL context only (not the including scope), its output
          // is discarded, and its macros/assignments enter this scope
          loadTemplate(path, ctx, scope).flatMap { case (p, nodes2) =>
            renderScope(nodes2, ctx, ctx.params, depth + 1).flatMap {
              case (_, imported, importedKeys) =>
                (names, alias) match {
                  case (None, Some(ns)) =>
                    // namespaced: ONE scope binding holding the module's
                    // definitions as a map — lookup()'s dotted-path walk
                    // makes {{ ns.var }} / {{ ns.macro(...) }} resolve,
                    // and a later {% set ns = ... %} shadows the module
                    // like any other name (Jinja behavior)
                    scope += (ns ->
                      imported.view.filterKeys(importedKeys).toMap)
                    definedKeys += ns
                    Right("")
                  case (None, None) =>
                    scope ++= imported.view.filterKeys(importedKeys).toMap
                    definedKeys ++= importedKeys
                    Right("")
                  case (Some(ns), _) =>
                    val missing = ns.collect {
                      case (src, _) if !importedKeys.contains(src) => src
                    }
                    if (missing.nonEmpty)
                      Left(ParseError(s"template '$p' does not define: " +
                        missing.mkString(", ")))
                    else {
                      ns.foreach { case (src, alias) =>
                        scope += (alias -> imported(src))
                        definedKeys += alias
                      }
                      Right("")
                    }
                }
            }
          }
      }
      piece match {
        case Right(s) => sb.append(s)
        case Left(e) => return Left(e)
      }
    }
    Right((sb.result(), scope, definedKeys))
  }

  private val MaxIncludeDepth = 16

  /** Evaluate an include/import path expression, resolve it through the
    * context loader, and parse the template.
    */
  private def loadTemplate(
      path: Expr.Src, ctx: Context,
      scope: Map[String, Any]): Result[(String, Seq[Node])] =
    value(path, ctx, scope).flatMap {
      case p: String =>
        ctx.loader(p) match {
          case Some(text) => parseTemplate(text).map((p, _))
          case None => Left(ParseError(
            s"template '$p' not found (no template loader configured, " +
              "or the file does not exist under the project directory)"))
        }
      case other => Left(ParseError(
        s"include/import path must be a string, got: $other"))
    }

  // ---- the expression evaluator -------------------------------------------

  /** An expression in a control position (`set`, `if`, `for`, include
    * paths): an undefined result reads as None.
    */
  private def value(e: Expr.Src, ctx: Context, scope: Map[String, Any]): Result[Any] =
    e.ast.flatMap(eval(_, scope, ctx, e.text)).map(Expr.orNone)

  /** The one evaluator. Returns [[Expr.Undefined]] for an unbound name
    * (and for `first`/`last` of an empty sequence); every operator, list
    * item and argument reads that as None, while `{{ }}`, `default` and
    * `is defined` tell it apart. `src` is the expression text, for
    * messages.
    */
  private def eval(
      e: Expr.Ast, scope: Map[String, Any], ctx: Context,
      src: String): Result[Any] = {
    def go(e: Expr.Ast): Result[Any] = e match {
      case Expr.Lit(v) => Right(v)
      case Expr.Name(p) => Right(lookup(p, scope).getOrElse(Expr.Undefined))
      case Expr.ListOf(items) => Result.sequence(items.map(defined))
      // Python short-circuit: the result is an operand, and the right
      // one is evaluated only when the left does not decide
      case Expr.Binary("and", l, r) =>
        defined(l).flatMap(v => if (Expr.truthy(v)) defined(r) else Right(v))
      case Expr.Binary("or", l, r) =>
        defined(l).flatMap(v => if (Expr.truthy(v)) Right(v) else defined(r))
      case Expr.Binary(op, l, r) =>
        for (a <- defined(l); b <- defined(r); v <- Expr.binary(op, a, b, src))
          yield v
      case Expr.Unary(op, x) => defined(x).flatMap(Expr.unary(op, _, src))
      case Expr.Test(x, name, negate) =>
        go(x).flatMap(Expr.test(name, _, src)).map(_ != negate)
      case Expr.Filter(x, name, args) =>
        go(x).flatMap { v =>
          arguments(args, scope, ctx, src).flatMap {
            case (pos, kw) if kw.isEmpty =>
              applyFilter(Some(v).filter(_ != Expr.Undefined), name, pos, src)
                .map(_.getOrElse(Expr.Undefined))
            case _ => Left(ParseError(
              s"filter '$name' takes no keyword arguments in '$src'"))
          }
        }
      case Expr.Call(fn, args) => call(fn, args, scope, ctx, src)
    }
    def defined(e: Expr.Ast): Result[Any] = go(e).map(Expr.orNone)
    go(e)
  }

  /** A call or filter argument. A bare name with no binding is its own
    * text (`src(schema.table)` written unquoted), inside list literals
    * too. A dotted name or a keyword-argument value that DOES resolve
    * warns: both are conventionally literals, so a template variable
    * silently changing their meaning is the data-dependent hazard. A
    * plain positional name (`src(s)` in a for-loop) is an ordinary
    * variable reference: no warning. `literal = false` (range) reads an
    * argument as any other expression.
    */
  private def argument(
      a: Expr.Ast, kw: Boolean, scope: Map[String, Any], ctx: Context,
      src: String, literal: Boolean = true): Result[Any] = a match {
    case Expr.Name(w) if literal => Right(lookup(w, scope) match {
      case Some(v) =>
        if (w.contains('.') || kw)
          ctx.warn(s"macro argument '$w' resolved to template variable " +
            s"'${renderValue(v)}'; quote it ('$w') to keep the literal")
        v
      case None => w
    })
    case Expr.ListOf(items) if literal =>
      Result.sequence(items.map(argument(_, kw, scope, ctx, src)))
    case other => eval(other, scope, ctx, src).map(Expr.orNone)
  }

  private def arguments(
      args: Seq[(Option[String], Expr.Ast)], scope: Map[String, Any],
      ctx: Context, src: String,
      literal: Boolean = true): Result[(Seq[Any], Map[String, Any])] =
    Result.sequence(args.map { case (k, a) =>
      argument(a, k.isDefined, scope, ctx, src, literal).map(k -> _)
    }).map { vs =>
      (vs.collect { case (None, v) => v }, vs.collect { case (Some(k), v) => k -> v }.toMap)
    }

  /** The call targets: the built-ins `src`, `out`, `config`, then a
    * macro in scope (dotted for a namespaced import), then `range`.
    */
  private def call(
      fn: String, args: Seq[(Option[String], Expr.Ast)],
      scope: Map[String, Any], ctx: Context, src: String): Result[Any] = {
    def bound = arguments(args, scope, ctx, src)
    fn match {
      case "src" | "out" => bound.flatMap {
        case (Seq(one: String), _) => Right(if (fn == "src") ctx.src(one) else ctx.out(one))
        case _ => Left(ParseError(s"$fn() takes one string argument: '$src'"))
      }
      case "config" => bound.flatMap {
        case (Seq(), kw) => if (ctx.allowConfig) ctx.config(kw); Right("")
        case _ => Left(ParseError(s"config() takes only keyword arguments: '$src'"))
      }
      case _ => lookup(fn, scope) match {
        case Some(m: MacroDef) =>
          bound.flatMap { case (pos, kw) => callMacro(m, pos, kw, ctx, src) }
        case _ if fn == "range" =>
          arguments(args, scope, ctx, src, literal = false)
            .flatMap { case (pos, kw) => Expr.range(pos, kw, src) }
        case _ => Left(ParseError(s"unknown template function '$fn' in '$src'"))
      }
    }
  }

  /** Jinja filter battery (the constructs real reference projects pipe
    * through; sayn/utils/compiler.py exposes full Jinja). `value` is
    * Some(v) for a defined input, None for an undefined variable —
    * `default` is the one filter that accepts undefined input.
    */
  private def applyFilter(
      value: Option[Any], name: String, args: Seq[Any],
      expr: String): Result[Option[Any]] = {
    def str(v: Any): String = renderValue(v)
    def defined: Result[Any] = value match {
      case Some(v) => Right(v)
      case None => Left(ParseError(
        s"undefined value piped into '$name' in '$expr'"))
    }
    (name, args) match {
      // Jinja |default: replaces undefined; with boolean=true, any falsy
      case ("default", d +: rest) =>
        val replaceFalsy = rest.headOption.contains(true)
        Right(Some(value match {
          case Some(v) if !replaceFalsy => v
          case Some(v) if Expr.truthy(v) => v
          case _ => d
        }))
      case ("default", Seq()) =>
        Left(ParseError(s"default() needs a value in '$expr'"))
      case ("join", sep) if sep.size <= 1 =>
        defined.flatMap {
          case xs: Seq[_] =>
            Right(Some(xs.map(str).mkString(sep.headOption.fold("")(str))))
          case _ => Left(ParseError(s"join expects a list in '$expr'"))
        }
      case ("upper", Seq()) => defined.map(v => Some(str(v).toUpperCase))
      case ("lower", Seq()) => defined.map(v => Some(str(v).toLowerCase))
      case ("trim", Seq()) => defined.map(v => Some(str(v).trim))
      case ("capitalize", Seq()) => defined.map(v => Some(str(v).capitalize))
      case ("title", Seq()) => defined.map(v =>
        Some(str(v).split("(?<= )").map(_.capitalize).mkString))
      case ("replace", Seq(a, b)) =>
        defined.map(v => Some(str(v).replace(str(a), str(b))))
      case ("length", Seq()) | ("count", Seq()) =>
        defined.flatMap {
          case xs: Seq[_] => Right(Some(xs.length.toLong))
          case s: String => Right(Some(s.length.toLong))
          case m: Map[_, _] => Right(Some(m.size.toLong))
          case _ => Left(ParseError(s"length of non-sequence in '$expr'"))
        }
      // numeric filters. |int / |float follow Jinja: unconvertible input
      // yields the default (0 / 0.0, overridable); |round(n) rounds
      // half-away-from-zero ("common" method) and returns a float.
      case ("int", rest) if rest.size <= 1 =>
        defined.map { v =>
          Some(toLong(v).getOrElse(rest.headOption.flatMap(toLong).getOrElse(0L)))
        }
      case ("float", rest) if rest.size <= 1 =>
        defined.map { v =>
          Some(toDouble(v).getOrElse(
            rest.headOption.flatMap(toDouble).getOrElse(0.0)))
        }
      // |abs takes real numbers only (Jinja: abs('42') is a TypeError)
      case ("abs", Seq()) => defined.flatMap {
        case n: Long => Right(Some(math.abs(n)))
        case n: Int => Right(Some(math.abs(n.toLong)))
        case d: Double => Right(Some(math.abs(d)))
        case b: BigDecimal => Right(Some(b.abs))
        case _ => Left(ParseError(s"abs of non-number in '$expr'"))
      }
      case ("round", rest) if rest.size <= 1 =>
        defined.flatMap { v =>
          val prec = rest.headOption.flatMap(toLong).getOrElse(0L).toInt
          toDouble(v) match {
            case Some(d) => Right(Some(BigDecimal(d)
              .setScale(prec, BigDecimal.RoundingMode.HALF_UP).toDouble))
            case None => Left(ParseError(s"round of non-number in '$expr'"))
          }
        }
      case ("min", Seq()) | ("max", Seq()) => defined.flatMap {
        case xs: Seq[_] if xs.nonEmpty =>
          val nums = xs.map(x => toDouble(x))
          if (nums.exists(_.isEmpty))
            Left(ParseError(s"$name of non-numeric list in '$expr'"))
          else {
            val pairs = xs.zip(nums.map(_.get))
            val best =
              if (name == "min") pairs.minBy(_._2) else pairs.maxBy(_._2)
            Right(Some(best._1))
          }
        case xs: Seq[_] =>
          Left(ParseError(s"$name of empty list in '$expr'"))
        case _ => Left(ParseError(s"$name expects a list in '$expr'"))
      }
      case ("first", Seq()) => defined.flatMap {
        case xs: Seq[_] => Right(xs.headOption)
        case s: String => Right(s.headOption.map(_.toString))
        case _ => Left(ParseError(s"first of non-sequence in '$expr'"))
      }
      case ("last", Seq()) => defined.flatMap {
        case xs: Seq[_] => Right(xs.lastOption)
        case s: String => Right(s.lastOption.map(_.toString))
        case _ => Left(ParseError(s"last of non-sequence in '$expr'"))
      }
      case (other, _) => Left(ParseError(
        s"unknown or mis-applied filter '$other' in '$expr'"))
    }
  }

  /** Numeric coercions for the filter battery (Jinja-ish: numbers pass,
    * numeric strings parse, anything else is None).
    */
  private def toLong(v: Any): Option[Long] = v match {
    case n: Long => Some(n)
    case n: Int => Some(n.toLong)
    case d: Double => Some(d.toLong) // Jinja |int truncates
    case b: BigDecimal => Some(b.toLong)
    case s: String => s.trim.toLongOption
      .orElse(s.trim.toDoubleOption.map(_.toLong))
    case _ => None
  }

  private def toDouble(v: Any): Option[Double] = v match {
    case n: Long => Some(n.toDouble)
    case n: Int => Some(n.toDouble)
    case d: Double => Some(d)
    case b: BigDecimal => Some(b.toDouble)
    case s: String => s.trim.toDoubleOption
    case _ => None
  }

  /** Invoke a user macro: bind call args to declared params in order
    * (positional, then keyword, then signature defaults — defaults are
    * arguments evaluated against the definition scope), render the body
    * with the definition scope extended by the bindings.
    */
  private def callMacro(
      m: MacroDef, pos: Seq[Any], kw: Map[String, Any],
      ctx: Context, expr: String): Result[String] = {
    val names = m.params.map(_._1)
    if (pos.length > names.length)
      return Left(ParseError(
        s"macro '${m.name}' takes ${names.length} argument(s): '$expr'"))
    val unknown = kw.keySet -- names.toSet
    if (unknown.nonEmpty)
      return Left(ParseError(s"macro '${m.name}' has no argument " +
        s"'${unknown.toSeq.sorted.head}': '$expr'"))
    val bound = m.params.zipWithIndex.map { case ((p, dflt), idx) =>
      if (idx < pos.length)
        if (kw.contains(p))
          Left(ParseError(
            s"macro '${m.name}' argument '$p' given twice: '$expr'"))
        else Right(p -> pos(idx))
      else kw.get(p) match {
        case Some(v) => Right(p -> v)
        case None => dflt match {
          case Some(d) =>
            argument(d, kw = false, m.defScope, ctx, expr).map(p -> _)
          case None => Left(ParseError(
            s"macro '${m.name}' missing argument '$p': '$expr'"))
        }
      }
    }
    Result.sequence(bound)
      .flatMap(bs => render(m.body, ctx, m.defScope ++ bs))
  }

  private def lookup(path: String, params: Map[String, Any]): Option[Any] =
    path.split("\\.", -1).toList match {
      case head :: rest =>
        rest.foldLeft(params.get(head)) {
          case (Some(m: Map[_, _]), k) =>
            m.asInstanceOf[Map[String, Any]].get(k)
          case _ => None
        }
      case Nil => None
    }

  private def renderValue(v: Any): String = v match {
    case s: String => s
    case null => ""
    case other => other.toString
  }
}

/** The template expression language — one grammar for every position
  * (Jinja's precedence, loosest first):
  *
  *   or → and → not → comparison (`== != < <= > >=`, `in`, `not in`,
  *   `is [not] test`) → `+ -` → `* / %` → unary `- +` → filter pipe
  *   `e | f` / `e | f(args)` → primary: literal, dotted name, call
  *   `name(pos…, key=value…)`, `( … )`, `[ … ]`.
  *
  * Literals: 'str' / "str" (backslash escapes the next character),
  * integers, decimals (`.5` too), and — in any letter case — `true`,
  * `false`, `none`, `null`. Python semantics: truthiness, numeric
  * cross-type equality (1 == 1.0), arithmetic with true division,
  * floor modulo, string/list concatenation and string repetition.
  * Jinja tests: `defined`, `undefined`, `none`, `number`, `string`,
  * `boolean`, `mapping`, `sequence`, `iterable`, `even`, `odd`, `true`,
  * `false` (sayn/utils/compiler.py:31-135 exposes full Jinja — these are
  * the constructs real projects hit first).
  *
  * [[Expr.parse]] builds the AST; `Compiler.eval` walks it. The pure
  * operators the evaluator applies live here.
  */
private[core] object Expr {

  sealed trait Ast
  final case class Lit(v: Any) extends Ast
  /** A variable, possibly dotted (`task.name`, `ns.var`). */
  final case class Name(path: String) extends Ast
  final case class ListOf(items: Seq[Ast]) extends Ast
  /** `op` is `-`, `+` or `not`. */
  final case class Unary(op: String, arg: Ast) extends Ast
  /** `op` is `and`, `or`, a comparison, `in`, `not in` or arithmetic. */
  final case class Binary(op: String, l: Ast, r: Ast) extends Ast
  final case class Test(arg: Ast, name: String, negate: Boolean) extends Ast
  /** `args` in source order; a keyword argument carries its key. */
  final case class Call(fn: String, args: Seq[(Option[String], Ast)]) extends Ast
  final case class Filter(arg: Ast, name: String, args: Seq[(Option[String], Ast)])
      extends Ast

  /** What an unbound name evaluates to (Jinja's Undefined). */
  case object Undefined

  def orNone(v: Any): Any = if (v == Undefined) null else v

  /** An expression's text, parsed when it is first evaluated: a malformed
    * expression in a branch never taken is never reported.
    */
  final class Src(val text: String) {
    lazy val ast: Result[Ast] = parse(text)
  }

  def truthy(v: Any): Boolean = v match {
    case null => false
    case b: Boolean => b
    case s: String => s.nonEmpty
    case n: Long => n != 0L
    case n: Int => n != 0
    case n: Double => n != 0.0
    case xs: Seq[_] => xs.nonEmpty
    case m: Map[_, _] => m.nonEmpty
    case _ => true
  }

  // ---- lexer and parser ----------------------------------------------------

  private sealed trait Tok
  private final case class TLit(v: Any) extends Tok {
    override def toString: String = if (v == null) "none" else s"'$v'"
  }
  private final case class TName(p: String) extends Tok {
    override def toString: String = s"'$p'"
  }
  private final case class TOp(op: String) extends Tok {
    override def toString: String = s"'$op'"
  }

  /** A parse failure; caught in [[parse]], never escapes it. */
  private final class Fail(msg: String) extends Exception(msg, null, false, false)

  def parse(s: String): Result[Ast] =
    try {
      val p = new Parser(lex(s), s)
      val ast = p.expr()
      if (p.atEnd) Right(ast)
      else Left(ParseError(s"trailing tokens in expression '$s'"))
    } catch { case f: Fail => Left(ParseError(f.getMessage)) }

  private val Words = Set("and", "or", "not", "in", "is")
  private val TwoCharOps = Set("==", "!=", "<=", ">=")
  private val OneCharOps = "<>()[],+-*/%|="

  private def lex(s: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    def scan(from: Int, ok: Char => Boolean): Int = {
      var j = from
      while (j < s.length && ok(s(j))) j += 1
      j
    }
    def digitAt(j: Int) = j < s.length && s(j).isDigit
    var i = 0
    while (i < s.length) {
      val c = s(i)
      if (c.isWhitespace) i += 1
      else if (c == '\'' || c == '"') {
        val sb = new StringBuilder; i += 1
        while (i < s.length && s(i) != c) {
          if (s(i) == '\\' && i + 1 < s.length) i += 1
          sb.append(s(i)); i += 1
        }
        if (i >= s.length) throw new Fail(s"unterminated string in '$s'")
        i += 1
        out += TLit(sb.result())
      } else if (c.isDigit || (c == '.' && digitAt(i + 1))) {
        val int = scan(i, _.isDigit)
        val end = if (int < s.length && s(int) == '.' && digitAt(int + 1))
          scan(int + 1, _.isDigit) else int
        val tok = s.substring(i, end)
        out += TLit(if (end > int) tok.toDouble else tok.toLongOption.getOrElse(
          throw new Fail(s"integer $tok out of range in '$s'")))
        i = end
      } else if (c.isLetter || c == '_') {
        val end = scan(i, ch => ch.isLetterOrDigit || ch == '_' || ch == '.')
        val w = s.substring(i, end)
        out += (w.toLowerCase match {
          case "true" => TLit(true)
          case "false" => TLit(false)
          case "none" | "null" => TLit(null)
          case _ if Words(w) => TOp(w)
          case _ => TName(w)
        })
        i = end
      } else {
        val two = s.slice(i, i + 2)
        val op =
          if (TwoCharOps(two)) two
          else if (OneCharOps.indexOf(c) >= 0) c.toString
          else throw new Fail(s"unexpected '$c' in expression '$s'")
        out += TOp(op)
        i += op.length
      }
    }
    out.result()
  }

  private val Comparisons = Set("==", "!=", "<", "<=", ">", ">=")

  /** Recursive descent, one method per precedence level. */
  private final class Parser(toks: Vector[Tok], src: String) {
    private var i = 0
    def atEnd: Boolean = i >= toks.length
    private def at(op: String): Boolean = toks.lift(i).contains(TOp(op))
    private def eat(op: String): Boolean = at(op) && { i += 1; true }
    private def fail(what: String): Nothing =
      throw new Fail(s"$what in expression '$src'")
    private def next(): Tok =
      if (atEnd) fail("unexpected end") else { i += 1; toks(i - 1) }
    private def expect(op: String): Unit = if (!eat(op)) fail(s"missing '$op'")

    def expr(): Ast = {
      var l = and()
      while (eat("or")) l = Binary("or", l, and())
      l
    }

    private def and(): Ast = {
      var l = not()
      while (eat("and")) l = Binary("and", l, not())
      l
    }

    private def not(): Ast = if (eat("not")) Unary("not", not()) else compare()

    private def compare(): Ast = {
      val l = add()
      toks.lift(i) match {
        case Some(TOp(op)) if Comparisons(op) || op == "in" =>
          i += 1; Binary(op, l, add())
        case Some(TOp("not")) if toks.lift(i + 1).contains(TOp("in")) =>
          i += 2; Binary("not in", l, add())
        case Some(TOp("is")) =>
          i += 1
          val negate = eat("not")
          if (atEnd) fail("missing test after 'is'")
          next() match {
            case TName(name) => Test(l, name, negate)
            case TLit(null) => Test(l, "none", negate)
            case TLit(b: Boolean) => Test(l, b.toString, negate)
            case other => fail(s"unknown test $other after 'is'")
          }
        case _ => l
      }
    }

    private def add(): Ast = {
      var l = mul()
      while (at("+") || at("-")) l = Binary(next().asInstanceOf[TOp].op, l, mul())
      l
    }

    private def mul(): Ast = {
      var l = unary(filters = true)
      while (at("*") || at("/") || at("%"))
        l = Binary(next().asInstanceOf[TOp].op, l, unary(filters = true))
      l
    }

    /** Jinja: a filter after a signed operand takes the signed value
      * (`-x | abs` is `(-x) | abs`).
      */
    private def unary(filters: Boolean): Ast = {
      val e =
        if (at("-") || at("+")) Unary(next().asInstanceOf[TOp].op, unary(filters = false))
        else primary()
      if (filters) filtered(e) else e
    }

    private def filtered(e: Ast): Ast =
      if (!eat("|")) e
      else next() match {
        case TName(f) => filtered(Filter(e, f, if (eat("(")) args() else Nil))
        case other => fail(s"malformed filter $other")
      }

    private def primary(): Ast = next() match {
      case TLit(v) => Lit(v)
      case TName(p) => if (eat("(")) Call(p, args()) else Name(p)
      case TOp("(") => val e = expr(); expect(")"); e
      case TOp("[") => ListOf(items("]")(expr()))
      case other => fail(s"unexpected $other")
    }

    /** `(` already taken: `pos…, key=value…` up to `)`. */
    private def args(): Seq[(Option[String], Ast)] = items(")") {
      toks.lift(i) match {
        case Some(TName(k)) if !k.contains('.') && toks.lift(i + 1).contains(TOp("=")) =>
          i += 2; (Some(k), expr())
        case _ => (None, expr())
      }
    }

    private def items[A](close: String)(item: => A): Seq[A] = {
      val out = Vector.newBuilder[A]
      if (!eat(close)) {
        out += item
        while (eat(",")) out += item
        expect(close)
      }
      out.result()
    }
  }

  // ---- operators (Python semantics) ----------------------------------------

  def unary(op: String, v: Any, src: String): Result[Any] = (op, v) match {
    case ("not", _) => Right(!truthy(v))
    case ("-", n: Long) => Right(-n)
    case ("-", n: Int) => Right(-n.toLong)
    case ("-", n: Double) => Right(-n)
    case ("-", b: Boolean) => Right(if (b) -1L else 0L)
    case ("+", n @ (_: Long | _: Int | _: Double | _: Boolean)) => Right(n)
    case _ => Left(ParseError(s"unary '$op' needs a number, got '$v' in '$src'"))
  }

  def binary(op: String, l: Any, r: Any, src: String): Result[Any] = op match {
    case "in" => Right(isIn(l, r))
    case "not in" => Right(!isIn(l, r))
    case _ if Comparisons(op) => Right(compare(op, l, r))
    case _ => arith(op, l, r, src)
  }

  /** Jinja tests (the `x is <test>` construct). `defined`/`undefined`
    * ask whether the operand is bound; the rest test the value, an
    * unbound operand reading as None. `number` is true for booleans too
    * — Python's bool is an int subclass and Jinja inherits that;
    * `sequence` matches anything indexable with a length (lists,
    * strings, mappings), exactly as Jinja's does; `true`/`false` are
    * boolean identity, not truthiness.
    */
  def test(name: String, v: Any, src: String): Result[Boolean] = {
    val x = orNone(v)
    name match {
      case "defined" => Right(v != Undefined)
      case "undefined" => Right(v == Undefined)
      case "none" => Right(x == null)
      case "true" | "false" => Right(x == (name == "true"))
      case "number" => Right(x match {
        case _: Long | _: Int | _: Double | _: Boolean => true
        case _ => false
      })
      case "string" => Right(x.isInstanceOf[String])
      case "boolean" => Right(x.isInstanceOf[Boolean])
      case "mapping" => Right(x.isInstanceOf[Map[_, _]])
      case "sequence" | "iterable" => Right(x match {
        case _: Seq[_] | _: String | _: Map[_, _] => true
        case _ => false
      })
      case "even" | "odd" => x match {
        case n: Long => Right((n % 2 == 0) == (name == "even"))
        case n: Int => Right((n % 2 == 0) == (name == "even"))
        case other => Left(ParseError(
          s"test '$name' needs an integer, got '$other' in '$src'"))
      }
      case other => Left(ParseError(s"unknown test '$other' in '$src'"))
    }
  }

  /** Jinja's range() global: 1-3 integer arguments, exclusive stop,
    * Python step semantics — the loop-count idiom `{% for i in range(n)
    * %}`. A typo'd bound must not materialize a billion-element list:
    * the length is counted in BigInt BEFORE building the range
    * (NumericRange itself throws past Int.MaxValue elements).
    */
  def range(pos: Seq[Any], kw: Map[String, Any], src: String): Result[Any] = {
    val bounds = if (kw.nonEmpty) None else pos.map(asLong) match {
      case Seq(Some(stop)) => Some((0L, stop, 1L))
      case Seq(Some(st), Some(stop)) => Some((st, stop, 1L))
      case Seq(Some(st), Some(stop), Some(step)) if step != 0 => Some((st, stop, step))
      case _ => None
    }
    bounds match {
      case None => Left(ParseError(
        s"range() takes 1-3 integer arguments (step != 0) in '$src'"))
      case Some((st, stop, step)) =>
        val d = BigInt(stop) - BigInt(st)
        val n =
          if (step > 0) (d + step - 1).max(0) / step
          else (d + step + 1).min(0) / step
        if (n > 1000000) Left(ParseError(
          s"range() over 1e6 elements in '$src' (got $n)"))
        else Right((st until stop by step).toVector)
    }
  }

  private def asLong(v: Any): Option[Long] = v match {
    case n: Long => Some(n)
    case n: Int => Some(n.toLong)
    case _ => None
  }

  /** Python arithmetic: ints stay ints except true division (always
    * float, like Python 3); mixed numeric widens to float; `%` follows
    * the DIVISOR's sign (floorMod, the Python rule — Java's % follows
    * the dividend); booleans count as 0/1 (bool is an int subclass);
    * `+` concatenates strings and lists; `*` repeats a string by an
    * int count. Division/modulo by zero is a template error, not an
    * exception.
    */
  private def arith(op: String, l: Any, r: Any, src: String): Result[Any] = {
    def int(v: Any): Option[Long] = v match {
      case b: Boolean => Some(if (b) 1L else 0L)
      case _ => asLong(v)
    }
    def pyFmod(a: Double, b: Double): Double = {
      val m = a % b
      if (m != 0.0 && ((m < 0) != (b < 0))) m + b else m
    }
    def byZero = Left(ParseError(
      s"${if (op == "/") "division" else "modulo"} by zero in '$src'"))
    (int(l), int(r)) match {
      case (Some(a), Some(b)) => op match {
        case "+" => Right(a + b)
        case "-" => Right(a - b)
        case "*" => Right(a * b)
        case "/" => if (b == 0) byZero else Right(a.toDouble / b.toDouble)
        case "%" => if (b == 0) byZero else Right(math.floorMod(a, b))
      }
      case _ => (num(l), num(r)) match {
        case (Some(a), Some(b)) => op match {
          case "+" => Right(a + b)
          case "-" => Right(a - b)
          case "*" => Right(a * b)
          case "/" => if (b == 0.0) byZero else Right(a / b)
          case "%" => if (b == 0.0) byZero else Right(pyFmod(a, b))
        }
        case _ => (op, l, r) match {
          case ("+", a: String, b: String) => Right(a + b)
          case ("+", a: Seq[_], b: Seq[_]) => Right(a ++ b)
          case ("*", a: String, _) if int(r).isDefined =>
            Right(a * math.max(0L, int(r).get).toInt)
          case ("*", _, b: String) if int(l).isDefined =>
            Right(b * math.max(0L, int(l).get).toInt)
          case _ => Left(ParseError(
            s"unsupported operand types for '$op' in '$src': '$l', '$r'"))
        }
      }
    }
  }

  private def num(v: Any): Option[Double] = v match {
    case n: Long => Some(n.toDouble)
    case n: Int => Some(n.toDouble)
    case n: Double => Some(n)
    case b: Boolean => Some(if (b) 1.0 else 0.0) // Python: bool ⊂ int
    case _ => None
  }

  private def compare(op: String, l: Any, r: Any): Boolean = {
    val eq = (num(l), num(r)) match {
      case (Some(a), Some(b)) => a == b
      case _ => l == r
    }
    op match {
      case "==" => eq
      case "!=" => !eq
      case _ =>
        val ord: Option[Int] = (num(l), num(r)) match {
          case (Some(a), Some(b)) => Some(a.compare(b))
          case _ => (l, r) match {
            case (a: String, b: String) => Some(a.compareTo(b))
            case _ => None
          }
        }
        ord.exists { c =>
          op match {
            case "<" => c < 0
            case "<=" => c <= 0
            case ">" => c > 0
            case ">=" => c >= 0
          }
        }
    }
  }

  private def isIn(l: Any, r: Any): Boolean = r match {
    case xs: Seq[_] => xs.exists { x =>
      (num(l), num(x)) match {
        case (Some(a), Some(b)) => a == b
        case _ => x == l
      }
    }
    case s: String => l match {
      case ls: String => s.contains(ls)
      case _ => false
    }
    case m: Map[_, _] => m.asInstanceOf[Map[Any, Any]].contains(l)
    case _ => false
  }
}
