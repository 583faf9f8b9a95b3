package graft.core

import graft.core.Result.Result
import scala.collection.mutable

/** Mini template engine covering the constructs the reference's projects
  * exercise (sayn/utils/compiler.py:31-135, which exposes full Jinja):
  *
  *   - `{{ expression }}` substitution over parameters and globals
  *     (`full_load`, `start_dt`, `end_dt`, `task.name`, `task.group`)
  *     plus the three macros `src('obj')`, `out('obj')`,
  *     `config(key=value, ...)`;
  *   - control flow: `{% if cond %}` / `{% elif %}` / `{% else %}` /
  *     `{% endif %}` and `{% for x in seq %}` / `{% endfor %}` with Jinja's
  *     `loop.index/index0/first/last/length` variables;
  *   - filter pipes in interpolations: `{{ x | default('d') | upper }}` —
  *     default (incl. boolean mode), join, upper, lower, trim, replace,
  *     capitalize, title, length/count, first, last;
  *   - `{% macro name(arg, arg2='default') %}` … `{% endmacro %}` with
  *     positional/keyword/default arguments and definition-scope closure;
  *   - cross-file composition via the Context loader: `{% include 'f' %}`
  *     (rendered in the current scope), `{% import 'f' %}` (flat merge of
  *     the file's macros/assignments), `{% from 'f' import a, b as c %}`
  *     and namespaced `{% import 'f' as ns %}` with dotted access
  *     (`{{ ns.macro(...) }}`, `{{ ns.var }}`);
  *   - `{% raw %} … {% endraw %}` verbatim blocks (template syntax
  *     inside passes through untouched — the escape hatch for SQL that
  *     itself contains `{{`);
  *   - `{# comments #}` (dropped).
  *
  * Conditions follow Python/Jinja semantics: truthiness (None/false/""/0/
  * empty list are falsy), `== != < <= > >=`, `in`/`not in`, `not`, `and`,
  * `or`, parentheses; an undefined variable evaluates as None (Jinja's
  * falsy Undefined) rather than erroring, because reference projects guard
  * optional parameters with bare `{% if flag %}`.
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
  private final case class Interp(expr: String) extends Node
  private final case class IfNode(
      branches: Seq[(String, Seq[Node])], elseBody: Seq[Node]) extends Node
  private final case class ForNode(
      varName: String, iterExpr: String, body: Seq[Node]) extends Node
  private final case class SetNode(varName: String, expr: String) extends Node
  private final case class MacroNode(
      name: String, params: Seq[(String, Option[Any])], body: Seq[Node]) extends Node
  private final case class IncludeNode(pathExpr: String) extends Node
  /** `names = None` imports every macro/assignment; `Some(ns)` is the
    * `{% from %}` form restricted to those `(source, boundAs)` pairs —
    * `boundAs` differs from `source` under `{% from 'f' import a as b %}`.
    * `alias = Some(ns)` is the namespaced `{% import 'f' as ns %}` form:
    * the file's definitions bind under ONE scope key as a map, reached
    * with dotted access (`{{ ns.macro(...) }}`, `{{ ns.var }}`).
    */
  private final case class ImportNode(
      pathExpr: String, names: Option[Seq[(String, String)]],
      alias: Option[String] = None) extends Node

  /** A defined `{% macro %}`, stored in the template scope like any other
    * value; closes over its definition scope (Jinja semantics).
    */
  private final case class MacroDef(
      name: String, params: Seq[(String, Option[Any])], body: Seq[Node],
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
          case TInterp(e) => out += Interp(e); i += 1
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
                  case SetHeader(v, e) => out += SetNode(v, e)
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
                out += IncludeNode(tag.stripPrefix("include").trim)
              case "import" =>
                i += 1
                val header = tag.stripPrefix("import").trim
                val NsHeader = "(?s)^(.+?)\\s+as\\s+([A-Za-z_][A-Za-z0-9_]*)\\s*$".r
                header match {
                  // namespaced `{% import 'x' as ns %}`: definitions
                  // bind under the single name `ns`, reached via dotted
                  // access — Jinja module semantics
                  case NsHeader(path, ns) =>
                    out += ImportNode(path.trim, None, Some(ns))
                  case _ if header.split("\\s+").contains("as") =>
                    return Left(ParseError(
                      s"malformed import tag: {% import $header %} " +
                        "(expected {% import 'file' %} or " +
                        "{% import 'file' as ns %})"))
                  case _ =>
                    out += ImportNode(header, None)
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
                        out += ImportNode(path.trim,
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
      val branches = mutable.ArrayBuffer.empty[(String, Seq[Node])]
      var cond = firstCond
      var elseBody: Seq[Node] = Nil
      var closed = false
      while (!closed) {
        parseBlock(Set("elif", "else", "endif")) match {
          case Left(e) => return Left(e)
          case Right((body, Some(tag))) =>
            branches += ((cond, body))
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
            case Right((body, Some(_))) => i += 1; Right(ForNode(v, iterExpr, body))
            case Right((_, None)) =>
              Left(ParseError("unclosed {% for %}: missing {% endfor %}"))
          }
        case _ =>
          Left(ParseError(s"malformed for tag: {% for $header %} " +
            "(expected {% for var in sequence %})"))
      }
    }

    def parseMacro(header: String): Result[Node] = {
      val MacroHeader = "^([a-zA-Z_][a-zA-Z0-9_]*)\\s*\\((.*)\\)$".r
      header match {
        case MacroHeader(name, sig) =>
          if (Set("src", "out", "config").contains(name))
            return Left(ParseError(
              s"macro name '$name' shadows a built-in template function"))
          parseMacroSignature(sig).flatMap { params =>
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
    }

    parseBlock(Set.empty).flatMap {
      case (nodes, None) => Right(nodes)
      case (_, Some(tag)) => Left(ParseError(s"unexpected '{% $tag %}'"))
    }
  }

  /** Ordered macro parameter list: `a, b='x', c=3` — declaration order
    * matters for positional binding, so this is not parseArgs (whose kw
    * map loses interleaving).
    */
  private def parseMacroSignature(
      sig: String): Result[Seq[(String, Option[Any])]] = {
    val Plain = "^([a-zA-Z_][a-zA-Z0-9_]*)$".r
    val WithDefault = "(?s)^([a-zA-Z_][a-zA-Z0-9_]*)\\s*=\\s*(.+)$".r
    if (sig.trim.isEmpty) Right(Nil)
    else Result.sequence(splitTopLevel(sig, ',').map(_.trim).map {
      case Plain(n) => Right((n, None: Option[Any]))
      case WithDefault(n, v) =>
        parseArgs(v).flatMap {
          case (Seq(one), kw) if kw.isEmpty => Right((n, Some(one): Option[Any]))
          case _ => Left(ParseError(s"bad default for macro arg '$n': $v"))
        }
      case other => Left(ParseError(s"bad macro parameter '$other'"))
    })
  }

  /** Split on a top-level separator, honoring quotes/parens/brackets. */
  private def splitTopLevel(s: String, sep: Char): Seq[String] = {
    val parts = mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0
    var quote: Char = 0
    var i = 0
    while (i < s.length) {
      val c = s(i)
      if (quote != 0) {
        cur.append(c)
        if (c == '\\' && i + 1 < s.length) { cur.append(s(i + 1)); i += 1 }
        else if (c == quote) quote = 0
      } else c match {
        case '\'' | '"' => quote = c; cur.append(c)
        case '(' | '[' => depth += 1; cur.append(c)
        case ')' | ']' => depth -= 1; cur.append(c)
        case x if x == sep && depth == 0 => parts += cur.result(); cur.clear()
        case _ => cur.append(c)
      }
      i += 1
    }
    parts += cur.result()
    parts.toSeq
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
          Expr.eval(e, scope) match {
            case Right(value) =>
              scope += (v -> value); definedKeys += v; Right("")
            case Left(err) => Left(err)
          }
        case MacroNode(mName, params, body) =>
          // closes over the CURRENT scope (Jinja semantics); visible to
          // the rest of the block like {% set %}. Self-recursion is not
          // supported.
          scope += (mName -> MacroDef(mName, params, body, scope))
          definedKeys += mName
          Right("")
        case Interp(e) => evalExpr(e, ctx, scope)
        case IfNode(branches, elseBody) =>
          // Jinja semantics: conditions evaluate strictly in order and the
          // FIRST error propagates — a malformed guard must not be masked
          // by a later branch matching (a typo'd condition would silently
          // change the emitted SQL otherwise)
          def choose(bs: Seq[(String, Seq[Node])]): Result[String] = bs match {
            case (cond, body) +: rest =>
              Expr.eval(cond, scope).flatMap(v =>
                if (Expr.truthy(v)) render(body, ctx, scope, depth)
                else choose(rest))
            case _ => render(elseBody, ctx, scope, depth)
          }
          choose(branches)
        case ForNode(v, iterExpr, body) =>
          Expr.eval(iterExpr, scope).flatMap {
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
              s"for-loop iterable '$iterExpr' is not a list (got " +
                s"${if (other == null) "none" else other.getClass.getSimpleName})"))
          }
        case IncludeNode(pathExpr) =>
          // rendered with the CURRENT scope (Jinja include semantics);
          // scope changes inside the included file do not leak back
          loadTemplate(pathExpr, ctx, scope)
            .flatMap { case (_, nodes2) => render(nodes2, ctx, scope, depth + 1) }
        case ImportNode(pathExpr, names, alias) =>
          // Jinja import semantics: the imported template renders against
          // the GLOBAL context only (not the including scope), its output
          // is discarded, and its macros/assignments enter this scope
          loadTemplate(pathExpr, ctx, scope).flatMap { case (path, nodes2) =>
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
                      Left(ParseError(s"template '$path' does not define: " +
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
      pathExpr: String, ctx: Context,
      scope: Map[String, Any]): Result[(String, Seq[Node])] =
    Expr.eval(pathExpr, scope).flatMap {
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

  // dotted head names resolve through lookup(), so a namespaced-import
  // macro ({{ ns.macro(...) }}) calls like a flat one
  private val CallRe = "^([a-zA-Z_][a-zA-Z0-9_.]*)\\((.*)\\)$".r

  /** An unquoted macro argument: `src(tbl)` references the template
    * variable `tbl` (Jinja semantics); if no such variable exists the word
    * is kept as a literal string (back-compat with `src(schema.table)`
    * written unquoted).
    */
  private[core] final case class BareWord(word: String)

  private def resolveArg(
      v: Any, scope: Map[String, Any], ctx: Context,
      isKwargValue: Boolean = false): Any =
    v match {
      case BareWord(w) => lookup(w, scope) match {
        case Some(value) =>
          // Dotted bare words are the back-compat LITERAL shape
          // (src(schema.table) written unquoted), and keyword-argument
          // values are conventionally literals too
          // (config(materialisation=table)) — when a template variable
          // shadows either, its meaning changes with the data, so surface
          // it. Plain positional identifiers (src(s) in a for-loop) are
          // ordinary Jinja variable references: no warning.
          if (w.contains('.') || isKwargValue)
            ctx.warn(s"macro argument '$w' resolved to template variable " +
              s"'${renderValue(value)}'; quote it ('$w') to keep the literal")
          value
        case None => w
      }
      case xs: Seq[_] => xs.map(resolveArg(_, scope, ctx, isKwargValue))
      case other => other
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
        s"undefined value piped into '$name' in '{{ $expr }}'"))
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
        Left(ParseError(s"default() needs a value in '{{ $expr }}'"))
      case ("join", sep) if sep.size <= 1 =>
        defined.flatMap {
          case xs: Seq[_] =>
            Right(Some(xs.map(str).mkString(sep.headOption.fold("")(str))))
          case _ => Left(ParseError(s"join expects a list in '{{ $expr }}'"))
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
          case _ => Left(ParseError(s"length of non-sequence in '{{ $expr }}'"))
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
        case _ => Left(ParseError(s"abs of non-number in '{{ $expr }}'"))
      }
      case ("round", rest) if rest.size <= 1 =>
        defined.flatMap { v =>
          val prec = rest.headOption.flatMap(toLong).getOrElse(0L).toInt
          toDouble(v) match {
            case Some(d) => Right(Some(BigDecimal(d)
              .setScale(prec, BigDecimal.RoundingMode.HALF_UP).toDouble))
            case None => Left(ParseError(s"round of non-number in '{{ $expr }}'"))
          }
        }
      case ("min", Seq()) | ("max", Seq()) => defined.flatMap {
        case xs: Seq[_] if xs.nonEmpty =>
          val nums = xs.map(x => toDouble(x))
          if (nums.exists(_.isEmpty))
            Left(ParseError(s"$name of non-numeric list in '{{ $expr }}'"))
          else {
            val pairs = xs.zip(nums.map(_.get))
            val best =
              if (name == "min") pairs.minBy(_._2) else pairs.maxBy(_._2)
            Right(Some(best._1))
          }
        case xs: Seq[_] =>
          Left(ParseError(s"$name of empty list in '{{ $expr }}'"))
        case _ => Left(ParseError(s"$name expects a list in '{{ $expr }}'"))
      }
      case ("first", Seq()) => defined.flatMap {
        case xs: Seq[_] => Right(xs.headOption)
        case s: String => Right(s.headOption.map(_.toString))
        case _ => Left(ParseError(s"first of non-sequence in '{{ $expr }}'"))
      }
      case ("last", Seq()) => defined.flatMap {
        case xs: Seq[_] => Right(xs.lastOption)
        case s: String => Right(s.lastOption.map(_.toString))
        case _ => Left(ParseError(s"last of non-sequence in '{{ $expr }}'"))
      }
      case (other, _) => Left(ParseError(
        s"unknown or mis-applied filter '$other' in '{{ $expr }}'"))
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

  private val FilterRe = "^([a-zA-Z_][a-zA-Z0-9_]*)(?:\\((.*)\\))?$".r

  private def evalExpr(
      expr: String, ctx: Context, scope: Map[String, Any]): Result[String] = {
    // filter pipes; `||` never appears in `{{ }}` context (SQL concat
    // lives in the SQL text, not inside interpolations)
    val pipes = splitTopLevel(expr, '|').map(_.trim)
    val head = pipes.head
    // head value: Some = defined, None = undefined (only |default may
    // consume an undefined head — Jinja's Undefined-with-default idiom)
    val headValue: Result[Option[Any]] = head match {
      case CallRe(fn, argStr) =>
        parseArgs(argStr).flatMap { case (pos0, kw0) =>
          val pos = pos0.map(resolveArg(_, scope, ctx))
          val kw = kw0.map { case (k, v) =>
            k -> resolveArg(v, scope, ctx, isKwargValue = true)
          }
          fn match {
            case "src" =>
              pos match {
                case Seq(one: String) => Right(Some(ctx.src(one)))
                case _ => Left(ParseError(s"src() takes one string argument: {{ $expr }}"))
              }
            case "out" =>
              pos match {
                case Seq(one: String) => Right(Some(ctx.out(one)))
                case _ => Left(ParseError(s"out() takes one string argument: {{ $expr }}"))
              }
            case "config" =>
              if (pos.nonEmpty)
                Left(ParseError(s"config() takes only keyword arguments: {{ $expr }}"))
              else {
                if (ctx.allowConfig) ctx.config(kw)
                Right(Some(""))
              }
            case other => lookup(other, scope) match {
              case Some(m: MacroDef) =>
                callMacro(m, pos, kw, ctx, expr).map(Some(_))
              case _ =>
                // expression-level builtins (range): evaluate the whole
                // head as an expression before declaring it unknown
                Expr.eval(head, scope) match {
                  case Right(v) => Right(Some(v))
                  case Left(_) =>
                    Left(ParseError(s"unknown template function '$other'"))
                }
            }
          }
        }
      case path =>
        if (path.matches("[A-Za-z_][A-Za-z0-9_.]*")) Right(lookup(path, scope))
        else
          // not a bare variable path: a full expression head, e.g.
          // `{{ a + b }}` / `{{ n * 2 - 1 }}` — Jinja evaluates these
          // anywhere, not only inside {% if %}/{% set %}
          Expr.eval(path, scope).map(v => Some(v))
    }
    val piped = pipes.tail.foldLeft(headValue) { (acc, f) =>
      acc.flatMap { v =>
        f match {
          case FilterRe(name, argStr) =>
            (Option(argStr) match {
              case Some(a) => parseArgs(a).map(_._1.map(resolveArg(_, scope, ctx)))
              case None => Right(Nil)
            }).flatMap(args => applyFilter(v, name, args, expr))
          case other =>
            Left(ParseError(s"malformed filter '$other' in '{{ $expr }}'"))
        }
      }
    }
    piped.flatMap {
      case Some(v) => Right(renderValue(v))
      case None => Left(ParseError(s"undefined template variable '${pipes.head}'" +
        (if (pipes.size > 1) s" in '{{ $expr }}'" else "")))
    }
  }

  /** Invoke a user macro: bind call args to declared params in order
    * (positional, then keyword, then signature defaults — defaults may be
    * bare words resolved against the definition scope), render the body
    * with the definition scope extended by the bindings.
    */
  private def callMacro(
      m: MacroDef, pos: Seq[Any], kw: Map[String, Any],
      ctx: Context, expr: String): Result[String] = {
    val names = m.params.map(_._1)
    if (pos.length > names.length)
      return Left(ParseError(
        s"macro '${m.name}' takes ${names.length} argument(s): {{ $expr }}"))
    val unknown = kw.keySet -- names.toSet
    if (unknown.nonEmpty)
      return Left(ParseError(s"macro '${m.name}' has no argument " +
        s"'${unknown.toSeq.sorted.head}': {{ $expr }}"))
    val bound = m.params.zipWithIndex.map { case ((p, dflt), idx) =>
      if (idx < pos.length)
        if (kw.contains(p))
          Left(ParseError(
            s"macro '${m.name}' argument '$p' given twice: {{ $expr }}"))
        else Right(p -> pos(idx))
      else kw.get(p) match {
        case Some(v) => Right(p -> v)
        case None => dflt match {
          case Some(d) => Right(p -> resolveArg(d, m.defScope, ctx))
          case None => Left(ParseError(
            s"macro '${m.name}' missing argument '$p': {{ $expr }}"))
        }
      }
    }
    Result.sequence(bound)
      .flatMap(bs => render(m.body, ctx, m.defScope ++ bs))
  }

  private[core] def lookup(path: String, params: Map[String, Any]): Option[Any] =
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

  /** Parse a macro argument list: positional literals and key=value pairs.
    * Literals: 'str', "str", numbers, true/false, [list, of, literals].
    */
  private[core] def parseArgs(s: String): Result[(Seq[Any], Map[String, Any])] = {
    val pos = mutable.ArrayBuffer.empty[Any]
    val kw = mutable.LinkedHashMap.empty[String, Any]
    var i = 0
    val n = s.length

    def skipWs(): Unit = while (i < n && s(i).isWhitespace) i += 1

    def parseValue(): Result[Any] = {
      skipWs()
      if (i >= n) return Left(ParseError(s"unexpected end of arguments in '$s'"))
      s(i) match {
        case '\'' | '"' =>
          val quote = s(i); i += 1
          val sb = new StringBuilder
          while (i < n && s(i) != quote) {
            if (s(i) == '\\' && i + 1 < n) { sb.append(s(i + 1)); i += 2 }
            else { sb.append(s(i)); i += 1 }
          }
          if (i >= n) return Left(ParseError(s"unterminated string in '$s'"))
          i += 1
          Right(sb.result())
        case '[' =>
          i += 1
          val items = mutable.ArrayBuffer.empty[Any]
          skipWs()
          if (i < n && s(i) == ']') { i += 1; return Right(items.toSeq) }
          var done = false
          while (!done) {
            parseValue() match {
              case Right(v) => items += v
              case l @ Left(_) => return l
            }
            skipWs()
            if (i < n && s(i) == ',') { i += 1 }
            else if (i < n && s(i) == ']') { i += 1; done = true }
            else return Left(ParseError(s"malformed list in '$s'"))
          }
          Right(items.toSeq)
        case _ =>
          val start = i
          while (i < n && !",=)]".contains(s(i)) && !s(i).isWhitespace) i += 1
          val tok = s.substring(start, i)
          tok.toLowerCase match {
            case "true" => Right(true)
            case "false" => Right(false)
            case "none" | "null" => Right(null)
            case num if num.matches("-?\\d+") => Right(num.toLong)
            case num if num.matches("-?\\d*\\.\\d+") => Right(num.toDouble)
            case "" => Left(ParseError(s"empty argument token in '$s'"))
            // bare word → template-variable reference, resolved (or kept
            // as a literal string) by the caller against the live scope
            case _ => Right(BareWord(tok))
          }
      }
    }

    skipWs()
    while (i < n) {
      // try key= lookahead
      val keyStart = i
      var j = i
      while (j < n && (s(j).isLetterOrDigit || s(j) == '_')) j += 1
      var k = j
      while (k < n && s(k).isWhitespace) k += 1
      if (j > keyStart && k < n && s(k) == '=' && (k + 1 >= n || s(k + 1) != '=')) {
        val key = s.substring(keyStart, j)
        i = k + 1
        parseValue() match {
          case Right(v) => kw(key) = v
          case Left(e) => return Left(e)
        }
      } else {
        parseValue() match {
          case Right(v) => pos += v
          case Left(e) => return Left(e)
        }
      }
      skipWs()
      if (i < n) {
        if (s(i) != ',')
          return Left(ParseError(s"expected ',' at position $i in '$s'"))
        i += 1
        skipWs()
      }
    }
    Right((pos.toSeq, kw.toMap))
  }
}

/** Condition/iterable expression evaluator for template control flow —
  * the Jinja-expression subset reference projects use: literals, variable
  * paths, lists, comparisons, membership, boolean algebra, parentheses,
  * arithmetic (`+ - * / %` with Python semantics: true division, floor
  * modulo, string/list concatenation, string repetition — use
  * `{% set %}` to bind computed values for `{{ }}` output),
  * and Jinja tests (`x is defined`, `is not none`, `is number`, `is
  * string`, `is boolean`, `is mapping`, `is sequence`, `is iterable`,
  * `is even/odd`, `is true/false`). Python semantics: truthiness,
  * numeric cross-type equality (1 == 1.0), undefined → None (falsy);
  * `is defined` tests scope presence, so a variable explicitly set to
  * none IS defined (sayn/utils/compiler.py:31-135 exposes full Jinja —
  * these tests are the constructs real projects hit first).
  */
private[core] object Expr {

  private sealed trait Tok
  private final case class TLit(v: Any) extends Tok
  private final case class TPath(p: String) extends Tok
  private final case class TOp(op: String) extends Tok

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

  def eval(expr: String, scope: Map[String, Any]): Result.Result[Any] =
    lex(expr).flatMap { toks =>
      val p = new Parser(toks, scope, expr)
      p.parseOr().flatMap { v =>
        if (p.atEnd) Right(v)
        else Left(ParseError(s"trailing tokens in expression '$expr'"))
      }
    }

  private def lex(s: String): Result.Result[Vector[Tok]] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s(i)
      if (c.isWhitespace) i += 1
      else if (c == '\'' || c == '"') {
        val sb = new StringBuilder; i += 1
        while (i < n && s(i) != c) {
          if (s(i) == '\\' && i + 1 < n) { sb.append(s(i + 1)); i += 2 }
          else { sb.append(s(i)); i += 1 }
        }
        if (i >= n) return Left(ParseError(s"unterminated string in '$s'"))
        i += 1
        out += TLit(sb.result())
      } else if (c.isDigit ||
        (c == '-' && i + 1 < n && s(i + 1).isDigit &&
          // '-' is a sign only at expression/operator position
          (out.result().lastOption match {
            case Some(TLit(_)) | Some(TPath(_)) | Some(TOp(")")) | Some(TOp("]")) => false
            case _ => true
          }))) {
        val start = i
        i += 1
        while (i < n && (s(i).isDigit || s(i) == '.')) i += 1
        val tok = s.substring(start, i)
        out += TLit(if (tok.contains('.')) tok.toDouble else tok.toLong)
      } else if (c.isLetter || c == '_') {
        val start = i
        while (i < n && (s(i).isLetterOrDigit || s(i) == '_' || s(i) == '.')) i += 1
        s.substring(start, i) match {
          case "true" | "True" => out += TLit(true)
          case "false" | "False" => out += TLit(false)
          case "none" | "None" | "null" => out += TLit(null)
          case "and" | "or" | "not" | "in" | "is" => out += TOp(s.substring(start, i))
          case path => out += TPath(path)
        }
      } else {
        val two = if (i + 1 < n) s.substring(i, i + 2) else ""
        two match {
          case "==" | "!=" | "<=" | ">=" => out += TOp(two); i += 2
          case _ =>
            c match {
              case '<' | '>' | '(' | ')' | '[' | ']' | ',' |
                  '+' | '-' | '*' | '/' | '%' =>
                out += TOp(c.toString); i += 1
              case other =>
                return Left(ParseError(s"unexpected '$other' in expression '$s'"))
            }
        }
      }
    }
    Right(out.result())
  }

  private final class Parser(
      toks: Vector[Tok], scope: Map[String, Any], src: String) {
    private var i = 0
    def atEnd: Boolean = i >= toks.length
    private def peek: Option[Tok] = toks.lift(i)
    private def peekOp(op: String): Boolean = peek.contains(TOp(op))
    private def take(): Tok = { val t = toks(i); i += 1; t }

    def parseOr(): Result.Result[Any] =
      parseAnd().flatMap { first =>
        var acc = first
        var err: Option[GraftError] = None
        while (err.isEmpty && peekOp("or")) {
          take()
          // Python short-circuit: return first truthy operand's value
          parseAnd() match {
            case Right(v) => if (!truthy(acc)) acc = v
            case Left(e) => err = Some(e)
          }
        }
        err.map(Left(_)).getOrElse(Right(acc))
      }

    private def parseAnd(): Result.Result[Any] =
      parseNot().flatMap { first =>
        var acc = first
        var err: Option[GraftError] = None
        while (err.isEmpty && peekOp("and")) {
          take()
          parseNot() match {
            case Right(v) => if (truthy(acc)) acc = v
            case Left(e) => err = Some(e)
          }
        }
        err.map(Left(_)).getOrElse(Right(acc))
      }

    private def parseNot(): Result.Result[Any] =
      if (peekOp("not")) { take(); parseNot().map(v => !truthy(v)) }
      else parseCmp()

    private def parseCmp(): Result.Result[Any] = {
      // a BARE path on the left is remembered so `is defined` can test
      // presence in scope rather than the (undefined → None) value —
      // Jinja distinguishes a variable set to none from a missing one
      val leftPath = peek match {
        case Some(TPath(p)) => Some(p)
        case _ => None
      }
      parseAdd().flatMap { left =>
        peek match {
          case Some(TOp(op)) if Set("==", "!=", "<", "<=", ">", ">=").contains(op) =>
            take()
            parseAdd().map(right => compare(op, left, right))
          case Some(TOp("in")) =>
            take()
            parseAdd().map(right => isIn(left, right))
          case Some(TOp("not")) if toks.lift(i + 1).contains(TOp("in")) =>
            take(); take()
            parseAdd().map(right => !isIn(left, right))
          case Some(TOp("is")) =>
            take()
            val negate = if (peekOp("not")) { take(); true } else false
            val tested: Result.Result[Boolean] =
              if (atEnd) Left(ParseError(s"missing test after 'is' in '$src'"))
              else take() match {
                case TPath(name) => applyTest(name, left, leftPath)
                case TLit(null) => applyTest("none", left, leftPath)
                // Jinja `is true` / `is false`: exact boolean identity
                case TLit(b: Boolean) => Right(left == b)
                case other =>
                  Left(ParseError(s"unknown test '$other' after 'is' in '$src'"))
              }
            tested.map(b => if (negate) !b else b)
          case _ => Right(left)
        }
      }
    }

    /** Jinja tests (the `x is <test>` construct). `defined`/`undefined`
      * consult the SCOPE (a bare path resolves its presence; any other
      * operand is a value and thus defined); the rest test the value.
      * `number` is true for booleans too — Python's bool is an int
      * subclass and Jinja inherits that; `sequence` matches anything
      * indexable with a length (lists, strings, mappings), exactly as
      * Jinja's does.
      */
    private def applyTest(
        name: String, left: Any, leftPath: Option[String]): Result.Result[Boolean] = {
      def defined: Boolean = leftPath match {
        case Some(p) => Compiler.lookup(p, scope).isDefined
        case None => true
      }
      name match {
        case "defined" => Right(defined)
        case "undefined" => Right(!defined)
        case "none" => Right(left == null)
        case "number" => Right(left match {
          case _: Long | _: Int | _: Double | _: Boolean => true
          case _ => false
        })
        case "string" => Right(left.isInstanceOf[String])
        case "boolean" => Right(left.isInstanceOf[Boolean])
        case "mapping" => Right(left.isInstanceOf[Map[_, _]])
        case "sequence" => Right(left match {
          case _: Seq[_] | _: String | _: Map[_, _] => true
          case _ => false
        })
        case "iterable" => Right(left match {
          case _: Seq[_] | _: String | _: Map[_, _] => true
          case _ => false
        })
        case "even" | "odd" => left match {
          case n: Long => Right(if (name == "even") n % 2 == 0 else n % 2 != 0)
          case n: Int => Right(if (name == "even") n % 2 == 0 else n % 2 != 0)
          case other => Left(ParseError(
            s"test '$name' needs an integer, got '$other' in '$src'"))
        }
        case other => Left(ParseError(s"unknown test '$other' in '$src'"))
      }
    }

    // ---- arithmetic (Python semantics) ------------------------------------
    // precedence: cmp > add/sub > mul/div/mod > unary minus > primary

    private def parseAdd(): Result.Result[Any] =
      parseMul().flatMap { first =>
        var acc: Result.Result[Any] = Right(first)
        while (acc.isRight && (peekOp("+") || peekOp("-"))) {
          val op = take().asInstanceOf[TOp].op
          acc = acc.flatMap(l => parseMul().flatMap(r => arith(op, l, r)))
        }
        acc
      }

    private def parseMul(): Result.Result[Any] =
      parseUnary().flatMap { first =>
        var acc: Result.Result[Any] = Right(first)
        while (acc.isRight && (peekOp("*") || peekOp("/") || peekOp("%"))) {
          val op = take().asInstanceOf[TOp].op
          acc = acc.flatMap(l => parseUnary().flatMap(r => arith(op, l, r)))
        }
        acc
      }

    private def parseUnary(): Result.Result[Any] =
      if (peekOp("-")) {
        take()
        parseUnary().flatMap {
          case n: Long => Right(-n)
          case n: Int => Right(-n.toLong)
          case n: Double => Right(-n)
          case b: Boolean => Right(if (b) -1L else 0L)
          case other => Left(ParseError(
            s"unary '-' needs a number, got '$other' in '$src'"))
        }
      } else if (peekOp("+")) {
        take()
        parseUnary().flatMap {
          case n @ (_: Long | _: Int | _: Double | _: Boolean) => Right(n)
          case other => Left(ParseError(
            s"unary '+' needs a number, got '$other' in '$src'"))
        }
      } else parsePrimary()

    /** Python arithmetic: ints stay ints except true division (always
      * float, like Python 3); mixed numeric widens to float; `%` follows
      * the DIVISOR's sign (floorMod, the Python rule — Java's % follows
      * the dividend); booleans count as 0/1 (bool is an int subclass);
      * `+` concatenates strings and lists; `*` repeats a string by an
      * int count. Division/modulo by zero is a template error, not an
      * exception.
      */
    private def arith(op: String, l: Any, r: Any): Result.Result[Any] = {
      def asLong(v: Any): Option[Long] = v match {
        case n: Long => Some(n)
        case n: Int => Some(n.toLong)
        case b: Boolean => Some(if (b) 1L else 0L)
        case _ => None
      }
      def pyFmod(a: Double, b: Double): Double = {
        val m = a % b
        if (m != 0.0 && ((m < 0) != (b < 0))) m + b else m
      }
      (asLong(l), asLong(r)) match {
        case (Some(a), Some(b)) => op match {
          case "+" => Right(a + b)
          case "-" => Right(a - b)
          case "*" => Right(a * b)
          case "/" =>
            if (b == 0) Left(ParseError(s"division by zero in '$src'"))
            else Right(a.toDouble / b.toDouble) // Python 3 true division
          case "%" =>
            if (b == 0) Left(ParseError(s"modulo by zero in '$src'"))
            else Right(math.floorMod(a, b))
        }
        case _ => (num(l), num(r)) match {
          case (Some(a), Some(b)) => op match {
            case "+" => Right(a + b)
            case "-" => Right(a - b)
            case "*" => Right(a * b)
            case "/" =>
              if (b == 0.0) Left(ParseError(s"division by zero in '$src'"))
              else Right(a / b)
            case "%" =>
              if (b == 0.0) Left(ParseError(s"modulo by zero in '$src'"))
              else Right(pyFmod(a, b))
          }
          case _ => (op, l, r) match {
            case ("+", a: String, b: String) => Right(a + b)
            case ("+", a: Seq[_], b: Seq[_]) => Right(a ++ b)
            case ("*", a: String, _) if asLong(r).isDefined =>
              Right(a * math.max(0L, asLong(r).get).toInt)
            case ("*", _, b: String) if asLong(l).isDefined =>
              Right(b * math.max(0L, asLong(l).get).toInt)
            case _ => Left(ParseError(
              s"unsupported operand types for '$op' in '$src': '$l', '$r'"))
          }
        }
      }
    }

    private def parsePrimary(): Result.Result[Any] = peek match {
      case Some(TLit(v)) => take(); Right(v)
      case Some(TPath("range")) if toks.lift(i + 1).contains(TOp("(")) =>
        take(); take()
        // Jinja's range() global: 1-3 integer args, exclusive stop,
        // Python step semantics — the loop-count idiom `{% for i in
        // range(n) %}`
        val args = mutable.ArrayBuffer.empty[Any]
        var err: Option[GraftError] = None
        var done = peekOp(")")
        if (done) take()
        while (!done && err.isEmpty) {
          parseOr() match {
            case Right(v) => args += v
            case Left(e) => err = Some(e)
          }
          if (err.isEmpty) {
            if (peekOp(",")) take()
            else if (peekOp(")")) { take(); done = true }
            else err = Some(ParseError(s"malformed range() in '$src'"))
          }
        }
        err.map(Left(_)).getOrElse {
          def asL(v: Any): Option[Long] = v match {
            case n: Long => Some(n); case n: Int => Some(n.toLong); case _ => None
          }
          val r = args.toSeq.map(asL) match {
            case Seq(Some(stop)) => Right((0L, stop, 1L))
            case Seq(Some(st), Some(stop)) => Right((st, stop, 1L))
            case Seq(Some(st), Some(stop), Some(step)) if step != 0 =>
              Right((st, stop, step))
            case _ => Left(ParseError(
              s"range() takes 1-3 integer arguments (step != 0) in '$src'"))
          }
          // a typo'd bound must not materialize a billion-element list;
          // count in BigInt BEFORE building the range — NumericRange
          // itself throws past Int.MaxValue elements, which would escape
          // compile()'s Result contract as an exception
          r.flatMap { case (st, stop, step) =>
            val d = BigInt(stop) - BigInt(st)
            val n =
              if (step > 0) (d + step - 1).max(0) / step
              else (d + step + 1).min(0) / step
            if (n > 1000000) Left(ParseError(
              s"range() over 1e6 elements in '$src' (got $n)"))
            else Right((st until stop by step).toVector)
          }
        }
      case Some(TPath(p)) =>
        take()
        // undefined → None (Jinja Undefined is falsy; guards like
        // {% if optional_flag %} must not error)
        Right(Compiler.lookup(p, scope).orNull)
      case Some(TOp("(")) =>
        take()
        parseOr().flatMap { v =>
          if (peekOp(")")) { take(); Right(v) }
          else Left(ParseError(s"missing ')' in expression '$src'"))
        }
      case Some(TOp("[")) =>
        take()
        val items = mutable.ArrayBuffer.empty[Any]
        if (peekOp("]")) { take(); Right(items.toSeq) }
        else {
          var err: Option[GraftError] = None
          var done = false
          while (!done && err.isEmpty) {
            parseOr() match {
              case Right(v) => items += v
              case Left(e) => err = Some(e)
            }
            if (err.isEmpty) {
              if (peekOp(",")) take()
              else if (peekOp("]")) { take(); done = true }
              else err = Some(ParseError(s"malformed list in expression '$src'"))
            }
          }
          err.map(Left(_)).getOrElse(Right(items.toSeq))
        }
      case other =>
        Left(ParseError(s"unexpected ${other.getOrElse("end")} in expression '$src'"))
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
}
