package graft.core

import org.scalatest.funsuite.AnyFunSuite
import Compiler.Context

class CompilerSpec extends AnyFunSuite {

  test("plain text passes through") {
    assert(Compiler.compile("SELECT 1", Context()) == Right("SELECT 1"))
  }

  test("parameter substitution incl. dotted paths") {
    val ctx = Context(params = Map(
      "user_prefix" -> "u1",
      "task" -> Map("name" -> "t1", "group" -> "g1"),
      "full_load" -> false,
      "start_dt" -> "2026-01-01"))
    assert(Compiler.compile("{{ user_prefix }}_x", ctx) == Right("u1_x"))
    assert(Compiler.compile("-- {{ task.name }} in {{ task.group }}", ctx) ==
      Right("-- t1 in g1"))
    assert(Compiler.compile("{{ full_load }}", ctx) == Right("false"))
    assert(Compiler.compile("'{{ start_dt }}'", ctx) == Right("'2026-01-01'"))
  }

  test("undefined variable errors") {
    assert(Compiler.compile("{{ nope }}", Context()).isLeft)
  }

  test("out-of-subset Jinja constructs fail loudly, not silently") {
    // the documented template-engine boundary (README): {% filter %}
    // blocks, {% call %}/caller(), and inheritance are OUTSIDE the
    // implemented subset and must surface as parse errors rather than
    // render wrong
    for (tpl <- Seq(
      "{% filter upper %}x{% endfilter %}",
      "{% call m() %}body{% endcall %}",
      "{% extends 'base.sql' %}",
      "{% block content %}x{% endblock %}")) {
      val r = Compiler.compile(tpl, Context())
      assert(r.isLeft, s"expected loud failure for: $tpl")
      assert(r.swap.exists(_.toString.contains("template tag")),
        s"error should name the offending tag for: $tpl")
    }
  }

  test("src/out macros resolve and can record lineage") {
    var srcs = List.empty[String]
    var outs = List.empty[String]
    val ctx = Context(
      src = { s => srcs ::= s; s"dev_$s" },
      out = { s => outs ::= s; s"dev_$s" })
    val r = Compiler.compile(
      "CREATE TABLE {{ out('f_battles') }} AS SELECT * FROM {{ src('logs_battles') }}",
      ctx)
    assert(r == Right("CREATE TABLE dev_f_battles AS SELECT * FROM dev_logs_battles"))
    assert(srcs == List("logs_battles") && outs == List("f_battles"))
  }

  test("config macro collects kwargs on first pass, renders empty") {
    var got: Map[String, Any] = Map.empty
    val ctx = Context(config = got = _, allowConfig = true)
    val r = Compiler.compile(
      "{{ config(materialisation='incremental', delete_key='id', tags=['nightly']) }}SELECT 1",
      ctx)
    assert(r == Right("SELECT 1"))
    assert(got == Map(
      "materialisation" -> "incremental",
      "delete_key" -> "id",
      "tags" -> Seq("nightly")))
  }

  test("config macro is ignored when not allowed (second pass)") {
    var called = false
    val ctx = Context(config = _ => called = true, allowConfig = false)
    assert(Compiler.compile("{{ config(materialisation='table') }}X", ctx) ==
      Right("X"))
    assert(!called)
  }

  // ---- control flow (Jinja subset, sayn/utils/compiler.py:31-135) -------

  test("if/else on truthiness: full_load guard") {
    val t = "SELECT * FROM t{% if full_load %} -- full{% else %} WHERE d >= '{{ start_dt }}'{% endif %}"
    assert(Compiler.compile(t, Context(Map("full_load" -> true))) ==
      Right("SELECT * FROM t -- full"))
    assert(Compiler.compile(t,
      Context(Map("full_load" -> false, "start_dt" -> "2024-01-01"))) ==
      Right("SELECT * FROM t WHERE d >= '2024-01-01'"))
  }

  test("elif chain and comparisons") {
    val t = "{% if n > 10 %}big{% elif n > 5 %}mid{% else %}small{% endif %}"
    assert(Compiler.compile(t, Context(Map("n" -> 20L))) == Right("big"))
    assert(Compiler.compile(t, Context(Map("n" -> 7L))) == Right("mid"))
    assert(Compiler.compile(t, Context(Map("n" -> 1L))) == Right("small"))
  }

  test("condition operators: ==, in, not, and/or, dotted paths") {
    def run(cond: String, params: Map[String, Any]): String =
      Compiler.compile(s"{% if $cond %}Y{% else %}N{% endif %}",
        Context(params)).toOption.get
    assert(run("task.name == 'load'",
      Map("task" -> Map("name" -> "load"))) == "Y")
    assert(run("x in ['a', 'b']", Map("x" -> "b")) == "Y")
    assert(run("x not in ['a', 'b']", Map("x" -> "c")) == "Y")
    assert(run("not flag and n >= 2", Map("flag" -> false, "n" -> 2L)) == "Y")
    assert(run("flag or fallback", Map("flag" -> false, "fallback" -> true)) == "Y")
    // undefined variable is falsy (Jinja Undefined), not an error
    assert(run("missing_flag", Map.empty) == "N")
    // python numeric cross-type equality
    assert(run("n == 1", Map("n" -> 1.0)) == "Y")
  }

  test("arithmetic in conditions and set: python semantics") {
    def run(t: String, params: Map[String, Any] = Map.empty): String =
      Compiler.compile(t, Context(params)).toOption.get
    def cond(c: String, params: Map[String, Any] = Map.empty): String =
      run(s"{% if $c %}Y{% else %}N{% endif %}", params)
    // precedence: mul binds tighter than add, parens override
    assert(cond("1 + 2 * 3 == 7")  == "Y")
    assert(cond("(1 + 2) * 3 == 9") == "Y")
    // true division (Python 3): int / int is a float
    assert(cond("1 / 2 == 0.5") == "Y")
    // floor modulo: sign follows the divisor, unlike Java's %
    assert(cond("-7 % 3 == 2") == "Y")
    assert(cond("7 % -3 == -2") == "Y")
    // unary minus on a variable; bool counts as 1 (Python bool ⊂ int)
    assert(cond("-n + 1 == -4", Map("n" -> 5L)) == "Y")
    assert(cond("flag + 1 == 2", Map("flag" -> true)) == "Y")
    // string/list concatenation and string repetition
    assert(cond("'ab' + 'cd' == 'abcd'") == "Y")
    assert(cond("'ab' * 2 == 'abab'") == "Y")
    assert(cond("x + [3] == [1, 2, 3]", Map("x" -> Seq(1L, 2L))) == "Y")
    // computed values flow through {% set %} into output and loops
    assert(run("{% set m = n * 2 + 1 %}{{ m }}", Map("n" -> 3L)) == "7")
    assert(run("{% for c in cols + ['z'] %}{{ c }}{% endfor %}",
      Map("cols" -> Seq("a", "b"))) == "abz")
    // loop.index arithmetic — the alternating-rows shape
    assert(run("{% for c in cols %}{% if loop.index % 2 == 1 %}{{ c }}" +
      "{% endif %}{% endfor %}", Map("cols" -> Seq("a", "b", "c"))) == "ac")
    // division / modulo by zero and type errors are template errors
    assert(Compiler.compile("{% if 1 / 0 %}Y{% endif %}", Context()).isLeft)
    assert(Compiler.compile("{% if 1 % 0 %}Y{% endif %}", Context()).isLeft)
    assert(Compiler.compile("{% if 'a' - 1 %}Y{% endif %}", Context()).isLeft)
  }

  test("jinja tests: is defined / is none / is number and friends") {
    def run(cond: String, params: Map[String, Any]): String =
      Compiler.compile(s"{% if $cond %}Y{% else %}N{% endif %}",
        Context(params)).toOption.get
    // defined consults the SCOPE: a var set to none IS defined (Jinja)
    assert(run("x is defined", Map("x" -> 1L)) == "Y")
    assert(run("x is defined", Map("x" -> null)) == "Y")
    assert(run("x is defined", Map.empty) == "N")
    assert(run("x is not defined", Map.empty) == "Y")
    assert(run("x is undefined", Map.empty) == "Y")
    assert(run("x.y is defined", Map("x" -> Map("y" -> false))) == "Y")
    assert(run("x.y is defined", Map("x" -> Map("z" -> 1L))) == "N")
    // none tests the VALUE: undefined → none (Jinja's Undefined semantics
    // diverge here; our undefined collapses to none, documented)
    assert(run("x is none", Map("x" -> null)) == "Y")
    assert(run("x is none", Map("x" -> 0L)) == "N")
    assert(run("x is not none", Map("x" -> "v")) == "Y")
    // type tests; booleans count as numbers, exactly like Python/Jinja
    assert(run("n is number", Map("n" -> 1.5)) == "Y")
    assert(run("n is number", Map("n" -> true)) == "Y")
    assert(run("n is number", Map("n" -> "7")) == "N")
    assert(run("s is string", Map("s" -> "")) == "Y")
    assert(run("b is boolean", Map("b" -> false)) == "Y")
    assert(run("m is mapping", Map("m" -> Map("k" -> 1L))) == "Y")
    assert(run("l is sequence", Map("l" -> Seq(1L, 2L))) == "Y")
    assert(run("s is sequence", Map("s" -> "ab")) == "Y") // strings index
    assert(run("n is sequence", Map("n" -> 3L)) == "N")
    assert(run("n is even", Map("n" -> 4L)) == "Y")
    assert(run("n is odd", Map("n" -> 4L)) == "N")
    assert(run("b is true", Map("b" -> true)) == "Y")
    assert(run("b is not false", Map("b" -> true)) == "Y")
    // is-true is IDENTITY, not truthiness (1 is truthy but not True)
    assert(run("n is true", Map("n" -> 1L)) == "N")
    // tests compose with boolean algebra
    assert(run("x is defined and x is not none", Map("x" -> 5L)) == "Y")
    assert(run("x is defined and x is not none", Map("x" -> null)) == "N")
    // unknown test and non-integer even/odd are template errors
    assert(Compiler.compile("{% if x is frobnicated %}Y{% endif %}",
      Context(Map("x" -> 1L))).isLeft)
    assert(Compiler.compile("{% if x is even %}Y{% endif %}",
      Context(Map("x" -> "nope"))).isLeft)
  }

  test("for loop with loop variables") {
    val t = "{% for c in cols %}{{ c }}{% if not loop.last %}, {% endif %}{% endfor %}"
    assert(Compiler.compile(t,
      Context(Map("cols" -> Seq("a", "b", "c")))) == Right("a, b, c"))
    val t2 = "{% for x in xs %}{{ loop.index }}:{{ x }} {% endfor %}"
    assert(Compiler.compile(t2,
      Context(Map("xs" -> Seq("p", "q")))) == Right("1:p 2:q "))
  }

  test("nested control flow and macros inside blocks") {
    val t = "{% for s in segs %}{% if s != 'skip' %}SELECT * FROM {{ src(s) }};{% endif %}{% endfor %}"
    val ctx = Context(Map("segs" -> Seq("t1", "skip", "t2")), src = s => s"db.$s")
    assert(Compiler.compile(t, ctx) ==
      Right("SELECT * FROM db.t1;SELECT * FROM db.t2;"))
  }

  test("set assigns for the rest of the block, shadows params") {
    val t = "{% set lim = n %}{% if lim > 5 %}big {{ lim }}{% endif %}"
    assert(Compiler.compile(t, Context(Map("n" -> 9L))) == Right("big 9"))
    // shadowing and literals
    assert(Compiler.compile(
      "{% set x = 'over' %}{{ x }}", Context(Map("x" -> "orig"))) == Right("over"))
    // inside a for body, set lives per iteration scope onwards
    assert(Compiler.compile(
      "{% for i in xs %}{% set y = i %}{{ y }}{% endfor %}",
      Context(Map("xs" -> Seq(1L, 2L)))) == Right("12"))
    assert(Compiler.compile("{% set = 3 %}", Context()).isLeft)
  }

  test("comments are dropped; unclosed blocks and bad tags error") {
    assert(Compiler.compile("a{# note #}b", Context()) == Right("ab"))
    assert(Compiler.compile("{% if x %}y", Context()).isLeft)
    assert(Compiler.compile("{% for x in xs %}y", Context(Map("xs" -> Seq(1)))).isLeft)
    assert(Compiler.compile("{% endif %}", Context()).isLeft)
    assert(Compiler.compile("{% frobnicate %}", Context()).isLeft)
    // non-list iterable errors rather than silently skipping
    assert(Compiler.compile("{% for x in n %}y{% endfor %}",
      Context(Map("n" -> 3L))).isLeft)
  }

  // ---- filters (Jinja battery) ------------------------------------------

  test("filters: default catches undefined and falsy-with-boolean") {
    assert(Compiler.compile("{{ missing | default('x') }}", Context()) ==
      Right("x"))
    assert(Compiler.compile("{{ v | default('x') }}",
      Context(Map("v" -> "set"))) == Right("set"))
    // Jinja: default(d) keeps a defined-but-falsy value...
    assert(Compiler.compile("{{ v | default('x') }}",
      Context(Map("v" -> ""))) == Right(""))
    // ...unless boolean=true
    assert(Compiler.compile("{{ v | default('x', true) }}",
      Context(Map("v" -> ""))) == Right("x"))
    // undefined without a default still errors (strict like the rest of
    // the compiler), including mid-pipe
    assert(Compiler.compile("{{ missing }}", Context()).isLeft)
    assert(Compiler.compile("{{ missing | upper }}", Context()).isLeft)
  }

  test("filters: join, upper/lower, trim, replace, length, first/last") {
    val ctx = Context(Map(
      "cols" -> Seq("a", "b", "c"), "s" -> "  Mixed Case  ", "n" -> 7L))
    assert(Compiler.compile("{{ cols | join(', ') }}", ctx) == Right("a, b, c"))
    assert(Compiler.compile("{{ cols | join }}", ctx) == Right("abc"))
    assert(Compiler.compile("{{ s | trim | upper }}", ctx) == Right("MIXED CASE"))
    assert(Compiler.compile("{{ s | trim | lower }}", ctx) == Right("mixed case"))
    assert(Compiler.compile("{{ s | replace('Case', 'Up') | trim }}", ctx) ==
      Right("Mixed Up"))
    assert(Compiler.compile("{{ cols | length }}", ctx) == Right("3"))
    assert(Compiler.compile("{{ cols | first }}/{{ cols | last }}", ctx) ==
      Right("a/c"))
    // numbers render through string filters
    assert(Compiler.compile("{{ n | upper }}", ctx) == Right("7"))
    // filters chain onto macros too
    assert(Compiler.compile("{{ src('t') | upper }}",
      Context(src = s => s"dev_$s")) == Right("DEV_T"))
    // unknown filter errors
    assert(Compiler.compile("{{ cols | frobnicate }}", ctx).isLeft)
    // join over a non-list errors
    assert(Compiler.compile("{{ n | join(',') }}", ctx).isLeft)
  }

  test("filters: int/float/abs/round/min/max numeric battery") {
    val ctx = Context(Map(
      "s" -> "42", "bad" -> "4x2", "d" -> 12.7, "neg" -> -3L,
      "xs" -> Seq(3L, 1L, 2L), "ds" -> Seq(1.5, 0.5)))
    assert(Compiler.compile("{{ s | int }}", ctx) == Right("42"))
    assert(Compiler.compile("{{ d | int }}", ctx) == Right("12")) // truncates
    assert(Compiler.compile("{{ bad | int }}", ctx) == Right("0")) // Jinja default
    assert(Compiler.compile("{{ bad | int(9) }}", ctx) == Right("9"))
    assert(Compiler.compile("{{ s | float }}", ctx) == Right("42.0"))
    assert(Compiler.compile("{{ neg | abs }}", ctx) == Right("3"))
    assert(Compiler.compile("{{ d | round }}", ctx) == Right("13.0"))
    assert(Compiler.compile("{{ d | round(1) }}", ctx) == Right("12.7"))
    assert(Compiler.compile("{{ xs | min }}/{{ xs | max }}", ctx) == Right("1/3"))
    assert(Compiler.compile("{{ ds | max }}", ctx) == Right("1.5"))
    // chains: parse then round
    assert(Compiler.compile("{{ s | float | round(2) }}", ctx) == Right("42.0"))
    // errors: abs of a string, min of empty, round of non-number
    assert(Compiler.compile("{{ s | abs }}", ctx).isLeft) // string, not number
    assert(Compiler.compile("{{ bad | round }}", ctx).isLeft)
    assert(Compiler.compile("{{ missing | int }}", ctx).isLeft) // still strict
  }

  // ---- error propagation --------------------------------------------------

  test("if/elif: first malformed condition errors even if a later branch matches") {
    // Jinja raises on the first evaluated bad condition; a typo'd guard
    // must not silently fall through to a matching later branch
    val t = "{% if n ?? 1 %}A{% elif true %}B{% endif %}"
    assert(Compiler.compile(t, Context(Map("n" -> 1L))).isLeft)
    // a bad condition BEHIND a matching first branch is never evaluated
    // (same as Jinja: conditions evaluate lazily in order)
    val t2 = "{% if true %}A{% elif n ?? 1 %}B{% endif %}"
    assert(Compiler.compile(t2, Context()) == Right("A"))
  }

  test("dotted bare-word macro args warn when a scope path shadows the literal") {
    var warned = List.empty[String]
    val ctx = Context(
      params = Map(
        "schema" -> Map("table" -> "dev_schema.t1"),
        "seg" -> "s1"),
      src = identity, warn = w => warned ::= w)
    // dotted word resolving through a variable path → warn (the unquoted
    // literal shape src(schema.table) changed meaning)
    assert(Compiler.compile("{{ src(schema.table) }}", ctx) == Right("dev_schema.t1"))
    assert(warned.exists(_.contains("'schema.table'")))
    warned = Nil
    // plain identifier resolving to a variable is ordinary Jinja usage —
    // no warning (a for-loop src(s) must not flood the console)
    assert(Compiler.compile("{{ src(seg) }}", ctx) == Right("s1"))
    assert(warned.isEmpty)
    // unresolved words stay literals silently; quoting always forces the
    // literal
    assert(Compiler.compile("{{ src(other.table) }}", ctx) == Right("other.table"))
    assert(Compiler.compile("{{ src('schema.table') }}", ctx) == Right("schema.table"))
    assert(warned.isEmpty)
  }

  test("keyword-argument bare words warn when a scope variable shadows the literal") {
    var warned = List.empty[String]
    var conf = Map.empty[String, Any]
    val ctx = Context(
      params = Map("table" -> "my_var_value"),
      config = m => conf = m, allowConfig = true,
      warn = w => warned ::= w)
    // kwarg values are conventionally literals (config(materialisation=table));
    // a scope variable named `table` silently changing the meaning is the
    // data-dependent hazard — warn and resolve to the variable (Jinja).
    assert(Compiler.compile("{{ config(materialisation=table) }}", ctx) == Right(""))
    assert(conf == Map("materialisation" -> "my_var_value"))
    assert(warned.exists(w => w.contains("'table'") && w.contains("quote it")))
    warned = Nil
    // no shadowing variable → stays a literal, silently
    assert(Compiler.compile("{{ config(materialisation=view) }}", ctx) == Right(""))
    assert(conf == Map("materialisation" -> "view"))
    assert(warned.isEmpty)
  }

  // ---- {% macro %} -------------------------------------------------------

  test("macro: positional, keyword and default arguments") {
    val t =
      """{% macro pick(table, alias='t', lim=10) %}SELECT {{ alias }}.* FROM {{ table }} {{ alias }} LIMIT {{ lim }}{% endmacro %}
        |{{ pick('orders') }};{{ pick('lineitem', alias='l') }};{{ pick('part', 'p', lim=3) }}""".stripMargin
    assert(Compiler.compile(t, Context()) == Right(
      "\nSELECT t.* FROM orders t LIMIT 10;" +
        "SELECT l.* FROM lineitem l LIMIT 10;" +
        "SELECT p.* FROM part p LIMIT 3"))
  }

  test("macro closes over definition scope and can use src()") {
    val t =
      """{% set sch = 'core' %}{% macro ref(t) %}{{ src(t) }}_{{ sch }}{% endmacro %}{{ ref('orders') }}"""
    assert(Compiler.compile(t, Context(src = s => s"dev_$s")) ==
      Right("dev_orders_core"))
  }

  test("macro calling an earlier macro; filters on macro results") {
    val t =
      """{% macro inner(x) %}[{{ x }}]{% endmacro %}{% macro outer(x) %}({{ inner(x) }}){% endmacro %}{{ outer('v') | upper }}"""
    assert(Compiler.compile(t, Context()) == Right("([V])"))
  }

  test("macro argument errors: missing, unknown, duplicate, reserved name") {
    val t = "{% macro m(a, b) %}{{ a }}{{ b }}{% endmacro %}"
    assert(Compiler.compile(s"$t{{ m('x') }}", Context()).isLeft) // missing b
    assert(Compiler.compile(s"$t{{ m('x', c='y') }}", Context()).isLeft) // unknown c
    assert(Compiler.compile(s"$t{{ m('x', 'y', a='z') }}", Context()).isLeft) // a twice
    assert(Compiler.compile(
      "{% macro src(a) %}{{ a }}{% endmacro %}", Context()).isLeft) // reserved
    assert(Compiler.compile("{% macro m(a) %}x", Context()).isLeft) // unclosed
    assert(Compiler.compile("{% endmacro %}", Context()).isLeft)
  }

  test("arg parser: numbers, bools, lists, mixed kwargs") {
    // the call's arguments reach config() through a macro that forwards
    // its positionals as one list and its keywords as they are
    var got = Map.empty[String, Any]
    val ctx = Context(config = got = _, allowConfig = true)
    val t = "{% macro m(p0, p1, key, flag, xs) %}" +
      "{{ config(pos=[p0, p1], key=key, flag=flag, xs=xs) }}{% endmacro %}" +
      "{{ m('a', 1, key=2.5, flag=true, xs=['p','q']) }}"
    assert(Compiler.compile(t, ctx) == Right(""))
    assert(got("pos") == Seq("a", 1L))
    assert(got - "pos" == Map("key" -> 2.5, "flag" -> true, "xs" -> Seq("p", "q")))
  }

  test("one expression grammar: every position gives the same value") {
    val prefix = "{% macro show(x) %}{{ x }}{% endmacro %}" +
      "{% macro twice(v) %}{{ v }}{{ v }}{% endmacro %}"
    def ctx(want: Any) = Context(
      params = Map("n" -> 2L, "xs" -> Seq("a", "b", "c"), "want" -> want),
      src = s => s"dev_$s")
    val table = Seq[(String, Any)](
      "src('x')" -> "dev_x",
      "twice(n + 1)" -> "33",
      "'abc' | upper" -> "ABC",
      "xs | join('-')" -> "a-b-c",
      "missing | default('d')" -> "d",
      "xs | length > 2" -> true,
      "-n | abs" -> 2L,
      "range(n) | length" -> 2L,
      "[n, 'b'] | first" -> 2L,
      "(n + 1) * 2 % 4" -> 2L,
      "n / 4" -> 0.5,
      ".5" -> 0.5,
      "'a' in xs and n > 1" -> true,
      "true" -> true, "True" -> true, "TRUE" -> true,
      "false" -> false, "False" -> false, "FALSE" -> false,
      "none" -> null, "None" -> null, "NONE" -> null, "null" -> null)
    for ((e, want) <- table) {
      val shown = if (want == null) "" else want.toString
      val positions = Seq(
        s"{{ $e }}" -> shown,
        s"{% set v = $e %}{{ v }}" -> shown,
        s"{% if ($e) == want %}Y{% else %}N{% endif %}" -> "Y",
        s"{{ show($e) }}" -> shown,
        s"{{ 'q' | replace('q', $e) }}" -> shown)
      for ((t, expected) <- positions)
        assert(Compiler.compile(prefix + t, ctx(want)) == Right(expected),
          s"position $t")
    }
  }

  test("malformed expressions are template errors, not exceptions") {
    for (e <- Seq("1.2.3", "99999999999999999999", "m(", "x is", "[1, 2",
        "'open", "x |", "src(a=)", "x = 1", "", "x ?? 1"))
      assert(Compiler.compile(s"{{ $e }}", Context(Map("x" -> 1L))).isLeft, e)
  }

  test("and/or evaluate their right operand only when Python would") {
    var srcs = List.empty[String]
    var configured = false
    val ctx = Context(params = Map("d" -> 0L),
      src = { s => srcs ::= s; s }, config = _ => configured = true,
      allowConfig = true)
    def run(t: String) = Compiler.compile(t, ctx)
    assert(run("{% if d != 0 and 10 / d > 1 %}A{% else %}B{% endif %}") == Right("B"))
    assert(run("{% if d == 0 or 10 / d > 1 %}A{% else %}B{% endif %}") == Right("A"))
    assert(run("{% if false and src('x') %}A{% endif %}" +
      "{% if true or src('y') %}B{% endif %}") == Right("B"))
    assert(run("{{ d and config(a=1) }}") == Right("0"))
    assert(srcs.isEmpty && !configured)
    // the result is the deciding operand, as in Python
    assert(run("{{ d or 'x' }}|{{ 1 and src('z') }}") == Right("x|z"))
    assert(srcs == List("z"))
  }

  // ---- include / import (cross-file composition via Context.loader) ----

  private val files = Map(
    "frag.sql" -> "WHERE dt >= '{{ start_dt }}'",
    "macros.sql" -> ("{% macro greet(n) %}hello {{ n }}{% endmacro %}" +
      "{% macro shout(n) %}{{ n | upper }}{% endmacro %}" +
      "{% set version = 3 %}"),
    "a.sql" -> "A{% include 'b.sql' %}",
    "b.sql" -> "B{% include 'a.sql' %}")
  private def loaded(params: Map[String, Any] = Map("start_dt" -> "2026-01-01")) =
    Context(params = params, loader = files.get)

  test("include renders the file in the current scope") {
    assert(Compiler.compile("SELECT * FROM t {% include 'frag.sql' %}", loaded())
      == Right("SELECT * FROM t WHERE dt >= '2026-01-01'"))
    // set before the include is visible inside it (Jinja include scope)
    val ctx = Context(loader = Map("f" -> "{{ x }}").get)
    assert(Compiler.compile("{% set x = 7 %}{% include 'f' %}", ctx) == Right("7"))
  }

  test("import merges macros and assignments; from-import selects names") {
    assert(Compiler.compile(
      "{% import 'macros.sql' %}{{ greet('w') }} v{{ version }}", loaded())
      == Right("hello w v3"))
    assert(Compiler.compile(
      "{% from 'macros.sql' import shout %}{{ shout('hi') }}", loaded())
      == Right("HI"))
    // from-import does NOT bring in unlisted names
    assert(Compiler.compile(
      "{% from 'macros.sql' import shout %}{{ greet('w') }}", loaded()).isLeft)
    // a listed name the file never defines errors loudly
    val Left(e1) = Compiler.compile(
      "{% from 'macros.sql' import nope %}", loaded())
    assert(e1.toString.contains("does not define"))
  }

  test("from-import supports `name as alias` and binds only the alias") {
    assert(Compiler.compile(
      "{% from 'macros.sql' import shout as yell %}{{ yell('hi') }}", loaded())
      == Right("HI"))
    // the source name is NOT bound, only the alias
    assert(Compiler.compile(
      "{% from 'macros.sql' import shout as yell %}{{ shout('hi') }}",
      loaded()).isLeft)
    // mixed plain + aliased items in one tag
    assert(Compiler.compile(
      "{% from 'macros.sql' import greet, version as v %}" +
        "{{ greet('w') }} v{{ v }}", loaded())
      == Right("hello w v3"))
    // a malformed item errors loudly instead of parsing as one name
    val Left(e) = Compiler.compile(
      "{% from 'macros.sql' import shout as a b %}", loaded())
    assert(e.toString.contains("malformed from-import item"))
  }

  test("import exposes a definition whose value equals a global param") {
    // `version = 3` is also a global param with the SAME value: tracking
    // by defined keys (not value diffing) must still export it
    val ctx = Context(params = Map("version" -> 3L), loader = files.get)
    assert(Compiler.compile(
      "{% from 'macros.sql' import version %}v{{ version }}", ctx)
      == Right("v3"))
  }

  test("namespaced import: dotted macro calls, vars, and shadowing") {
    // macros and top-level assignments reach through the namespace
    assert(Compiler.compile(
      "{% import 'macros.sql' as m %}{{ m.greet('w') }} v{{ m.version }}",
      loaded()) == Right("hello w v3"))
    // filters compose on the dotted call like any head
    assert(Compiler.compile(
      "{% import 'macros.sql' as m %}{{ m.shout('hi') }}", loaded())
      == Right("HI"))
    // the namespace is ONE binding: unqualified names stay undefined
    assert(Compiler.compile(
      "{% import 'macros.sql' as m %}{{ greet('w') }}", loaded()).isLeft)
    assert(Compiler.compile(
      "{% import 'macros.sql' as m %}{{ version }}", loaded()).isLeft)
    // an undefined member errors like any undefined path
    assert(Compiler.compile(
      "{% import 'macros.sql' as m %}{{ m.nope }}", loaded()).isLeft)
    // {% set %} shadows the module name afterwards (Jinja scoping)
    assert(Compiler.compile(
      "{% import 'macros.sql' as m %}{% set m = 9 %}{{ m }}", loaded())
      == Right("9"))
    // two namespaces of the same file coexist; flat import still works
    assert(Compiler.compile(
      "{% import 'macros.sql' as a %}{% import 'macros.sql' as b %}" +
        "{% import 'macros.sql' %}{{ a.version }}{{ b.version }}{{ version }}",
      loaded()) == Right("333"))
    // `is defined` consults the namespace map
    assert(Compiler.compile(
      "{% import 'macros.sql' as m %}" +
        "{% if m.version is defined %}Y{% endif %}" +
        "{% if m.nope is defined %}N{% endif %}", loaded()) == Right("Y"))
    // a malformed alias is a loud parse error
    val Left(e0) = Compiler.compile("{% import 'macros.sql' as 2x %}", loaded())
    assert(e0.toString.contains("malformed import"))
  }

  test("missing files and include cycles error") {
    val Left(e2) = Compiler.compile("{% include 'gone.sql' %}", loaded())
    assert(e2.toString.contains("not found"))
    val Left(e3) = Compiler.compile("{% include 'a.sql' %}", loaded())
    assert(e3.toString.contains("nesting exceeds"))
  }

  test("range() global: for-loops, membership, arithmetic interpolation") {
    // the Jinja loop-count idiom
    assert(Compiler.compile(
      "{% for i in range(3) %}{{ i }}{% endfor %}", Context())
      == Right("012"))
    assert(Compiler.compile(
      "{% for i in range(2, 8, 3) %}{{ i }},{% endfor %}", Context())
      == Right("2,5,"))
    // membership + empty range
    assert(Compiler.compile(
      "{% if 2 in range(3) %}y{% endif %}{% if 5 in range(3) %}n{% endif %}",
      Context()) == Right("y"))
    assert(Compiler.compile(
      "{% for i in range(0) %}x{% endfor %}-", Context()) == Right("-"))
    // step 0 errors loudly
    assert(Compiler.compile("{% for i in range(1, 5, 0) %}{% endfor %}",
      Context()).isLeft)
    // a bound past Int.MaxValue elements is the same loud ParseError,
    // not a NumericRange.length IllegalArgumentException escaping
    // compile()'s Result contract
    assert(Compiler.compile("{{ range(3000000000) }}", Context()).isLeft)
    assert(Compiler.compile(
      "{{ range(0, 9223372036854775807, 2) }}", Context()).isLeft)
    // negative-step count uses the same Long math
    assert(Compiler.compile(
      "{% for i in range(10, 0, -4) %}{{ i }},{% endfor %}", Context())
      == Right("10,6,2,"))
    // arithmetic heads render directly (not just inside conditions)
    val ctx = Context(params = Map("n" -> 4L))
    assert(Compiler.compile("{{ n * 2 + 1 }}", ctx) == Right("9"))
    assert(Compiler.compile("{{ (n + 2) % 3 }}", ctx) == Right("0"))
    // undefined bare paths still error (the |default contract)
    assert(Compiler.compile("{{ missing }}", Context()).isLeft)
  }

  test("raw blocks pass template syntax through verbatim") {
    val ctx = Context(params = Map("x" -> 1L))
    assert(Compiler.compile(
      "a {% raw %}{{ x }} and {% if %} junk{% endraw %} b {{ x }}", ctx)
      == Right("a {{ x }} and {% if %} junk b 1"))
    // a comment INSIDE raw is literal output, not dropped
    assert(Compiler.compile("{% raw %}{# kept #}{% endraw %}", ctx)
      == Right("{# kept #}"))
    // a raw opener INSIDE a comment is dropped with the comment
    assert(Compiler.compile("x{# {% raw %} #}y", ctx) == Right("xy"))
    // multiple raw blocks, multiline content
    assert(Compiler.compile(
      "{% raw %}{{a}}{% endraw %}-{% raw %}\n{%for%}\n{% endraw %}", ctx)
      == Right("{{a}}-\n{%for%}\n"))
    // whitespace-control dashes on the raw delimiters parse too
    assert(Compiler.compile("{%- raw -%}{{ x }}{%- endraw -%}", ctx)
      == Right("{{ x }}"))
    // unterminated raw is a parse error, not silent passthrough
    assert(Compiler.compile("{% raw %}{{ x }}", ctx).isLeft)
    // a literal NUL-framed number already in the template must not be
    // mistaken for a stash sentinel: out-of-range indexes stay verbatim
    assert(Compiler.compile("a\u000042\u0000b {% raw %}r{% endraw %}", ctx)
      == Right("a\u000042\u0000b r"))
    // nor crash when the digits overflow Int
    assert(Compiler.compile(
      "a\u000099999999999999\u0000 {% raw %}r{% endraw %}", ctx)
      == Right("a\u000099999999999999\u0000 r"))
  }
}
