package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text normalization / PII scrubbing for training-data curation: the
  * redaction pass every public-web corpus runs before training (emails,
  * IPv4 addresses, long digit runs → typed placeholder tokens), with
  * per-document match counts for filtering and audit.
  *
  * Pure in-row regexp projections — zero shuffles at any scale. Patterns
  * stick to the regex subset with identical semantics in Java's engine
  * and RE2 (no backrefs, no lookaround), so results are portable across
  * engines — the property the oracle checks.
  *
  * Matches are counted stage-by-stage on the text AS EACH STAGE SEES IT
  * (emails scrubbed before IPs before digit runs): a digit run inside an
  * email must count as part of the email it belongs to, not again as a
  * number.
  */
object TextClean {

  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val digitRunRe = "[0-9]{7,}"

  private def nMatches(c: Column, re: String): Column =
    size(regexp_extract_all(c, lit(re), lit(0))).cast("long")

  /** Canonical text form for DEDUP KEYS: Unicode NFC (composes the
    * byte-distinct decomposed/precomposed renderings of the same
    * glyphs — [[graft.functions.NfcNormalize]]), casefold to lower,
    * collapse whitespace runs, trim. Two crawls of one page that
    * differ only in encoder normalization, case, or spacing hash to
    * the SAME key afterwards — the canonicalization pass that makes
    * [[TextDedup.exactDedup]] catch what byte-equality misses. A pure
    * in-row projection (zero shuffles); NOT a replacement for the
    * stored text — canonicalize the KEY, keep the original bytes.
    */
  def canonicalForDedup(textCol: Column): Column =
    trim(regexp_replace(
      lower(graft.functions.NfcNormalize.nfcNormalize(textCol)),
      "\\s+", " "))

  /** URL → host: the text between `scheme://` and the first `/` (or
    * end). Regex-only (no java.net.URI — its parse failures would be a
    * row-level exception, and the pattern must stay RE2-portable).
    */
  def urlHost(u: Column): Column =
    regexp_extract(u, "^[a-z][a-z0-9+.-]*://([^/?#]+)", 1)

  /** Host → naive registrable domain: strip a leading `www.`, keep the
    * last two labels. (A real public-suffix-list lookup is a broadcast
    * join against the PSL table; the two-label heuristic is the
    * documented approximation — it calls `bbc.co.uk` registrable at
    * `co.uk`.)
    */
  def registrableDomain(h: Column): Column = {
    val stripped = regexp_replace(h, "^www\\.", "")
    when(stripped.rlike("[^.]+\\.[^.]+$"),
      regexp_extract(stripped, "([^.]+\\.[^.]+)$", 1))
      .otherwise(stripped)
  }

  /** Absolute-URL canonicalization — the dedup key for a crawl frontier
    * / URL-level dedup pass: lowercase the scheme and host (they are
    * case-insensitive; the path is NOT touched), drop the fragment,
    * strip the ubiquitous tracking parameters (`utm_*`, `gclid`,
    * `fbclid`) wherever they sit in the query string, drop the scheme's
    * default port (`:80` http / `:443` https — others kept), and
    * normalize an empty path to `/`. Regex-only (no java.net.URI — its
    * parse failures throw row-level, and every pattern here is
    * RE2-portable: no lookaround, no backrefs in replacements).
    * Assumes absolute `scheme://...` URLs; anything else passes
    * through with an empty scheme/host and is the caller's filter.
    *
    * Pure in-row projection — canonicalizing 100 TB of URLs is a scan.
    */
  def canonicalUrl(u: Column): Column = {
    val scheme = lower(regexp_extract(u, "^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    val hostport = lower(
      regexp_extract(u, "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)", 1))
    val rest0 = regexp_replace(u, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+", "")
    val rest1 = regexp_replace(rest0, "#.*$", "")
    // tracking params: non-leading ones drop with their '&'; a leading
    // one hands '?' to the first survivor, or vanishes with the query
    val rest2 = regexp_replace(rest1,
      "&(utm_[a-zA-Z0-9]+|gclid|fbclid)=[^&]*", "")
    val rest3 = regexp_replace(rest2,
      "\\?(utm_[a-zA-Z0-9]+|gclid|fbclid)=[^&]*&", "?")
    val rest4 = regexp_replace(rest3,
      "\\?(utm_[a-zA-Z0-9]+|gclid|fbclid)=[^&]*$", "")
    val host = when(scheme === "http", regexp_replace(hostport, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostport, ":443$", ""))
      .otherwise(hostport)
    val path = when(rest4 === "", lit("/")).otherwise(rest4)
    concat(scheme, lit("://"), host, path)
  }

  // markup-stripping patterns: the regex subset with identical Java/RE2
  // semantics (inline (?s) dotall, lazy repeat, no lookaround)
  val scriptBlockRe = "(?s)<(script|style)[^>]*>.*?</(script|style)>"
  val tagRe = "<[^>]+>"

  /** HTML/boilerplate strip — the first pass of web-corpus curation:
    * drop <script>/<style> blocks wholesale, replace every remaining
    * tag with a space (so `a<br>b` stays two tokens), decode the six
    * ubiquitous character entities, collapse whitespace, trim. Returns
    * the input plus `n_blocks` (script/style blocks dropped), `n_tags`
    * (tags stripped after block removal) and `stripped_text`.
    *
    * Entity order matters and is part of the contract: `&amp;` decodes
    * LAST, so `&amp;lt;` yields the literal text `&lt;` rather than
    * double-decoding to `<` — the standard single-pass rule. Pure
    * in-row regexp/replace projections: zero shuffles at any scale.
    * This is a TEXT-HEURISTIC pass (no DOM); CDATA and conditional
    * comments are out of scope.
    */
  def stripMarkup(df: DataFrame, textCol: String): DataFrame = {
    val t0 = col(textCol)
    val t1 = regexp_replace(t0, scriptBlockRe, " ")
    val t2 = regexp_replace(t1, tagRe, " ")
    val entities = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
    val t3 = entities.foldLeft(t2) { case (c, (from, to)) =>
      replace(c, lit(from), lit(to)) // literal, same as SQL replace()
    }
    val t4 = trim(regexp_replace(t3, "\\s+", " "))
    df.withColumn("n_blocks", nMatches(t0, scriptBlockRe))
      .withColumn("n_tags", nMatches(t1, tagRe))
      .withColumn("stripped_text", t4)
  }

  /** The classic web-corpus mojibake class: UTF-8 bytes mis-decoded as
    * Windows-1252 ("café" shipped as "cafÃ©", "don’t" as "donâ€™t").
    * Each (corrupt, fixed) pair is DERIVED at class load from the real
    * encoding round trip — `new String(fixed.getBytes(UTF-8), cp1252)`
    * — never hand-typed, so the table is the true corruption by
    * construction (a spec re-derives it independently). Covers the
    * Latin-1 accented letters plus the cp1252 punctuation block (curly
    * quotes, dashes, ellipsis, bullet, €, ™) — the sequences that
    * dominate real crawl mojibake (ftfy's core table). Sorted
    * longest-corrupt-first so 3-byte repairs can never be shadowed by a
    * 2-byte prefix repair.
    */
  val mojibakeTable: Seq[(String, String)] = {
    val chars = "éèêëáàâäãöôòíìîïúùûüñçßÿœ’‘“”–—…•€™°£©®«»"
    chars.map { ch =>
      val fixed = ch.toString
      val corrupt = new String(
        fixed.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        java.nio.charset.Charset.forName("windows-1252"))
      corrupt -> fixed
    }.sortBy { case (c, _) => (-c.length, c) }
  }

  /** Alternation regex matching any table entry (keys contain no regex
    * metacharacters; longest-first order makes matching unambiguous).
    */
  val mojibakeRe: String = mojibakeTable.map(_._1).mkString("|")

  /** Mojibake detection + repair (ftfy-lite): adds `n_mojibake` (count
    * of corrupt sequences found, the curation-filter signal) and
    * `fixed_text` (the repair — every table sequence replaced by the
    * character it originally encoded). Pure in-row literal replaces +
    * one regexp count: zero shuffles at any scale, and the identical
    * replace chain runs in any engine with `replace()` — the property
    * the q244 oracle checks. Clean ASCII text passes through untouched
    * with n_mojibake = 0.
    *
    * Scope (documented, ftfy parity is NOT claimed): single-pass repair
    * of the UTF-8-as-cp1252 class only — no double-encoded recursion,
    * no Latin-2/KOI8 classes, no charset inference. At 100 TB those
    * are the same in-row projection with a bigger table.
    */
  def fixMojibake(df: DataFrame, textCol: String): DataFrame = {
    val t0 = col(textCol)
    val fixed = mojibakeTable.foldLeft(t0) { case (c, (from, to)) =>
      replace(c, lit(from), lit(to))
    }
    df.withColumn("n_mojibake", nMatches(t0, mojibakeRe))
      .withColumn("fixed_text", fixed)
  }

  /** Adds `scrubbed_text`, `n_emails`, `n_ips`, `n_digit_runs` to the
    * input. Replacement tokens are single words, so token-level
    * statistics stay meaningful on the scrubbed column.
    */
  def scrubPii(df: DataFrame, textCol: String): DataFrame = {
    val t0 = col(textCol)
    val t1 = regexp_replace(t0, emailRe, "<EMAIL>")
    val t2 = regexp_replace(t1, ipv4Re, "<IP>")
    val t3 = regexp_replace(t2, digitRunRe, "<NUM>")
    df.withColumn("n_emails", nMatches(t0, emailRe))
      .withColumn("n_ips", nMatches(t1, ipv4Re))
      .withColumn("n_digit_runs", nMatches(t2, digitRunRe))
      .withColumn("scrubbed_text", t3)
  }

  /** jusText-lite CONTENT-LINE extraction — the per-line pass a web
    * extractor runs between tag stripping and document filtering:
    * navigation chrome / legal footers / button labels are short or
    * stopword-free, prose isn't. A line is kept iff it has at least
    * `minChars` characters AND its stopword density clears
    * `stopNum/stopDen` — the density test is EXACT integers
    * (stopDen · n_stop ≥ stopNum · n_tokens), so no float boundary
    * decides a line. Output adds `n_lines`, `n_kept`, and
    * `content_text` (the kept lines re-joined with newlines, original
    * order — extraction never reorders).
    *
    * Everything is in-row higher-order array functions over the
    * line split: a pure projection at the scan, zero shuffles at any
    * corpus size. Stopword sets are small by nature (the classic
    * jusText lists are a few hundred words) and enter as an array
    * literal inside codegen.
    */
  def extractContentLines(
      df: DataFrame,
      textCol: String,
      stopwords: Seq[String],
      minChars: Int = 20,
      stopNum: Int = 1,
      stopDen: Int = 20): DataFrame = {
    require(stopwords.nonEmpty, "stopwords must be non-empty")
    require(minChars >= 0 && stopNum >= 0 && stopDen > 0,
      s"bad thresholds: minChars=$minChars stop=$stopNum/$stopDen")
    val stops = typedLit(stopwords)
    val lines = split(col(textCol), "\n")
    def keep(line: Column): Column = {
      val toks = TextStats.wordArray(line)
      val nStop = size(filter(toks, t => array_contains(stops, t)))
      (length(line) >= minChars) &&
        (nStop.cast("long") * stopDen >= size(toks).cast("long") * stopNum)
    }
    // bind the filtered array ONCE (ADVICE r10): the keep() filter runs a
    // per-token stopword scan over every line, and deriving n_kept and
    // content_text from one bound column doesn't rely on codegen
    // subexpression elimination (TextStats' bound-array condition)
    df.withColumn("n_lines", size(lines).cast("long"))
      .withColumn("_kept", filter(lines, keep _))
      .withColumn("n_kept", size(col("_kept")).cast("long"))
      .withColumn("content_text", array_join(col("_kept"), "\n"))
      .drop("_kept")
  }

  /** DOMAIN POLICY GATE — the per-site curation rules a crawl pipeline
    * applies before any content look: drop blocklisted registrable
    * domains (spam mills, link farms, opted-out sites) and cap each
    * surviving domain at `maxPerDomain` documents in crawl order
    * (id-ascending), so no single site dominates the mix. The domain
    * comes from the full canonicalization chain
    * ([[canonicalUrl]] → [[urlHost]] → [[registrableDomain]]).
    *
    * Output adds `domain`, `is_blocked`, `domain_rank` (1-based
    * id-order position within the domain) and `is_kept`; the caller
    * filters on `is_kept` — emitting the judgments makes the gate
    * auditable (q172's attrition-report discipline).
    *
    * Scale shape: the blocklist is an in-codegen array literal (policy
    * lists are thousands of entries — swap for a broadcast anti-join
    * past ~10⁵); the cap is ONE id-ordered window per domain key — the
    * gate's only exchange, and the same partitioning a following
    * per-domain aggregate would reuse.
    */
  def domainPolicyGate(
      df: DataFrame,
      idCol: String,
      urlCol: String,
      blocked: Seq[String],
      maxPerDomain: Int): DataFrame = {
    require(maxPerDomain >= 1, s"maxPerDomain must be >= 1, got $maxPerDomain")
    import org.apache.spark.sql.expressions.Window
    val dom = registrableDomain(urlHost(canonicalUrl(col(urlCol))))
    val w = Window.partitionBy(col("domain")).orderBy(col(idCol).asc)
    df.withColumn("domain", dom)
      .withColumn("is_blocked",
        (if (blocked.isEmpty) lit(false)
         else array_contains(typedLit(blocked), col("domain"))).cast("int"))
      .withColumn("domain_rank", row_number().over(w).cast("long"))
      .withColumn("is_kept",
        (col("is_blocked") === 0 && col("domain_rank") <= maxPerDomain)
          .cast("int"))
  }

  /** Candidate shape for a payment-card number: 13–19 digits allowing
    * single space/dash separators. Lookaround-free on purpose (RE2 has
    * none) — over-long digit runs are cut by the post-strip LENGTH
    * check instead of a boundary assertion, identically on both
    * engines.
    */
  val cardCandidateRe = "[0-9][0-9 -]{11,21}[0-9]"

  /** Payment-card PII audit — the two-stage detector that separates
    * "looks like a card number" from "IS one": regexp candidates
    * (shape: [[cardCandidateRe]], separator-stripped, 13–19 digits)
    * verified in-row by the Luhn mod-10 checksum
    * ([[graft.functions.LuhnCheck]], codegen'd). Random digit runs pass
    * Luhn 10% of the time, so the verified count is the one a scrub
    * decision can act on — counting raw shape hits (the q57 digit-run
    * approach) over-redacts phone numbers and ids by ~10×.
    *
    * Pure in-row projection chain (regex → strip → length gate → Luhn),
    * zero shuffles at any corpus scale, whole-stage-codegen end to end.
    * Output per document: (idCol, n_candidates, n_luhn_valid,
    * has_card).
    */
  def creditCardAudit(
      df: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val raw = regexp_extract_all(col(textCol), lit(cardCandidateRe), lit(0))
    val digits = transform(raw, c => regexp_replace(c, "[^0-9]", ""))
    val shaped = filter(digits,
      d => length(d) >= 13 && length(d) <= 19)
    df.select(col(idCol), shaped.as("_cands"))
      .select(col(idCol),
        size(col("_cands")).cast("long").as("n_candidates"),
        size(filter(col("_cands"),
          d => graft.functions.LuhnCheck.luhnCheck(d)))
          .cast("long").as("n_luhn_valid"))
      .withColumn("has_card", (col("n_luhn_valid") > 0L).cast("int"))
  }
}
