package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dolma-style attribute tagging + rule mixing — the two-phase curation
  * architecture the Dolma/AI2 toolkit made standard: TAGGERS annotate
  * every document with typed attributes (they never drop anything;
  * attributes are the reusable artifact), then a declarative MIXER
  * applies ordered keep/drop rules over the attributes and records
  * WHICH rule fired — so a curation decision is auditable ("why was
  * this document dropped?") and re-mixable (new rules, no re-tagging).
  *
  * Spark shape: attributes live in one STRUCT column (the analog of
  * Dolma's attribute files riding next to the corpus), computed by pure
  * in-row expressions — tokenization, per-token mode count, stopword
  * membership, PII regex — so tagging is class 1 (zero exchanges, scan
  * bandwidth; docs/SCALING.md). The mixer is a when-chain over struct
  * fields: also in-row, also zero exchanges. Re-mixing a tagged corpus
  * touches only the struct column — the text never re-tokenizes.
  *
  * Determinism: frequency attributes are trunc fixed-point at scale
  * 10^4 (non-negative integer division — floor = trunc in both
  * engines); the per-token mode count is an exact integer; a
  * zero-token document tags null fracs and should be dropped by an
  * explicit first rule rather than erroring.
  */
object Attributes {

  /** One mixer rule: drop when `dropWhen` (a predicate over the
    * `attrs` struct fields) holds. First matching rule wins.
    */
  final case class MixRule(name: String, dropWhen: Column)

  private val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Tag every document with the standard attribute struct `attrs`:
    *   - n_tokens, n_chars;
    *   - stop_frac4  = trunc(10^4 · stopword tokens / n_tokens);
    *   - max_share4  = trunc(10^4 · mode-token count / n_tokens) — the
    *     single-token repetition signal (Gopher's repetition family);
    *   - mean_len4   = trunc(10^4 · Σ token length / n_tokens);
    *   - n_pii       = email-pattern match count (scrubPii's pattern).
    * Frequency fields are null when n_tokens = 0 (tag, don't throw).
    * Cost: the mode count is O(n·distinct) in-row compares; everything
    * else is one pass over the token array.
    */
  def tagDocs(
      df: DataFrame, idCol: String, textCol: String,
      stopwords: Seq[String] = Seq("the", "a")): DataFrame = {
    val stops = typedLit(stopwords)
    val toks = TextStats.wordArray(col(textCol))
    val n = size(toks).cast("long")
    def frac4(num: Column): Column =
      when(n > 0L, floor(lit(10000L) * num / n).cast("long"))
    val stopCnt = size(filter(toks, t => array_contains(stops, t))).cast("long")
    val maxCnt = coalesce(
      array_max(transform(array_distinct(toks), t =>
        size(filter(toks, u => u === t)))).cast("long"), lit(0L))
    val sumLen = aggregate(toks, lit(0L), (acc, t) => acc + length(t))
    df.withColumn("attrs", struct(
      n.as("n_tokens"),
      length(col(textCol)).cast("long").as("n_chars"),
      frac4(stopCnt).as("stop_frac4"),
      frac4(maxCnt).as("max_share4"),
      frac4(sumLen).as("mean_len4"),
      regexp_count(col(textCol), lit(emailRe)).cast("long").as("n_pii")))
  }

  /** Apply ordered mixer rules to a tagged frame: `drop_reason` is the
    * FIRST rule whose predicate holds (null = kept), `is_kept` its
    * complement. Pure in-row when-chain; rule predicates reference
    * `attrs.<field>`.
    */
  def mix(tagged: DataFrame, rules: Seq[MixRule]): DataFrame = {
    require(rules.nonEmpty, "mix: need at least one rule")
    val reason = coalesce(
      rules.map(r => when(r.dropWhen, lit(r.name))) :+
        lit(null).cast("string"): _*)
    tagged
      .withColumn("drop_reason", reason)
      .withColumn("is_kept", col("drop_reason").isNull.cast("long"))
  }
}
