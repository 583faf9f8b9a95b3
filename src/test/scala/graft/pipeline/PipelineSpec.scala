package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Unit + recall tests for the LLM-data-pipeline operators. The sf0.001
  * fixtures provide realistic planted near-duplicates; crafted frames
  * cover the exact semantics the fixtures can't (true duplicates, known
  * sessions, known languages).
  */
class PipelineSpec extends SparkSpec {

  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$dir/documents.parquet")
  private lazy val embs = spark.read.parquet(s"$dir/embeddings.parquet")

  // ---- exact dedup -------------------------------------------------------

  test("exactDedup groups identical content, keeps min id") {
    val df = Seq(
      (1L, "alpha beta"), (2L, "alpha beta"), (3L, "gamma"), (4L, "alpha beta"))
      .toDF("doc_id", "text")
    val out = TextDedup.exactDedup(df, "doc_id", "text")
      .select("keep_id", "n_copies")
    assert(rows(out) == Set(Seq(1L, 3L), Seq(3L, 1L)))
  }

  // ---- pii scrub ---------------------------------------------------------

  test("scrubPii replaces all occurrences and counts stage-ordered") {
    val df = Seq(
      (1L, "mail a12345678@x.co and b@y.org ip 10.0.0.1 num 123456789"),
      (2L, "clean text"),
      (3L, "1.2.3.4 and 11.22.33.44"))
      .toDF("doc_id", "text")
    val out = TextClean.scrubPii(df, "text")
      .select("doc_id", "n_emails", "n_ips", "n_digit_runs", "scrubbed_text")
    // doc 1: the 8-digit run inside the email is scrubbed AS the email,
    // so only the trailing 9-digit run counts as a number
    assert(rows(out) == Set(
      Seq(1L, 2L, 1L, 1L, "mail <EMAIL> and <EMAIL> ip <IP> num <NUM>"),
      Seq(2L, 0L, 0L, 0L, "clean text"),
      Seq(3L, 0L, 2L, 0L, "<IP> and <IP>")))
  }

  // ---- markup strip ------------------------------------------------------

  test("stripMarkup drops blocks, strips tags, decodes entities once") {
    val df = Seq(
      (1L, "<p>a &amp; b</p><script>if (1 < 2) x();</script><b>c</b>"),
      (2L, "plain"),
      (3L, "x &amp;lt; y &nbsp;&quot;q&quot; &#39;s&#39; <br/>z"))
      .toDF("doc_id", "text")
    val out = TextClean.stripMarkup(df, "text")
      .select("doc_id", "n_blocks", "n_tags", "stripped_text")
    assert(rows(out) == Set(
      Seq(1L, 1L, 4L, "a & b c"),
      Seq(2L, 0L, 0L, "plain"),
      // &amp;lt; decodes to the literal text "&lt;" — not twice to "<"
      Seq(3L, 0L, 1L, "x &lt; y \"q\" 's' z")))
  }

  test("stripMarkup: style blocks with inner newlines die under (?s)") {
    val df = Seq((1L, "a<style>\n.b {\n color: red;\n}\n</style>b"))
      .toDF("doc_id", "text")
    val out = TextClean.stripMarkup(df, "text")
      .select("doc_id", "n_blocks", "n_tags", "stripped_text")
    assert(rows(out) == Set(Seq(1L, 1L, 0L, "a b")))
  }

  // ---- script mix --------------------------------------------------------

  test("scriptMix counts scripts per codepoint and labels the dominant") {
    val df = Seq(
      (1L, "abc привет 12"), // 3 latin, 6 cyrillic, 2 digit, 13 chars
      (2L, "αβγδ ab"), // greek dominant
      (3L, "你好"), // han
      (4L, "--- ???")) // nothing: all counts 0, latin wins the tie chain
      .toDF("doc_id", "text")
    val out = TextStats.scriptMix(df, "doc_id", "text")
      .select("doc_id", "n_chars", "n_latin", "n_cyrillic", "n_greek",
        "n_han", "n_digit", "dominant_script")
    assert(rows(out) == Set(
      Seq(1L, 13L, 3L, 6L, 0L, 0L, 2L, "cyrillic"),
      Seq(2L, 7L, 2L, 0L, 4L, 0L, 0L, "greek"),
      Seq(3L, 2L, 0L, 0L, 0L, 2L, 0L, "han"),
      Seq(4L, 7L, 0L, 0L, 0L, 0L, 0L, "latin")))
  }

  test("scriptMixFast (codegen single-pass) equals the regex scriptMix") {
    val df = Seq(
      (1L, "abc привет 12"), (2L, "αβγδ ab"), (3L, "你好"),
      (4L, "--- ???"), (5L, "mixed мир 你 γ 9"),
      (6L, "emoji 😀 ok")) // supplementary plane counts once
      .toDF("doc_id", "text")
    val slow = rows(TextStats.scriptMix(df, "doc_id", "text"))
    val fast = rows(TextStats.scriptMixFast(df, "doc_id", "text"))
    assert(fast == slow)
  }

  test("accentStrip folds combining accents, passes base-cp diacritics") {
    import graft.functions.AccentStrip
    val df = Seq(
      "café", // precomposed é → cafe
      "éclair", // decomposed → eclair
      "Ångström", // Å ö → Angstrom
      "łødđ", // ł ø đ: no canonical decomposition → unchanged
      "ascii stays").toDF("t")
    val out = df.select(AccentStrip.accentStrip(col("t"))).as[String]
      .collect().toSet
    assert(out == Set("cafe", "eclair", "Angstrom",
      "łødđ", "ascii stays"))
  }

  test("accentStrip output is NFC: mark-free decomposables round-trip") {
    import java.text.Normalizer
    import graft.functions.AccentStrip
    // precomposed Hangul decomposes canonically but carries no accent —
    // the NFC recompose must hand it back byte-identical, and every
    // output (accented or not) must be NFC for downstream key joins
    val hangul = "한국어"
    val jamo = Normalizer.normalize(hangul, Normalizer.Form.NFD)
    assert(jamo != hangul) // the trap: NFD really decomposes it
    val df = Seq(hangul, jamo, "café", "résumé NFD: " + Normalizer
      .normalize("résumé", Normalizer.Form.NFD)).toDF("t")
    val out = df.select(AccentStrip.accentStrip(col("t"))).as[String].collect()
    assert(out.forall(Normalizer.isNormalized(_, Normalizer.Form.NFC)))
    assert(out.count(_ == hangul) == 2) // both forms land precomposed
    assert(out.toSet == Set(hangul, "cafe", "resume NFD: resume"))
  }

  test("accent_strip registers as a SQL function") {
    graft.functions.GraftExtensions.install(spark)
    assert(spark.sql("SELECT accent_strip('résumé')")
      .head().getString(0) == "resume")
  }

  test("script_counts registers as a SQL function") {
    graft.functions.GraftExtensions.install(spark)
    val r = spark.sql(
      "SELECT script_counts('ab мир 42') AS c").head().getSeq[Long](0)
    // 9 codepoints: 2 latin, 3 cyrillic, 2 digits
    assert(r == Seq(9L, 2L, 3L, 0L, 0L, 2L))
  }

  test("scriptMix shares divide count by total length") {
    val df = Seq((1L, "ab ёж")).toDF("doc_id", "text") // 2+2 of 5
    val r = TextStats.scriptMix(df, "doc_id", "text")
      .select("latin_share", "cyrillic_share").as[(Double, Double)]
      .collect().head
    assert(r == ((0.4, 0.4)))
  }

  // ---- PMI collocations --------------------------------------------------

  test("pmiCollocations ranks exclusive pairs above promiscuous ones") {
    // "x y" always co-occur exclusively; "a b" also appear apart
    val docs = (1 to 10).map(i => (i.toLong, "x y a b a c b c"))
    val out = TextStats.pmiCollocations(docs.toDF("doc_id", "text"),
      "doc_id", "text", minCount = 5L, topK = 3)
      .select("tok_a", "tok_b", "n_pair").as[(String, String, Long)]
      .collect()
    assert(out.head == (("x", "y", 10L))) // the exclusive pair wins
    assert(out.length == 3)
  }

  test("pmiCollocations minCount gates rare pairs out") {
    val docs = Seq((1L, "p q"), (2L, "p q"), (3L, "r s"))
    val out = TextStats.pmiCollocations(docs.toDF("doc_id", "text"),
      "doc_id", "text", minCount = 2L, topK = 10)
      .select("tok_a", "tok_b").as[(String, String)].collect().toSet
    assert(out == Set(("p", "q"))) // (r,s) count 1 < 2
  }

  // ---- count-min sketch --------------------------------------------------

  test("countMin never underestimates and stays within the CM bound") {
    import graft.functions.CountMin
    val toks = (1 to 400).map(i => s"t${i % 37}") ++ Seq.fill(90)("hot")
    val df = toks.toDF("tok")
    val exact = toks.groupBy(identity).map { case (t, v) => t -> v.size }
    val est = CountMin.estimates(df, "tok", depth = 4, width = 256)
      .as[(String, Long)].collect().toMap
    val n = toks.size
    exact.foreach { case (t, c) =>
      assert(est(t) >= c, s"$t underestimated")
      assert(est(t) <= c + 2L * n / 256 + 1, s"$t over the bound")
    }
    assert(est("hot") == 90L || est("hot") <= 90L + 2L * n / 256)
  }

  test("countMin estimates are partitioning-invariant (exact sums)") {
    import graft.functions.CountMin
    val toks = (1 to 500).map(i => s"w${i % 23}")
    val a = CountMin.estimates(toks.toDF("tok").repartition(1), "tok")
      .as[(String, Long)].collect().toMap
    val b = CountMin.estimates(toks.toDF("tok").repartition(13), "tok")
      .as[(String, Long)].collect().toMap
    assert(a == b)
  }

  test("countMin portable twin: same guarantees on the md5 hash family") {
    import graft.functions.CountMin
    val toks = (1 to 400).map(i => s"t${i % 37}") ++ Seq.fill(90)("hot")
    val exact = toks.groupBy(identity).map { case (t, v) => t -> v.size }
    val n = toks.size
    // narrow width forces real collisions — the CM bound must still hold
    val est = CountMin.estimates(
        toks.toDF("tok"), "tok", depth = 4, width = 16, portable = true)
      .as[(String, Long)].collect().toMap
    exact.foreach { case (t, c) =>
      assert(est(t) >= c, s"$t underestimated")
      assert(est(t) <= c + 2L * n / 16 + 1, s"$t over the bound")
    }
    // partitioning-invariant like the murmur form (exact integer sums)
    val b = CountMin.estimates(
        toks.toDF("tok").repartition(13), "tok",
        depth = 4, width = 16, portable = true)
      .as[(String, Long)].collect().toMap
    assert(est == b)
  }

  // ---- cross-corpus near-dups --------------------------------------------

  test("jaccardPairsAcross pairs only shared-shingle docs over threshold") {
    val seen = Seq(
      (1L, "a b c d e f"), // 4 3-shingles
      (2L, "p q r s t u")) // unrelated
      .toDF("doc_id", "text")
    val crawl = Seq(
      (10L, "zzz a b c d e f"), // prefix perturbation of 1: 5 shingles
      (11L, "x y z w v u")) // shares no shingle with anything
      .toDF("doc_id", "text")
    val out = TextDedup.jaccardPairsAcross(
      TextDedup.shingles(crawl, "doc_id", "text", n = 3),
      TextDedup.shingles(seen, "doc_id", "text", n = 3),
      "doc_id", threshold = 0.5)
      .as[(Long, Long, Long, Double)].collect()
    assert(out.length == 1)
    val (nid, sid, common, jac) = out.head
    // common = 4 original shingles; union = 5 + 4 - 4 = 5
    assert(nid == 10L && sid == 1L && common == 4L && jac == 0.8)
  }

  test("jaccardPairsAcross never pairs the seen corpus with itself") {
    val seen = Seq((1L, "a b c d"), (2L, "a b c d")).toDF("doc_id", "text")
    val crawl = Seq((10L, "e f g h")).toDF("doc_id", "text")
    val out = TextDedup.jaccardPairsAcross(
      TextDedup.shingles(crawl, "doc_id", "text", n = 3),
      TextDedup.shingles(seen, "doc_id", "text", n = 3),
      "doc_id", threshold = 0.1)
    assert(out.count() == 0) // seen 1≈2 is NOT this operator's job
  }

  // ---- cross-corpus novelty ----------------------------------------------

  test("novelAgainst flags canonical re-crawls 0 and new docs 1") {
    val seen = Seq((1L, "alpha beta gamma"), (2L, "delta eps"))
      .toDF("doc_id", "text")
    val crawl = Seq(
      (10L, "ALPHA  BETA gamma "), // re-crawl of 1: case + spacing drift
      (11L, "delta eps"), // byte-equal re-crawl of 2
      (12L, "zeta theta")) // genuinely new
      .toDF("doc_id", "text")
    val out = TextDedup.novelAgainst(crawl, seen, "doc_id", "text")
      .as[(Long, Int)].collect().toMap
    assert(out == Map(10L -> 0, 11L -> 0, 12L -> 1))
  }

  // ---- hashed bag-of-words -----------------------------------------------

  test("hashedBow matches a hand-computed md5-prefix dim assignment") {
    import graft.pipeline.Retrieval
    def dimOf(tok: String, dims: Int): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(tok.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16) % dims
    }
    val df = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val out = Retrieval.hashedBow(df, "doc_id", "text", dims = 8)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    val (da, db, dc) = (dimOf("a", 8), dimOf("b", 8), dimOf("c", 8))
    // doc1: a×2 in dim(a), b×1 in dim(b); doc2: b, c
    val exp = Seq(
      (1L, da) -> ((2L, 1L)), (1L, db) -> ((1L, 1L)),
      (2L, db) -> ((1L, 1L)), (2L, dc) -> ((1L, 1L)))
      .groupBy(_._1)
      .map { case (k, vs) => // collisions merge weights and terms
        k -> vs.map(_._2).reduce((x, y) => (x._1 + y._1, x._2 + y._2))
      }
    assert(out == exp)
  }

  test("hashedBow total weight equals the corpus token count") {
    import graft.pipeline.Retrieval
    val df = Seq((1L, "x y z  w"), (2L, "x x")).toDF("doc_id", "text")
    val out = Retrieval.hashedBow(df, "doc_id", "text", dims = 4)
    assert(out.agg(sum("weight")).as[Long].head() == 6L)
    assert(out.select("dim").as[Long].collect().forall(d => d >= 0 && d < 4))
  }

  // ---- url/domain --------------------------------------------------------

  test("urlHost and registrableDomain parse the planted shapes") {
    val df = Seq(
      "https://www.example.com/p/1", "http://blog.example.com",
      "https://example.org/a?q=1", "https://www.news.co.uk/x#f",
      "https://localhost/x")
      .toDF("url")
    val out = df.select(
      TextClean.urlHost(col("url")).as("h"),
      TextClean.registrableDomain(TextClean.urlHost(col("url"))).as("d"))
      .as[(String, String)].collect().toSet
    assert(out == Set(
      ("www.example.com", "example.com"),
      ("blog.example.com", "example.com"),
      ("example.org", "example.org"),
      ("www.news.co.uk", "co.uk"), // documented two-label approximation
      ("localhost", "localhost"))) // no dot: falls through unchanged
  }

  // ---- quality filter ----------------------------------------------------

  test("qualityFilter fires the first failing rule in fixed order") {
    val many = ("word " * 50).trim
    val df = Seq(
      (1L, many), // kept
      (2L, "too few words"), // too_short
      (3L, ("verylongtokenindeedxx " * 45).trim), // token_len (avg > 12)
      (4L, many + " " + ("@#$%& " * 30).trim), // symbol
      (5L, many + " " + ("12345 " * 30).trim)) // numeric
      .toDF("doc_id", "text")
    val got = TextStats.qualityFilter(df, "doc_id", "text")
      .select("doc_id", "reason", "is_kept").as[(Long, String, Int)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == (("kept", 1)))
    assert(got(2L) == (("too_short", 0)))
    assert(got(3L) == (("token_len", 0)))
    assert(got(4L) == (("symbol", 0)))
    assert(got(5L) == (("numeric", 0)))
  }

  // ---- embedding z-normalization -----------------------------------------

  test("zNormalize standardizes each dimension on the quantized grid") {
    import graft.pipeline.Similarity
    // dim0 values quantize to 1000, 2000, 3000: mean 2000, sd 1000
    // dim1 is constant → sigma 0 → z = 0.0
    val df = Seq(
      (1L, Seq(1.0f, 5.0f)), (2L, Seq(2.0f, 5.0f)), (3L, Seq(3.0f, 5.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.zNormalize(df, "vec_id", "embedding")
      .as[(Long, Seq[Double])].collect().toMap
    assert(out(1L) == Seq(-1.0, 0.0))
    assert(out(2L) == Seq(0.0, 0.0))
    assert(out(3L) == Seq(1.0, 0.0))
  }

  test("zNormalize is invariant to partitioning (exact integer sums)") {
    import graft.pipeline.Similarity
    val base = (1L to 40L).map(i =>
      (i, Seq((i % 7).toFloat / 3, (i % 5).toFloat / 7)))
    val a = Similarity.zNormalize(
      base.toDF("vec_id", "embedding").repartition(1),
      "vec_id", "embedding").as[(Long, Seq[Double])].collect().toMap
    val b = Similarity.zNormalize(
      base.toDF("vec_id", "embedding").repartition(13),
      "vec_id", "embedding").as[(Long, Seq[Double])].collect().toMap
    assert(a == b)
  }

  // ---- tf-idf ------------------------------------------------------------

  test("topTermsTfIdf ranks by (tf desc, df asc, term asc) and scores") {
    val df = Seq((1L, "a a b c"), (2L, "b c c d")).toDF("doc_id", "text")
    val out = TextStats.topTermsTfIdf(df, "doc_id", "text", k = 2)
    // doc1: a(tf2) first; b vs c tie on tf=1 df=2 → term asc picks b
    // doc2: c(tf2) first; d(df1) beats b(df2) on rarity
    assert(rows(out.select("doc_id", "term", "rank")) == Set(
      Seq(1L, "a", 1L), Seq(1L, "b", 2L),
      Seq(2L, "c", 1L), Seq(2L, "d", 2L)))
    val aScore = out.filter($"term" === "a").select("tf_idf").head.getDouble(0)
    assert(math.abs(aScore - 2 * math.log(2.0)) < 1e-12)
  }

  test("incrementalExactDedup drops corpus dups, collapses batch dups") {
    val corpus = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "alpha"), // already in the corpus → dropped
      (11L, "gamma"), (12L, "gamma"), // in-batch dup → one group, min id
      (13L, "delta")
    ).toDF("doc_id", "text")
    val out = TextDedup.incrementalExactDedup(corpus, incoming, "doc_id", "text")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((11L, 2L), (13L, 1L)))
  }

  test("unigramLogProb scores docs by corpus-model per-token likelihood") {
    val df = Seq((1L, "a a"), (2L, "b")).toDF("doc_id", "text")
    // corpus: a×2, b×1, total 3 → doc1 avg = ln(2/3), doc2 = ln(1/3)
    val out = TextStats.unigramLogProb(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out(1L)._1 == 2L && out(2L)._1 == 1L)
    assert(math.abs(out(1L)._2 - math.log(2.0 / 3)) < 1e-12)
    assert(math.abs(out(2L)._2 - math.log(1.0 / 3)) < 1e-12)
    assert(out(2L)._2 < out(1L)._2) // rare-token doc scores lower
  }

  // ---- sketches ----------------------------------------------------------

  test("approxDistinctByKey stays within the declared HLL error bound") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val approx = Sketches.approxDistinctByKey(ev, "event_type", "user_id",
      rsd = 0.02).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = ev.groupBy("event_type")
      .agg(countDistinct("user_id").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet == exact.keySet)
    for ((k, e) <- exact) {
      val rel = math.abs(approx(k) - e).toDouble / e
      assert(rel < 0.10, s"$k: approx=${approx(k)} exact=$e rel=$rel") // 5 sd
    }
  }

  test("approxQuantilesByKey tracks exact percentiles") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val approx = Sketches.approxQuantilesByKey(ev, "event_type", "value",
      probs = Seq(0.5, 0.95)).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val exact = ev.groupBy("event_type")
      .agg(expr("percentile(value, 0.5)").as("p50"),
        expr("percentile(value, 0.95)").as("p95"),
        min("value").as("lo"), max("value").as("hi")).collect()
      .map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    for ((k, (e50, e95, lo, hi)) <- exact) {
      val (a50, a95) = approx(k)
      val spread = hi - lo
      assert(a50 <= a95, s"$k: quantiles out of order")
      assert(math.abs(a50 - e50) <= 0.05 * spread, s"$k p50: $a50 vs $e50")
      assert(math.abs(a95 - e95) <= 0.05 * spread, s"$k p95: $a95 vs $e95")
    }
  }

  test("editVerifiedPairs: shingle candidates verified by levenshtein") {
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val df = Seq(
      (1L, base),
      (2L, base.replace("w15", "w15x")), // tiny edit: candidate + close
      (3L, (1 to 30).map(i => s"v$i").mkString(" ")), // no shared shingles
      (4L, base + " tail tail tail tail tail tail tail tail extra extra"))
      .toDF("doc_id", "text")
    val out = TextDedup.editVerifiedPairs(df, "doc_id", "text",
      n = 8, minShared = 3, maxDist = 5)
    // (1,2): one-char edit → dist 1; (1,4)/(2,4): share shingles but the
    // 50-char tail exceeds maxDist; 3 never becomes a candidate
    assert(rows(out.select("doc_a", "doc_b", "edit_dist")) ==
      Set(Seq(1L, 2L, 1L)))
  }

  test("Misra-Gries heavy hitters: support guarantee and lower bounds") {
    import graft.functions.HeavyHitters
    val toks = TextStats.tokens(docs, "text").toDF("tok")
    val n = toks.count()
    val k = 32
    val est = HeavyHitters.heavyHitters(toks, "tok", k).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = toks.groupBy("tok").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val bound = n / (k + 1)
    // every true heavy hitter survives the sketch...
    for ((t, c) <- exact if c > bound)
      assert(est.contains(t), s"heavy hitter '$t' (count $c > $bound) missing")
    // ...and estimates are lower bounds within the error budget
    for ((t, e) <- est) {
      val c = exact(t)
      assert(e <= c, s"'$t': estimate $e exceeds true count $c")
      assert(c - e <= bound, s"'$t': error ${c - e} > $bound")
    }
    assert(est.size <= k)
  }

  test("Misra-Gries portable twin: order-independent MG with the same laws") {
    import graft.functions.HeavyHitters
    val toks = TextStats.tokens(docs, "text").toDF("tok")
    val n = toks.count()
    val k = 8
    val est = HeavyHitters.heavyHittersPortable(toks, "tok", k).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = toks.groupBy("tok").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val bound = n / (k + 1)
    assert(est.size <= k && est.nonEmpty)
    for ((t, c) <- exact if c > bound)
      assert(est.contains(t), s"heavy hitter '$t' (count $c > $bound) missing")
    for ((t, e) <- est) {
      assert(e <= exact(t) && exact(t) - e <= bound,
        s"'$t': est $e vs true ${exact(t)}, budget $bound")
      assert(e > 0, s"'$t': non-positive counter survived")
    }
    // order-independence: a reshuffled corpus yields the identical summary
    val reshuffled = HeavyHitters.heavyHittersPortable(
        toks.repartition(13), "tok", k).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est == reshuffled)
  }

  // ---- stratified sampling -----------------------------------------------

  test("weightedSample keeps proportionally to the clamped rate") {
    val df = spark.range(0, 3000)
      .select($"id".as("doc_id"),
        when($"id" % 3 === 0, 0.0) // never kept
          .when($"id" % 3 === 1, 2.0) // clamps to 1.0: always kept
          .otherwise(0.3).as("w"))
    val out = Sampling.weightedSample(df, "doc_id", col("w"), salt = "t")
    val byW = out.groupBy("w").count().collect()
      .map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(!byW.contains(0.0)) // rate 0 drops everything
    assert(byW(2.0) == 1000) // clamped rate 1 keeps everything
    assert(byW(0.3) > 200 && byW(0.3) < 400) // ~300 of 1000
    // determinism
    val again = Sampling.weightedSample(df, "doc_id", col("w"), salt = "t")
    assert(out.except(again).isEmpty && again.except(out).isEmpty)
  }

  test("stratifiedSample applies per-stratum rates, salt decorrelates") {
    val df = spark.range(0, 2000)
      .select($"id".as("doc_id"),
        when($"id" % 4 === 0, "en").when($"id" % 4 === 1, "zh")
          .otherwise("de").as("lang"))
    val out = Sampling.stratifiedSample(df, "doc_id", "lang",
      rates = Seq("en" -> 0.1, "zh" -> 1.0), defaultRate = 0.5, salt = "s1")
    val byLang = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang("zh") == 500) // rate 1.0 keeps the whole stratum
    assert(byLang("en") < 100 && byLang("en") > 20) // ~50 of 500
    assert(byLang("de") > 400 && byLang("de") < 600) // ~500 of 1000
    // determinism: re-running reproduces the exact membership
    val again = Sampling.stratifiedSample(df, "doc_id", "lang",
      rates = Seq("en" -> 0.1, "zh" -> 1.0), defaultRate = 0.5, salt = "s1")
    assert(out.except(again).isEmpty && again.except(out).isEmpty)
    // a different salt draws a (near-)independent sample
    val other = Sampling.stratifiedSample(df, "doc_id", "lang",
      rates = Seq("en" -> 0.1, "zh" -> 1.0), defaultRate = 0.5, salt = "s2")
    assert(out.filter($"lang" === "de").select("doc_id")
      .except(other.select("doc_id")).count() > 0)
  }

  // ---- jaccard / minhash -------------------------------------------------

  test("shingles builds distinct n-grams, no partial tails") {
    val df = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val sh = TextDedup.shingles(df, "doc_id", "text", n = 3)
    assert(rows(sh.select("shingle")) == Set(Seq("a b c"), Seq("b c d")))
  }

  test("jaccardPairs computes exact jaccard") {
    // doc1: {a b c, b c d}; doc2: {a b c, b c e} → inter 1, union 3
    val df = Seq((1L, "a b c d"), (2L, "a b c e")).toDF("doc_id", "text")
    val sh = TextDedup.shingles(df, "doc_id", "text", n = 3)
    val out = TextDedup.jaccardPairs(sh, "doc_id", threshold = 0.0).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("n_common") == 1L)
    assert(math.abs(r.getAs[Double]("jaccard") - 1.0 / 3.0) < 1e-12)
  }

  test("shingles/fingerprints edge cases: docs shorter than n/k/window") {
    val df = Seq((1L, "a b"), (2L, "a b c"), (3L, "a b c d e")).toDF("doc_id", "text")
    // n=3: doc1 has no shingle, doc2 exactly one, doc3 three
    val sh = TextDedup.shingles(df, "doc_id", "text", n = 3).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    assert(sh == Map(2L -> 1, 3L -> 3))
    // k=5,window=4: doc3 has exactly one 5-gram → one (short-window) print
    val fp = TextStats.fingerprints(df, "doc_id", "text").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    assert(fp == Map(3L -> 1))
  }

  test("document-frequency pruning drops stop-shingles") {
    val df = Seq((1L, "x y z a"), (2L, "x y z b"), (3L, "x y z c"))
      .toDF("doc_id", "text")
    val sh = TextDedup.shingles(df, "doc_id", "text", n = 3)
    // 'x y z' appears in all 3 docs; cap at 2 removes it → no pairs left
    val pruned = TextDedup.jaccardPairs(sh, "doc_id", 0.0, maxShingleDocs = 2)
    assert(pruned.count() == 0)
  }

  test("default df-cap: capped pairs are a subset of exact, with high recall") {
    // the operator DEFAULT (maxShingleDocs = 500) must be 100 TB-safe
    // without sacrificing correctness properties: capped output ⊆ exact
    // output, surviving pairs carry the exact jaccard (sizes computed on
    // full sets), and near-duplicate recall stays high. A much tighter
    // cap than the default is used so pruning actually fires at fixture
    // scale.
    val sh = TextDedup.shingles(docs, "doc_id", "text", n = 3)
    def pairMap(df: DataFrame): Map[(Long, Long), Double] =
      df.select("doc_a", "doc_b", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = pairMap(
      TextDedup.jaccardPairs(sh, "doc_id", 0.12, maxShingleDocs = Int.MaxValue))
    val capped = pairMap(TextDedup.jaccardPairs(sh, "doc_id", 0.12, maxShingleDocs = 5))
    assert(exact.nonEmpty)
    assert(capped.keySet.subsetOf(exact.keySet))
    capped.foreach { case (k, j) => assert(j == exact(k), s"jaccard drifted for $k") }
    val recall = capped.size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall (${capped.size}/${exact.size})")
  }

  test("hashSplit: id-only membership, fractions hold, samples nest") {
    import graft.pipeline.Sampling
    val ids = (0L until 2000L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val split = Sampling.hashSplit(ids, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val byName = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(byName("train") - 1600.0) < 120, byName)
    assert(math.abs(byName("val") - 200.0) < 70, byName)
    // membership depends only on the id: appending rows changes nothing
    val before = split.filter($"doc_id" < 100).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val grown = Sampling.hashSplit(
      (0L until 5000L).map(i => (i, s"d$i")).toDF("doc_id", "text"),
      "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val after = grown.filter($"doc_id" < 100).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(before == after)
    // nested samples: 1% ⊆ 10%
    def keys(rate: Double) = Sampling.hashSample(ids, "doc_id", rate)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val (one, ten) = (keys(0.01), keys(0.10))
    assert(one.subsetOf(ten) && one.size < ten.size)
    // invalid fractions rejected
    intercept[IllegalArgumentException] {
      Sampling.hashSplit(ids, "doc_id", Seq("a" -> 0.5))
    }
  }

  test("regexTokenStats splits word/number/punctuation runs") {
    val df = Seq((1L, "abc de 42 7x !? end")).toDF("doc_id", "text")
    val r = TextStats.regexTokenStats(df, "doc_id", "text").collect().head
    // tokens: abc, de, 42, 7, x, !?, end → 7 total, all distinct
    assert(r.getLong(1) == 7L) // n_tokens
    assert(r.getLong(2) == 7L) // n_distinct
    assert(r.getLong(3) == 4L) // words: abc de x end
    assert(r.getLong(4) == 2L) // numbers: 42 7
    assert(r.getLong(5) == 1L) // punct: !?
  }

  test("dupClusters labels connected components with the min id") {
    // chain 1-2-3 (1~3 never paired directly) plus a separate pair 5-6:
    // transitivity must collapse the chain to one canonical id
    val pairs = Seq((2L, 1L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val out = TextDedup.dupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
    // empty pair set → empty labeling, no crash
    assert(TextDedup.dupClusters(pairs.limit(0)).count() == 0)
  }

  test("dup-cluster round serves the jump join's second step0 read from ReusedExchange") {
    // the exact per-round plan shape dupClusters builds: step0 (union +
    // groupBy) feeds the pointer-jump self-join twice; the second read
    // must come from the first's shuffle files, not a recompute — this
    // pins the ReuseExchange behavior the loop's cost model relies on
    val sym = (1L to 200L).map(i => (i, i % 50)).toDF("src", "dst")
    val labels = sym.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("lab")).localCheckpoint(true)
    val viaEdges = sym.join(labels.withColumnRenamed("id", "src"), "src")
      .select(col("dst").as("id"), col("lab"),
        lit(null).cast("long").as("prev"))
    val step0 = viaEdges
      .union(labels.select(col("id"), col("lab"), col("lab").as("prev")))
      .groupBy(col("id"))
      .agg(min(col("lab")).as("lab"), max(col("prev")).as("prev"))
    val step = step0.as("s").join(
        step0.select(col("id").as("_g_jid"), col("lab").as("_g_jlab")).as("j"),
        col("s.lab") === col("_g_jid"), "left")
      .select(col("s.id"), coalesce(col("_g_jlab"), col("s.lab")).as("lab"))
    step.collect()
    val plan = step.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange"), plan.take(2000))
  }

  test("dupClusters under a reliable checkpoint dir matches localCheckpoint mode") {
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (4L, 9L), (5L, 6L), (7L, 6L))
      .toDF("doc_a", "doc_b")
    val localMode = TextDedup.dupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty) // above ran the localCheckpoint path
    val ckpt = graft.queries.TempDirs
      .tempDirCleanedAtExit(None, "graft_test_ckpt_")
    sc.setCheckpointDir(ckpt.toString)
    try {
      val reliable = TextDedup.dupClusters(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(reliable == localMode)
      assert(reliable == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
        9L -> 1L, 5L -> 5L, 6L -> 5L, 7L -> 5L))
      // checkpoint files actually landed in the reliable dir
      assert(java.nio.file.Files.walk(ckpt).count() > 1)
    } finally sc.setCheckpointDir(null)
  }

  test("dupClusters matches union-find on the fixture near-dup pairs") {
    val sh = TextDedup.shingles(docs, "doc_id", "text", n = 3)
    val pairs = TextDedup.jaccardPairs(sh, "doc_id", 0.12, Int.MaxValue)
      .select("doc_a", "doc_b")
    val got = TextDedup.dupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference union-find over the collected pairs (small at sf0.001)
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.collect().foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = (parent.keySet ++ parent.values).map(x => x -> find(x)).toMap
    assert(got.nonEmpty)
    assert(got == got.keys.map(k => k -> expected.getOrElse(k, k)).toMap)
  }

  test("minhash-LSH recall vs exact jaccard on fixture docs") {
    val sh = TextDedup.shingles(docs, "doc_id", "text", n = 3)
    def pairSet(df: DataFrame): Set[(Long, Long)] =
      df.select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairSet(TextDedup.jaccardPairs(sh, "doc_id", 0.5))
    val lsh = pairSet(TextDedup.minhashPairs(sh, "doc_id", 0.5))
    assert(exact.nonEmpty, "fixture should contain planted near-duplicates")
    // verification step makes precision exact: no false positives possible
    assert(lsh.subsetOf(exact))
    // banded LSH at r=4,b=16 catches s>=0.5 pairs with prob >=~97%
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall (${lsh.size}/${exact.size})")
  }

  test("portable minhash twin: same guarantees, md5 ring (q211)") {
    val sh = TextDedup.shingles(docs, "doc_id", "text", n = 3)
    def pairSet(df: DataFrame): Set[(Long, Long)] =
      df.select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairSet(TextDedup.jaccardPairs(sh, "doc_id", 0.5))
    val portable = pairSet(
      TextDedup.minhashPairs(sh, "doc_id", 0.5, portable = true))
    // exact verify ⇒ no false positives, whatever the base hash
    assert(portable.subsetOf(exact))
    assert(portable.size.toDouble / exact.size >= 0.9,
      s"portable recall ${portable.size}/${exact.size}")
  }

  test("simhashPortable: duplicates collide, near-dups land close (q213)") {
    val df = Seq(
      (1L, "spark scan merge join filter window batch row"),
      (2L, "spark scan merge join filter window batch row"),  // exact dup
      (3L, "spark scan merge join filter window batch agg"),  // 1 token off
      (4L, "zz yy xx ww vv uu tt ss")).toDF("doc_id", "text") // unrelated
    val fp = TextDedup.simhashPortable(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(2L), "identical text must produce identical bits")
    val ham13 = java.lang.Long.bitCount(fp(1L) ^ fp(3L))
    val ham14 = java.lang.Long.bitCount(fp(1L) ^ fp(4L))
    assert(ham13 < ham14, s"near-dup $ham13 should beat unrelated $ham14")
    val pairs = TextDedup.simhashPairs(
      TextDedup.simhashPortable(df, "doc_id", "text"), "doc_id", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.contains((1L, 2L, 0)))
  }

  test("portable fingerprints: dup docs collide, overlap shares (q217)") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val df = Seq(
      (1L, base), (2L, base),                        // exact duplicate
      (3L, (11 to 40).map(i => s"w$i").mkString(" ")), // large overlap
      (4L, (1 to 40).map(i => s"z$i").mkString(" "))) // disjoint
      .toDF("doc_id", "text")
    val fp = TextStats.fingerprints(df, "doc_id", "text", portable = true)
      .collect().groupBy(_.getLong(0))
      .map { case (k, rs) => k -> rs.map(_.getLong(1)).toSet }
    assert(fp(1L) == fp(2L))
    assert((fp(1L) & fp(3L)).nonEmpty, "shared run must share a fingerprint")
    assert((fp(1L) & fp(4L)).isEmpty)
  }

  test("minhashPairsAcross: stored corpus signatures catch re-crawls") {
    // corpus 0..3 with stored signatures; batch = one exact re-crawl of
    // doc 1 (id 100), one fresh doc, one near-copy of doc 2
    val corpus = Seq(
      (0L, "spark scan merge join filter window batch row agg key"),
      (1L, "table data line value sort group hash stream big small"),
      (2L, "vector query column part order batch merge scan row join"),
      (3L, "aa bb cc dd ee ff gg hh ii jj")).toDF("doc_id", "text")
    val batch = Seq(
      (100L, "table data line value sort group hash stream big small"),
      (101L, "vector query column part order batch merge scan row sort"),
      (102L, "zz yy xx ww vv uu tt ss rr qq")).toDF("doc_id", "text")
    val shC = TextDedup.shingles(corpus, "doc_id", "text", n = 3)
    val shN = TextDedup.shingles(batch, "doc_id", "text", n = 3)
    val sigC = TextDedup.minhashSignatures(shC, "doc_id", 64, portable = true)
    val out = TextDedup.minhashPairsAcross(shN, sigC, shC, "doc_id",
        threshold = 0.5, portable = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    // the exact re-crawl pairs at jaccard 1.0 with its corpus original
    assert(out.exists { case (a, b, j) => a == 100L && b == 1L && j == 1.0 },
      s"re-crawl missed: ${out.toSeq}")
    // directionality: doc_a is always batch-side, doc_b corpus-side
    assert(out.forall { case (a, b, _) => a >= 100L && b < 100L })
    // the disjoint fresh doc pairs with nothing
    assert(!out.exists(_._1 == 102L))
  }

  test("minhash signature agreement tracks similarity") {
    val df = Seq(
      (1L, "a b c d e f g h"), (2L, "a b c d e f g h"), (3L, "q r s t u v w x"))
      .toDF("doc_id", "text")
    val sh = TextDedup.shingles(df, "doc_id", "text", n = 2)
    val sig = TextDedup.minhashSignatures(sh, "doc_id", numPerms = 16).collect()
      .map(r => r.getLong(0) -> (1 to 16).map(r.getLong)).toMap
    assert(sig(1L) == sig(2L)) // identical docs → identical signatures
    assert(sig(1L) != sig(3L)) // disjoint docs → (a.s.) different signatures
  }

  // ---- simhash -----------------------------------------------------------

  test("simhash: identical docs collide, hamming pairs found via bands") {
    val df = Seq(
      (1L, "spark query engine fast scan"),
      (2L, "spark query engine fast scan"),
      (3L, "completely different words entirely here"))
      .toDF("doc_id", "text")
    val fp = TextDedup.simhash(df, "doc_id", "text")
    val byId = fp.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byId(1L) == byId(2L))
    val pairs = TextDedup.simhashPairs(fp, "doc_id", maxHamming = 0)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet == Set((1L, 2L)))
  }

  test("simhashPairs respects the hamming bound (no band false positives)") {
    // fingerprints differing in >k bits must not pair even if a band matches
    val fp = Seq((1L, 0L), (2L, 0xFFL), (3L, 1L)).toDF("doc_id", "simhash")
    val out = TextDedup.simhashPairs(fp, "doc_id", maxHamming = 3)
      .select("doc_a", "doc_b", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(out == Set((1L, 3L, 1)))
  }

  test("simhash64 expression agrees with the aggregate formulation and eval") {
    val sample = docs.limit(20)
    val viaExpr = TextDedup.simhash(sample, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference formulation: explode + 64 conditional-sum aggregates
    val tok = sample.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val bitSums = (0 until 64).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"s$i")
    }
    val sums = tok.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    val fpCol = (0 until 64).map { i =>
      when(col(s"s$i") > 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce[org.apache.spark.sql.Column](_.bitwiseOR(_))
    val viaAgg = sums.select(col("doc_id"), fpCol.as("fp")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaExpr == viaAgg)
    // interpreted eval path matches codegen
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val text = sample.select("text").head().getString(0)
    val id = sample.select("doc_id").head().getLong(0)
    val lit0 = Literal(
      new GenericArrayData(text.split(" ").map(UTF8String.fromString(_: String))),
      ArrayType(StringType))
    assert(graft.functions.SimHash64(lit0).eval(null) == viaExpr(id))
  }

  test("longArrayDot: interpreted eval matches codegen result") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val a = Array(3L, -4L, 5L)
    val b = Array(2L, 10L, -1L)
    val expected = 3L * 2 + -4L * 10 + 5L * -1
    val viaEval = graft.functions.LongArrayDot(
      Literal(new GenericArrayData(a), ArrayType(LongType)),
      Literal(new GenericArrayData(b), ArrayType(LongType))).eval(null)
    assert(viaEval == expected)
    val viaDf = spark.sql("SELECT 1")
      .select(graft.functions.GraftFunctions.longArrayDot(
        typedlit(a.toSeq), typedlit(b.toSeq)))
      .head().getLong(0)
    assert(viaDf == expected)
  }

  // ---- similarity --------------------------------------------------------

  test("bruteForceKnn: rank 1 is the true nearest by quantized cosine") {
    val df = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.bruteForceKnn(df, "vec_id", "embedding",
      queryPred = col("vec_id") === 0, k = 3).collect()
    assert(out.map(_.getAs[Long]("nid")).toSeq == Seq(1L, 2L, 3L))
    assert(out.head.getAs[Double]("cosine") > 0.99)
  }

  test("annLsh recall vs brute force on fixture embeddings") {
    def topSet(df: DataFrame): Set[(Long, Long)] =
      df.select("qid", "nid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pred = col("vec_id") < 5
    val exact = topSet(Similarity.bruteForceKnn(embs, "vec_id", "embedding", pred, k = 10))
    // 50-vector fixture: size buckets for the corpus (4-bit buckets ≈ 3
    // vecs/table; 16 tables) — the bits/tables trade is the operator's
    // recall knob, and the scale default (8×8) is far too fine for n=50
    val ann = topSet(Similarity.annLsh(embs, "vec_id", "embedding", pred,
      k = 10, tables = 16, bits = 4))
    assert(exact.size == 50)
    // approximate: assert it finds most true neighbors on unclustered
    // (hard-case) vectors, and never invents self-matches
    val recall = (exact intersect ann).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall")
    assert(ann.forall { case (q, n) => q != n })
  }

  test("the LSH and top-k stages reject a bad tables/bits/k by name " +
    "and value") {
    // bits = 0 used to die in an empty reduceLeft, bits = 32 wrapped
    // 1 << 32 onto bit 0 (colliding buckets), and k <= 0 or
    // tables = 0 returned an empty frame
    def rejects(param: String, value: Int)(build: => DataFrame): Unit = {
      val e = intercept[IllegalArgumentException](build)
      assert(e.getMessage.contains(s"$param must") &&
        e.getMessage.contains(s"got $value"), e.getMessage)
    }
    val (id, emb, q) = ("vec_id", "embedding", col("vec_id") < 5)
    rejects("bits", 0)(Similarity.annLsh(embs, id, emb, q, bits = 0))
    rejects("bits", 32)(Similarity.lshCandidates(embs, id, emb, q, bits = 32))
    rejects("tables", 0)(Similarity.annDupPairs(embs, id, emb, 0.5, tables = 0))
    rejects("bits", 0)(
      Similarity.annDupPairsAcross(embs, embs, id, emb, 0.5, bits = 0))
    rejects("bits", 40)(Similarity.semanticDedupAnn(embs, id, emb, 0.5, bits = 40))
    rejects("tables", -1)(
      Clustering.euclideanPairsAnn(embs, id, emb, 1000000L, tables = -1))
    rejects("k", 0)(Similarity.bruteForceKnn(embs, id, emb, q, k = 0))
    rejects("k", 0)(Similarity.knnGraphAnn(embs, id, emb, k = 0))
    rejects("k", -1)(Similarity.quantizedKnn(embs, id, emb, q, k = -1))
    rejects("k", 0)(Similarity.hardNegatives(
      embs.withColumn("label", col("vec_id") % 2), id, emb, "label", q, k = 0))
  }

  test("annIvf recall vs brute force on fixture embeddings") {
    def topSet(df: DataFrame): Set[(Long, Long)] =
      df.select("qid", "nid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pred = col("vec_id") < 5
    val exact = topSet(Similarity.bruteForceKnn(embs, "vec_id", "embedding", pred, k = 10))
    // 50-vector fixture: 8 lists of ~6, probing 4 covers ~half the corpus
    val ivf = topSet(Similarity.annIvf(embs, "vec_id", "embedding", pred,
      k = 10, nlist = 8, nprobe = 4))
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.4, s"recall $recall")
    assert(ivf.forall { case (q, n) => q != n })
    // deterministic: same inputs → same answer
    val again = topSet(Similarity.annIvf(embs, "vec_id", "embedding", pred,
      k = 10, nlist = 8, nprobe = 4))
    assert(ivf == again)
  }

  test("annIvf portable: md5 init, same recall floor, repartition-proof") {
    def topSet(df: DataFrame): Set[(Long, Long)] =
      df.select("qid", "nid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pred = col("vec_id") < 5
    val exact = topSet(
      Similarity.bruteForceKnn(embs, "vec_id", "embedding", pred, k = 10))
    val ivf = topSet(Similarity.annIvf(embs, "vec_id", "embedding", pred,
      k = 10, nlist = 8, nprobe = 4, portable = true))
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.4, s"portable recall $recall")
    val again = topSet(Similarity.annIvf(embs.repartition(7),
      "vec_id", "embedding", pred, k = 10, nlist = 8, nprobe = 4,
      portable = true))
    assert(ivf == again, "portable IVF must survive repartitioning")
  }

  test("annIvfPq: ADC recall floor vs brute force, repartition-proof") {
    def topSet(df: DataFrame): Set[(Long, Long)] =
      df.select("qid", "nid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pred = col("vec_id") < 5
    val exact = topSet(
      Similarity.bruteForceKnn(embs, "vec_id", "embedding", pred, k = 10))
    // 50-vector fixture of near-orthogonal RANDOM vectors — PQ's hard
    // case (no cluster structure for codebooks to exploit; measured
    // recall 0.18 at 8x8 up to 0.64 at 32x16). Probe ALL lists so the
    // floor isolates ADC quantization error from list truncation;
    // 8 subspaces x 16 codewords measures 0.36 — pin 0.25 with margin
    val pq = topSet(Similarity.annIvfPq(embs, "vec_id", "embedding", pred,
      k = 10, nlist = 8, nprobe = 8, ksub = 16, portable = true))
    val recall = (exact intersect pq).size.toDouble / exact.size
    assert(recall >= 0.25, s"IVF-PQ recall $recall")
    assert(pq.forall { case (q, n) => q != n })
    // codes + training are a pure function of the multiset: identical
    // output under any partitioning (the q224 oracle contract)
    val again = topSet(Similarity.annIvfPq(embs.repartition(7),
      "vec_id", "embedding", pred, k = 10, nlist = 8, nprobe = 8,
      ksub = 16, portable = true))
    assert(pq == again, "portable IVF-PQ must survive repartitioning")
  }

  test("embeddingDupPairsBlocked matches the broadcast path exactly") {
    // the past-broadcast-size escape hatch must be a pure memory-shape
    // change: same pairs, same cosines, for any block count (including
    // blocks the id-hash leaves empty)
    def pairMap(df: DataFrame): Map[(Long, Long), Double] =
      df.select("vec_a", "vec_b", "cosine").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = pairMap(Similarity.embeddingDupPairs(embs, "vec_id", "embedding", 0.4))
    assert(exact.nonEmpty)
    for (blocks <- Seq(1, 3, 7))
      assert(pairMap(Similarity.embeddingDupPairsBlocked(
        embs, "vec_id", "embedding", 0.4, blocks)) == exact, s"blocks=$blocks")
  }

  test("annDupPairs at q163 defaults: recall 1.0 vs exact pairs on the fixture") {
    // THE q163 PRECONDITION: the ANN-fed semantic dedup shares q129's
    // exact oracle, which is sound iff the LSH candidate stage misses
    // no cosine ≥ 0.4 pair on this fixture (verified candidates are a
    // subset of exact pairs by construction, so recall 1.0 ⇒ equality)
    def pairMap(df: DataFrame): Map[(Long, Long), Double] =
      df.select("vec_a", "vec_b", "cosine").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = pairMap(Similarity.embeddingDupPairs(embs, "vec_id", "embedding", 0.4))
    val ann = pairMap(Similarity.annDupPairs(embs, "vec_id", "embedding", 0.4))
    assert(exact.nonEmpty)
    val missed = exact.keySet -- ann.keySet
    assert(missed.isEmpty, s"LSH missed ${missed.size} true pairs: $missed")
    assert(ann == exact) // subset + recall 1.0 + identical exact cosines
  }

  test("semanticDedupAnn equals the exact semanticDedup under recall 1.0") {
    def keeps(df: DataFrame): Set[Seq[Any]] = rows(
      df.select("vec_id", "canonical_id", "is_kept"))
    val exact = keeps(Similarity.semanticDedup(embs, "vec_id", "embedding", 0.4))
    val ann = keeps(Similarity.semanticDedupAnn(embs, "vec_id", "embedding", 0.4))
    assert(ann == exact)
  }

  test("semDeDup: dropped set is a subset of exact's, with bounded loss") {
    // cluster-boundary misses are semDeDup's DECLARED approximation
    // (scaladoc): its pair graph is a subgraph of the exact one, so
    // (a) every doc it drops, the exact path drops too (a sem drop
    // means a smaller-id neighbor in the same cluster — a true pair,
    // so the doc is non-minimal in its exact component as well), and
    // (b) the loss is bounded — at sf0.001/nlist=16 the measured drop
    // recall is ~0.44 (25/57); the floor pins against silent collapse
    // of the pair stage, not the paper's quality claim.
    def dropped(df: DataFrame): Set[Long] =
      df.filter(col("is_kept") === 0).select("vec_id").as[Long]
        .collect().toSet
    val exact = dropped(
      Similarity.semanticDedup(embs, "vec_id", "embedding", 0.4))
    val sem = Similarity.semDeDup(embs, "vec_id", "embedding", 0.4)
    val semDropped = dropped(sem)
    assert(exact.nonEmpty)
    assert(semDropped.subsetOf(exact),
      s"sem dropped docs not in exact: ${semDropped -- exact}")
    assert(semDropped.size >= (exact.size * 0.3).toInt,
      s"drop recall collapsed: ${semDropped.size}/${exact.size}")
    // every vector carries its audit cluster, and clusters are 0..15
    val cl = sem.select("cluster").as[Long].collect()
    assert(cl.length == embs.count())
    assert(cl.forall(c => c >= 0 && c < 16))
  }

  test("semDeDup drops within-cluster planted duplicates, keeps min id") {
    // 3 orthogonal directions ×2 near-copies each + far separation →
    // k-means (nlist=2 still) must co-cluster each near-pair; dedup
    // keeps the lower id of each pair regardless of cluster layout
    val base = Seq(
      Array(1.0f, 0f, 0f, 0f), Array(0f, 1.0f, 0f, 0f),
      Array(0f, 0f, 1.0f, 0f))
    val vecs = base.zipWithIndex.flatMap { case (v, i) =>
      Seq((i * 2L, v.toSeq), (i * 2L + 1, v.map(_ * 0.99f).toSeq))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val out = Similarity.semDeDup(df, "vec_id", "embedding",
        threshold = 0.95, nlist = 2, iters = 2)
      .select("vec_id", "canonical_id", "is_kept")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2))))
      .toMap
    for (i <- 0 until 3) {
      assert(out(i * 2L) == ((i * 2L, 1)))
      assert(out(i * 2L + 1) == ((i * 2L, 0))) // near-copy dropped
    }
  }

  test("semDeDup mega-cluster pre-flight fails loudly on a planted hub") {
    // 40 IDENTICAL vectors (identical assignment → they cannot split
    // across clusters, whatever k-means does) + 8 scattered, nlist=4:
    // the hub cluster holds ≥ 40 of 48 rows > N/√nlist = 24 → the
    // pre-flight must refuse before paying the |c|² pair stage
    val hub = (0L until 40L).map(i => (i, Seq(1.0f, 0f, 0f, 0f)))
    val rest = Seq(
      (100L, Seq(0f, 1.0f, 0f, 0f)), (101L, Seq(0f, -1.0f, 0f, 0f)),
      (102L, Seq(0f, 0f, 1.0f, 0f)), (103L, Seq(0f, 0f, -1.0f, 0f)),
      (104L, Seq(0f, 0f, 0f, 1.0f)), (105L, Seq(0f, 0f, 0f, -1.0f)),
      (106L, Seq(0f, 0.7f, 0.7f, 0f)), (107L, Seq(0f, -0.7f, 0.7f, 0f)))
    val df = (hub ++ rest).toDF("vec_id", "embedding")
    val ex = intercept[IllegalArgumentException] {
      Similarity.semDeDup(df, "vec_id", "embedding",
        threshold = 0.95, nlist = 4, iters = 2)
    }
    assert(ex.getMessage.contains("mega-cluster"))
    assert(ex.getMessage.contains("annDupPairs"))
  }

  test("unigramTrain: hand-computed EM on a tiny corpus; coverage law") {
    // corpus: "ab ab b" → words ab(×2), b(×1). seed (lMax=2):
    // a:2, b:3, ab:2. Viterbi iter1: total=7, cost(ab)=-ln(2/7) <
    // cost(a)+cost(b) → "ab" segments as [ab]; counts ab=2, b=1, a→floor 1.
    // iter2: total=4, costs ab=-ln(2/4) < a+b again → stable.
    // kept order (cnt DESC, piece ASC): ab(2), a(1), b(1).
    val df = Seq((1L, "ab ab b")).toDF("doc_id", "text")
    val out = TextStats.unigramTrain(df, "text",
        lMax = 2, seedK = 8, nIters = 2, keepK = 8)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(out.map(t => (t._1, t._2)).toSeq == Seq(("ab", 2L), ("a", 1L), ("b", 1L)))
    // cost6 = d6(-ln(cnt/4))
    def d6ln(r: Double) = BigDecimal.decimal(-math.log(r))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.map(_._3).toSeq == Seq(d6ln(2.0 / 4), d6ln(1.0 / 4), d6ln(1.0 / 4)))
    // coverage law on the fixture: every character of every (capped)
    // word is a piece, so any corpus word re-segments under the vocab
    val fx = TextStats.unigramTrain(docs, "text")
      .collect().map(_.getString(0)).toSet
    val cs = docs.select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")).between(1, 24))
      .select(explode(split(col("w"), "")).as("c"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(cs.subsetOf(fx), s"chars missing from vocab: ${cs -- fx}")
  }

  test("minhashAutoConfig: S-curve placement holds both closed-form bounds") {
    for (t <- Seq(0.6, 0.7, 0.8, 0.9)) {
      val (np, b) = TextDedup.minhashAutoConfig(t)
      val r = np / b
      assert(np % b == 0)
      val recall = 1.0 - math.pow(1.0 - math.pow(t, r), b)
      val fp = 1.0 - math.pow(1.0 - math.pow(t / 2, r), b)
      assert(recall >= 0.99, s"t=$t ($np,$b): recall $recall")
      assert(fp <= 0.1, s"t=$t ($np,$b): fp $fp")
    }
    // higher thresholds are cheaper: fewer permutations buy the floor
    val w06 = TextDedup.minhashAutoConfig(0.6)._1
    val w09 = TextDedup.minhashAutoConfig(0.9)._1
    assert(w09 < w06, s"$w09 vs $w06")
    // low-threshold banded LSH fails loudly (the documented exact-path
    // boundary), as do jointly impossible floors
    assertThrows[IllegalArgumentException](TextDedup.minhashAutoConfig(0.3))
    assertThrows[IllegalArgumentException](
      TextDedup.minhashAutoConfig(0.9, recall = 0.999999, fpBudget = 1e-12))
  }

  test("unigramSegmentStats: DP picks cheapest split, counts unknowns, skips long words") {
    val vocab = Map("a" -> 100L, "b" -> 100L, "ab" -> 150L)
    val df = Seq(
      (1L, "ab ba"),            // [ab]=150 beats [a,b]=200 → 1+2 pieces
      (2L, "aZb"),              // Z unknown: ["aZ","b"] (one INF either
                                // way, fewer pieces win) → 2 pieces, 1 unk
      (3L, "x".repeat(30) + " ab")) // 30-char word skipped, counted
      .toDF("doc_id", "text")
    val out = TextStats.unigramSegmentStats(df, "doc_id", "text", vocab, lMax = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out(1L) == ((2L, 0L, 3L, 0L)))
    assert(out(2L) == ((1L, 0L, 2L, 1L)))
    assert(out(3L) == ((2L, 1L, 1L, 0L)))
  }

  test("unigramSegmentStats: a NULL id reports zero pieces (documented)") {
    val vocab = Map("a" -> 100L, "b" -> 100L, "ab" -> 150L)
    val df = Seq((Some(1L), "ab ba"), (None: Option[Long], "ab ba"))
      .toDF("doc_id", "text")
    val out = TextStats.unigramSegmentStats(df, "doc_id", "text", vocab, lMax = 2)
      .collect().map(r => Option(r.get(0)) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out(Some(1L)) == ((2L, 0L, 3L, 0L)))
    // word counts survive; the per-doc rollup re-joins on the id, which
    // NULL never matches, so the piece counts fall back to 0
    assert(out(None) == ((2L, 0L, 0L, 0L)))
  }

  test("mojibake table IS the UTF-8-as-cp1252 corruption, per character") {
    // independent re-derivation: every (corrupt, fixed) pair must be the
    // real encoding round trip, keys unique, nothing a no-op, and the
    // chain ordered longest-corrupt-first so 3-byte repairs can't be
    // shadowed
    val table = TextClean.mojibakeTable
    assert(table.nonEmpty)
    table.foreach { case (corrupt, fixed) =>
      val expected = new String(
        fixed.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        java.nio.charset.Charset.forName("windows-1252"))
      assert(corrupt == expected, s"table lies for '$fixed'")
      assert(corrupt != fixed)
      assert(fixed.length == 1 && corrupt.length >= 2)
    }
    assert(table.map(_._1).distinct.size == table.size)
    val lens = table.map(_._1.length)
    assert(lens == lens.sorted.reverse, "not longest-first")
  }

  test("fixMojibake repairs planted corruption, counts it, spares clean text") {
    def corrupt(s: String) = new String(
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      java.nio.charset.Charset.forName("windows-1252"))
    val df = Seq(
      (1L, corrupt("café")+ " and " + corrupt("don’t — naïve")),
      (2L, "plain ascii text"),
      (3L, corrupt("€99 • “ok”"))).toDF("doc_id", "text")
    val out = TextClean.fixMojibake(df, "text")
      .select("doc_id", "n_mojibake", "fixed_text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(out(1L) == ((4L, "café and don’t — naïve")))
    assert(out(2L) == ((0L, "plain ascii text")))
    assert(out(3L) == ((4L, "€99 • “ok”")))
    // idempotent on repaired output: fixed chars are not corrupt keys
    val again = TextClean.fixMojibake(
      Seq((1L, out(1L)._2)).toDF("doc_id", "text"), "text")
      .select("n_mojibake", "fixed_text").head()
    assert(again.getLong(0) == 0L && again.getString(1) == out(1L)._2)
  }

  test("lshAutoConfig: bits track log n, recall floor holds, loud overflow") {
    // density law: larger corpora get more bits (never fewer)
    val byN = Seq(50L, 500L, 5000L, 50000L)
      .map(n => Similarity.lshAutoConfig(n, 0.4))
    assert(byN.map(_._2) == byN.map(_._2).sorted, s"bits not monotone: $byN")
    // every derived config satisfies the closed-form recall bound
    val p = 1.0 - math.acos(0.4) / math.Pi
    byN.foreach { case (tables, bits) =>
      val recall = 1.0 - math.pow(1.0 - math.pow(p, bits), tables)
      assert(recall >= 0.999, s"($tables,$bits) formula recall $recall")
    }
    // high thresholds afford more bits within the same table budget, so
    // the dedup regime keeps tracking the density law where t=0.4
    // saturates at the practical cap (see lshAutoConfig scaladoc)
    val (tHi, bHi) = Similarity.lshAutoConfig(50000L, 0.9)
    assert(tHi <= 64 && bHi > byN(3)._2, s"($tHi,$bHi) vs ${byN(3)}")
    // impossible floors fail loudly instead of silently degrading
    // (bits=1 already holds 0.999 recall with ≤10 tables at any t>0, so
    // only a cap below that is genuinely infeasible)
    assertThrows[IllegalArgumentException](
      Similarity.lshAutoConfig(50000L, 0.4, recall = 0.999, maxTables = 4))
  }

  test("semanticDedupAnnAuto equals exact dedup (auto config, recall 1.0)") {
    // the q243 contract: the size-derived config keeps the fixture in the
    // recall-1.0 regime, so the auto entry shares q129's exact oracle
    def keeps(df: DataFrame): Set[Seq[Any]] = rows(
      df.select("vec_id", "canonical_id", "is_kept"))
    val exact = keeps(Similarity.semanticDedup(embs, "vec_id", "embedding", 0.4))
    val auto = keeps(
      Similarity.semanticDedupAnnAuto(embs, "vec_id", "embedding", 0.4))
    assert(auto == exact)
    // and at sf0.01 — the driver's oracle SF (n=500 → config (41,4))
    val embs01 = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val exact01 = keeps(Similarity.semanticDedup(embs01, "vec_id", "embedding", 0.4))
    val auto01 = keeps(
      Similarity.semanticDedupAnnAuto(embs01, "vec_id", "embedding", 0.4))
    assert(auto01 == exact01)
  }

  test("quantizeInt8: symmetric max-abs scale, zero-vector safe, int8 range") {
    val df = Seq(
      (0L, Array(0.5f, -1.0f, 0.25f, 0.0f)),
      (1L, Array(0.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.quantizeInt8(df, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> ((r.getSeq[Long](1), r.getDouble(2))))
      .toMap
    // scale = 1.0/127: round(63.5) away from zero = 64; max component
    // pins to exactly -127; the zero vector never divides by zero
    assert(out(0L) == ((Seq(64L, -127L, 32L, 0L), 1.0 / 127.0)))
    assert(out(1L) == ((Seq(0L, 0L, 0L, 0L), 0.0)))
    // fixture-wide: every component in [-127, 127], and every non-zero
    // vector attains |127| at its max-magnitude component
    val fx = Similarity.quantizeInt8(embs, "vec_id", "embedding")
      .select(array_max(transform(col("qv"), v => abs(v))).as("m"))
      .collect().map(_.getLong(0))
    assert(fx.forall(_ == 127L))
  }

  test("quantizedKnn: integer MIPS agrees with exact float inner product") {
    val pred = col("vec_id") < 5
    val quant = Similarity.quantizedKnn(embs, "vec_id", "embedding", pred, k = 10)
    val qs = quant.collect()
    assert(qs.length == 50) // 5 queries × k
    assert(qs.forall(r => r.getLong(0) != r.getLong(1))) // no self-match
    // per-query ranks are exactly 1..10
    assert(qs.groupBy(_.getLong(0)).values
      .forall(_.map(_.getInt(2)).sorted.toSeq == (1 to 10)))
    // exact FLOAT inner-product baseline (the metric quantizedKnn
    // approximates — MIPS, not cosine), computed directly
    val all = embs.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    val exact = (for {
      (qid, qv) <- all if qid < 5
      (nid, _) <- all.sortBy { case (nid, nv) =>
        (-qv.zip(nv).map { case (a, b) => a * b }.sum, nid)
      }.filter(_._1 != qid).take(10)
    } yield (qid, nid)).toSet
    // int8 quantization perturbs scores ~0.4%: the top-k sets stay
    // nearly identical to the float kernel's on 64-dim vectors
    val got = qs.map(r => (r.getLong(0), r.getLong(1))).toSet
    val overlap = (exact intersect got).size.toDouble / exact.size
    assert(overlap >= 0.9, s"overlap $overlap")
  }

  test("ANN-fed quantizedKnn equals the full-corpus kernel (recall 1.0)") {
    // q174's precondition at BOTH the spec SF and the driver's compare
    // SF: at 24 tables × 3 bits the LSH candidates contain every
    // query's true top-10, so candidate re-rank ≡ full-corpus re-rank
    // (the retrieval mirror of q163's semantic-dedup assertion)
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val e = spark.read.parquet(s"/root/testdata/$sf/embeddings.parquet")
      val pred = col("vec_id") < 5
      def key(df: DataFrame): Set[Seq[Any]] =
        rows(df.select("qid", "nid", "rank", "score"))
      val full = key(Similarity.quantizedKnn(e, "vec_id", "embedding", pred, k = 10))
      val cand = Similarity.lshCandidates(
        e, "vec_id", "embedding", pred, tables = 24, bits = 3)
      val ann = key(Similarity.quantizedKnnFromCandidates(
        e, "vec_id", "embedding", cand, k = 10))
      assert(ann == full, s"$sf: ANN-fed result diverges — recall < 1.0")
    }
  }

  test("ANN-fed hardNegatives equals the exact miner (recall 1.0)") {
    // q208's precondition at both the spec SF and the driver's compare
    // SF: at 24 tables × 3 bits the LSH candidates contain every
    // query's true top-10 different-label neighbors, so the candidate
    // miner ≡ the exact miner (q174's retrieval assertion, with the
    // label gate in play)
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val e = spark.read.parquet(s"/root/testdata/$sf/embeddings.parquet")
      val pred = col("vec_id") < 8
      def key(df: DataFrame): Set[Seq[Any]] =
        rows(df.select("qid", "q_label", "nid", "n_label", "rank", "cosine"))
      val full = key(Similarity.hardNegatives(
        e, "vec_id", "embedding", "label", pred, k = 10))
      val cand = Similarity.lshCandidates(
        e, "vec_id", "embedding", pred, tables = 24, bits = 3)
      val ann = key(Similarity.hardNegativesFromCandidates(
        e, "vec_id", "embedding", "label", cand, k = 10))
      assert(ann == full, s"$sf: ANN-fed miner diverges — recall < 1.0")
    }
  }

  test("dropBoilerplateLines drops hot lines, keeps short and unique ones") {
    // "nav" appears in 3 docs (≥ minDocs=3 → dropped everywhere);
    // "a" is short (structural, never dropped even at df 3);
    // body lines are unique (kept); doc 4 is ALL boilerplate → ""
    val df = Seq(
      (1L, "nav menu line\nbody one\na"),
      (2L, "nav menu line\nbody two\na"),
      (3L, "nav menu line\nbody three\na"),
      (4L, "nav menu line"))
      .toDF("doc_id", "text")
    val out = TextDedup.dropBoilerplateLines(df, "doc_id", "text",
        minDocs = 3, minLineChars = 5)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(out(1L) == ((3L, 1L, "body one\na")))
    assert(out(2L) == ((3L, 1L, "body two\na")))
    assert(out(3L) == ((3L, 1L, "body three\na")))
    assert(out(4L) == ((1L, 1L, "")))
  }

  test("annDupPairsAcross equals the exact cross-set pairs (recall 1.0)") {
    // q179's precondition: at 24 tables × 3 bits the LSH candidates
    // contain every exact cross-set pair at ≥ 0.4. Brute-force
    // reference over the sf0.001 fixture with the same floor(v·1000)
    // quantization discipline.
    val split = 100L
    val got = Similarity.annDupPairsAcross(
        embs.filter(col("vec_id") < split), embs.filter(col("vec_id") >= split),
        "vec_id", "embedding", threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val all = embs.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(v => math.floor(v.toDouble * 1000.0)).toArray)
    val exact = (for {
      (a, va) <- all if a < split
      (b, vb) <- all if b >= split
      dot = va.zip(vb).map { case (x, y) => x * y }.sum
      na = va.map(x => x * x).sum
      nb = vb.map(x => x * x).sum
      if na > 0 && nb > 0 && dot / math.sqrt(na * nb) >= 0.4
    } yield (a, b)).toSet
    assert(got == exact, s"got ${got.size} vs exact ${exact.size}")
    assert(exact.nonEmpty) // the fixture's planted near-dups cross the split
  }

  test("annDupPairsAcross stays a SUBSET of exact under partial recall") {
    // the one-sided guarantee that holds at ANY tables/bits setting:
    // exact verification means a candidate below threshold never emits
    // and a non-candidate never appears — so even a deliberately
    // low-recall setting (2 tables × 8 bits) yields only true pairs,
    // all cross-set
    val split = 100L
    val got = Similarity.annDupPairsAcross(
        embs.filter(col("vec_id") < split), embs.filter(col("vec_id") >= split),
        "vec_id", "embedding", threshold = 0.4, tables = 2, bits = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.forall { case (a, b, c) => a < split && b >= split && c >= 0.4 })
  }

  test("sharedNgramFraction scores cross-doc gram overlap per doc") {
    // n=2 grams: docs 1/2 share "a b" (half their grams); doc 3 is
    // disjoint (0.0); doc 4 is too short for any gram (0 over 0)
    val df = Seq(
      (1L, "a b c"), (2L, "a b d"), (3L, "x y z"), (4L, "w"))
      .toDF("doc_id", "text")
    val out = TextStats.sharedNgramFraction(df, "doc_id", "text", n = 2)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out(1L) == ((2L, 1L, 0.5)))
    assert(out(2L) == ((2L, 1L, 0.5)))
    assert(out(3L) == ((2L, 0L, 0.0)))
    assert(out(4L) == ((0L, 0L, 0.0)))
    // exact duplicates score 1.0 against each other
    val dup = Seq((1L, "p q r s"), (2L, "p q r s")).toDF("doc_id", "text")
    val fr = TextStats.sharedNgramFraction(dup, "doc_id", "text", n = 2)
      .select("shared_frac").collect().map(_.getDouble(0))
    assert(fr.forall(_ == 1.0))
  }

  test("dedupLinesWithin keeps first occurrence, short lines survive") {
    val df = Seq(
      (1L, "CALL TO ACTION\nbody text\nCALL TO ACTION\n--\n--"),
      (2L, "only line"))
      .toDF("doc_id", "text")
    val out = TextDedup.dedupLinesWithin(df, "doc_id", "text",
        minLineChars = 5)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    // 2nd CALL TO ACTION drops; both "--" survive (structural)
    assert(out(1L) == ((5L, 1L, "CALL TO ACTION\nbody text\n--\n--")))
    assert(out(2L) == ((1L, 0L, "only line")))
  }

  test("longRunContamination finds exactly the >= k+w-1 token runs") {
    // k=4, w=5 → run threshold 8 tokens. bench doc 100 plants an
    // 8-token sentence; corpus doc 1 embeds it verbatim (hit, 1 run),
    // doc 2 shares only the first 7 of its tokens (miss), doc 3 is
    // disjoint (miss), doc 4 repeats the planted run at two offsets
    // (still 1 DISTINCT shared 8-gram... plus the extended overlaps)
    val run8 = "the quick brown fox jumps over the dog"
    val bench = Seq((100L, s"HEAD $run8 TAIL")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, s"intro words $run8 outro"),
      (2L, "the quick brown fox jumps over the cat"),
      (3L, "completely unrelated text with eight tokens here ok"),
      (4L, run8))
      .toDF("doc_id", "text")
    val got = TextDedup.longRunContamination(
        corpus, bench, "doc_id", "text", k = 4, window = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 100L, 1L), (4L, 100L, 1L)))
  }

  test("longRunContamination equals the brute-force 8-gram join on the fixture") {
    // the winnowing-candidate path must be EXACT: same pairs, same
    // distinct-run counts as exploding every 8-gram on both sides
    val corpus = docs.filter(col("doc_id") % 7 =!= 0)
    val bench = docs.filter(col("doc_id") % 7 === 0)
    val got = TextDedup.longRunContamination(
      corpus, bench, "doc_id", "text", k = 4, window = 5)
    def grams(df: org.apache.spark.sql.DataFrame, out: String) = {
      val toks = col("_toks")
      val starts = when(size(toks) >= 8, sequence(lit(1), size(toks) - 7))
        .otherwise(array().cast("array<int>"))
      df.select(col("doc_id").as(out), split(col("text"), " ").as("_toks"))
        .select(col(out), explode(array_distinct(transform(starts,
          i => concat_ws(" ", (0 until 8).map(j =>
            element_at(toks, i + j)): _*)))).as("g"))
    }
    val brute = grams(corpus, "doc_id").join(grams(bench, "bench_id"), "g")
      .groupBy("doc_id", "bench_id").agg(count(lit(1)).as("n_shared_runs"))
    assert(rows(got) == rows(brute) && got.count() > 0)
  }

  test("bpePairStats weights pairs by corpus word frequency") {
    // "ab" appears 3× (2 in doc 1, 1 in doc 2) → pair "ab" count 3;
    // "aab" once → pairs "aa", "ab" → "ab" totals 4; single-char word
    // "x" contributes nothing
    val df = Seq((1L, "ab ab x"), (2L, "ab aab")).toDF("doc_id", "text")
    val got = TextStats.bpePairStats(df, "text", topK = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("ab" -> 4L, "aa" -> 1L))
    // the top-k cut is on the unique (count desc, pair asc) key
    val top1 = TextStats.bpePairStats(df, "text", topK = 1)
      .collect().map(_.getString(0)).toSeq
    assert(top1 == Seq("ab"))
  }

  test("coverageCut keeps the crossing member, excludes an exact-bound tail") {
    // weights 50,30,15,5 (total 100), p = 80/100: a and b reach exactly
    // 80 — c's cum_before is 80, NOT < 80, so c and d are cut (the
    // exact-boundary case a float predicate could flip)
    val df = Seq(("a", 50L), ("b", 30L), ("c", 15L), ("d", 5L))
      .toDF("id", "wt")
    val got = Sampling.coverageCut(df, Nil, "id", "wt", 80, 100)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(2), r.getLong(3), r.getInt(5)))).toMap
    assert(got == Map(
      "a" -> ((1L, 50L, 1)), "b" -> ((2L, 80L, 1)),
      "c" -> ((3L, 95L, 0)), "d" -> ((4L, 100L, 0))))
    // p just above the boundary pulls in the crossing member
    val got81 = Sampling.coverageCut(df, Nil, "id", "wt", 81, 100)
      .filter(col("is_kept") === 1).collect().map(_.getString(0)).toSet
    assert(got81 == Set("a", "b", "c"))
    // per-key cut partitions independently; weight ties order by id
    val keyed = Seq(("x", "a", 10L), ("x", "b", 10L), ("y", "c", 7L))
      .toDF("k", "id", "wt")
    val gotK = Sampling.coverageCut(keyed, Seq("k"), "id", "wt", 1, 2)
      .filter(col("is_kept") === 1).collect().map(_.getString(1)).toSet
    assert(gotK == Set("a", "c"))
  }

  test("reciprocalRankFusion blends truncated lists, absent docs score less") {
    // A ranks 1,2,3 = docs 1,2,3; B ranks 1,2,3 = docs 2,3,4.
    // fused: doc2 = 1/62+1/61 top, doc3 = 1/63+1/62, then the
    // single-list docs 1 (1/61) and 4 (1/63)
    val a = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("doc_id", "rank")
    val b = Seq((2L, 1L), (3L, 2L), (4L, 3L)).toDF("doc_id", "rank")
    val got = Retrieval.reciprocalRankFusion(Seq(a, b), "doc_id")
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(got.toSeq == Seq((2L, 2), (3L, 2), (1L, 1), (4L, 1)))
    val top2 = Retrieval.reciprocalRankFusion(Seq(a, b), "doc_id", topK = 2)
      .collect().map(_.getLong(0)).toSet
    assert(top2 == Set(2L, 3L))
    // identical ranks → identical score → id tie-break
    val tie = Retrieval.reciprocalRankFusion(
      Seq(Seq((9L, 1L), (7L, 2L)).toDF("doc_id", "rank"),
        Seq((7L, 1L), (9L, 2L)).toDF("doc_id", "rank")), "doc_id")
      .collect().map(_.getLong(0))
    assert(tie.toSeq == Seq(7L, 9L))
  }

  test("bpeApplyCounts: greedy leftmost merges, hierarchical, word-safe") {
    // "banana": an->A twice → b A A a: 6 chars → 4 symbols.
    // hierarchical: in->I then Ig->G: "singing" → s I g I g → s G G: 3.
    // word boundary: "ba nana" must NOT merge across the space
    val df = Seq(
      (1L, "banana"), (2L, "singing"), (3L, "ba nana"))
      .toDF("doc_id", "text")
    val anOnly = TextStats.bpeApplyCounts(df, "doc_id", "text",
        Seq("an" -> "\uE000"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(anOnly(1L) == ((6L, 4L)))
    assert(anOnly(3L) == ((6L, 5L))) // only "nana"'s 'an' merges
    val hier = TextStats.bpeApplyCounts(df, "doc_id", "text",
        Seq("in" -> "\uE001", "\uE001g" -> "\uE002"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(hier(2L) == 3L) // s + ing + ing
    // leftmost-first on overlap: "aaa" with aa->X gives X a (2), not 1
    val ov = TextStats.bpeApplyCounts(
        Seq((1L, "aaa")).toDF("doc_id", "text"), "doc_id", "text",
        Seq("aa" -> "\uE005"))
      .collect().head
    assert(ov.getLong(2) == 2L)
  }

  test("bpeTrain: learned merges replay to the trainer's own statistics") {
    val merges = TextStats.bpeTrain(docs, "text", 6).collect()
    assert(merges.length == 6)
    // the first iteration IS bpePairStats: same pick, same count
    val top1 = TextStats.bpePairStats(docs, "text", topK = 1).collect().head
    assert(merges(0).getString(3) == top1.getString(0))
    assert(merges(0).getLong(4) == top1.getLong(1))
    // BPE's max pair count never increases across steps (a new pair's
    // count is bounded by the just-merged symbol's occurrence count)
    val counts = merges.map(_.getLong(4)).toSeq
    assert(counts == counts.sorted(Ordering[Long].reverse))
    // each merge shrinks the corpus by at most its pair count (strictly
    // fewer when a self-pair run overlaps itself), never grows it
    val initialUnits = docs
      .agg(sum(length(regexp_replace(col("text"), " ", "")).cast("long")))
      .collect().head.getLong(0)
    val units = initialUnits +: merges.map(_.getLong(5)).toSeq
    units.sliding(2).zip(counts.iterator).foreach { case (Seq(a, b), c) =>
      assert(b < a && a - b <= c, s"units $a -> $b vs pair count $c")
    }
    // REPLAY LAW: express the learned merges through placeholder chars
    // (each symbol = one char, so string merges are isomorphic to the
    // trainer's symbol-array fold) and apply with bpeApplyCounts — the
    // corpus token total must equal the trainer's final units_after
    var ph = Map.empty[String, String].withDefault(identity)
    val phMerges = Seq.newBuilder[(String, String)]
    merges.zipWithIndex.foreach { case (m, i) =>
      val u = (0xE100 + i).toChar.toString
      phMerges += ((ph(m.getString(1)) + ph(m.getString(2))) -> u)
      ph += (m.getString(3) -> u)
    }
    val replayed = TextStats.bpeApplyCounts(
        docs, "doc_id", "text", phMerges.result())
      .agg(sum(col("n_units_bpe"))).collect().head.getLong(0)
    assert(replayed == units.last)
  }

  test("principalComponent recovers a planted dominant direction") {
    // variance overwhelmingly along axis 1, slight tilt into axis 2;
    // axis 3 is noise-free zero — the direction must load on axis 1,
    // barely on 2, exactly 0 on 3
    val df = Seq(
      (1L, Array(10.0f, 1.0f, 0.0f)),
      (2L, Array(-10.0f, -1.0f, 0.0f)),
      (3L, Array(8.0f, 0.9f, 0.0f)),
      (4L, Array(-8.0f, -0.8f, 0.0f)),
      (5L, Array(0.2f, 0.1f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.principalComponent(df, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(math.abs(got(1L)._2) > 0.99)
    assert(math.abs(got(2L)._2) < 0.2)
    assert(got(3L)._1 == 0L && got(3L)._2 == 0.0)
    // bit-deterministic across runs
    val again = Similarity.principalComponent(df, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == got.map { case (j, (c, _)) => j -> c })
  }

  test("principalComponent matches a float power-iteration reference") {
    // the integer-rescaled loop must land on the same direction a
    // conventional normalized double iteration finds on the fixture
    val vecs = embs.select("embedding").collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))
    val d = vecs.head.length
    val n = vecs.length.toDouble
    val q = vecs.map(_.map(x => math.floor(x * 1000.0)))
    val mean = Array.tabulate(d)(j => q.map(_(j)).sum / n)
    val a = Array.tabulate(d, d)((j, k) =>
      q.map(v => (v(j) - mean(j)) * (v(k) - mean(k))).sum)
    var v = Array.fill(d)(1.0)
    for (_ <- 1 to 300) {
      val w = Array.tabulate(d)(j => (0 until d).map(k => a(j)(k) * v(k)).sum)
      val nrm = math.sqrt(w.map(x => x * x).sum)
      v = w.map(_ / nrm)
    }
    val got = Similarity.principalComponent(embs, "vec_id", "embedding")
      .collect().sortBy(_.getLong(0)).map(_.getDouble(2))
    val cos = math.abs(
      got.zip(v).map { case (x, y) => x * y }.sum /
        math.sqrt(got.map(x => x * x).sum))
    assert(cos > 0.9999, s"cosine to reference was $cos")
  }

  test("removeTopComponent: whitened vectors are EXACTLY orthogonal to V") {
    // sum_j w_j*V_j = |V|^2(q.V) - (q.V)|V|^2 = 0 is an integer
    // identity — assert it with zero tolerance on the fixture
    val white = Similarity.removeTopComponent(embs, "vec_id", "embedding")
    val v = Similarity.principalComponent(embs, "vec_id", "embedding")
      .collect().sortBy(_.getLong(0)).map(_.getLong(1))
    // w·V overflows long in-plan — verify a sample in BigInt instead
    white.limit(100).collect().foreach { r =>
      val w = r.getSeq[Long](1)
      val dot = w.zip(v).map { case (a, b) => BigInt(a) * b }.sum
      assert(dot == 0, s"vec ${r.getLong(0)} not orthogonal: $dot")
    }
    assert(white.count() == embs.count())
  }

  test("dropBoilerplateLines is lossless when no line reaches minDocs") {
    // with the df threshold above the corpus size nothing is hot, so
    // reassembly must reproduce every document byte-for-byte — the
    // split/flag/collect pipeline adds or loses nothing
    val docs500 = docs.select(col("doc_id"), col("text"))
    val out = TextDedup.dropBoilerplateLines(
      docs500, "doc_id", "text", minDocs = 1000000L)
    val diff = out.join(docs500, "doc_id")
      .filter(col("clean_text") =!= col("text") || col("n_dropped") =!= 0)
      .count()
    assert(diff == 0L)
  }

  test("semanticContamination flags planted near-bench vectors only") {
    // bench = two orthogonal-ish vectors; corpus plants one near-copy of
    // bench 0 (contaminated), one anti-parallel (cos = -1, clean), one
    // orthogonal (clean)
    val bench = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val corpus = Seq(
      (10L, Array(0.99f, 0.05f, 0.0f)), // ~bench 0
      (11L, Array(-1.0f, 0.0f, 0.0f)), // anti-parallel
      (12L, Array(0.0f, 0.0f, 1.0f))) // orthogonal
      .toDF("vec_id", "embedding")
    val out = Similarity.semanticContamination(
        corpus, "vec_id", "embedding", bench, "vec_id", "embedding",
        threshold = 0.9)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getInt(2))))
      .toMap
    assert(out.keySet == Set(10L, 11L, 12L)) // one row per corpus vector
    assert(out(10L)._2 == 1 && out(10L)._1 > 0.99)
    assert(out(11L)._2 == 0 && out(11L)._1 <= 0.0) // max is vs bench 1 (0.0)
    assert(out(12L)._2 == 0 && out(12L)._1 == 0.0)
  }

  test("grouped hashSplit keeps every group in exactly one split") {
    // the q173 contract: splitting on the GROUP key means no source
    // ever straddles train/val/test — the leakage-safe split
    val out = Sampling.hashSplit(
      docs.select(col("doc_id"), col("source")), "source",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val perSource = out.groupBy("source")
      .agg(countDistinct(col("split")).as("n"))
      .collect().map(_.getLong(1))
    assert(perSource.nonEmpty && perSource.forall(_ == 1L))
    // and the split frame covers every row exactly once
    assert(out.count() == docs.count())
  }

  test("embeddingDupPairs finds the planted duplicate pair") {
    val df = Seq(
      (0L, Array(0.5f, 0.5f, 0.1f)),
      (1L, Array(0.5f, 0.5f, 0.1f)),
      (2L, Array(-0.5f, 0.4f, -0.3f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.embeddingDupPairs(df, "vec_id", "embedding", 0.95)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSet == Set((0L, 1L)))
  }

  // ---- text stats --------------------------------------------------------

  test("tokenStats counts tokens and distincts") {
    val df = Seq((1L, "a b a c", "en", 7L)).toDF("doc_id", "text", "lang", "n_chars")
    val r = TextStats.tokenStats(df, "doc_id", "text", "lang", "n_chars").collect().head
    assert(r.getAs[Long]("n_tokens") == 4L)
    assert(r.getAs[Long]("n_distinct") == 3L)
    assert(r.getAs[Double]("ttr") == 0.75)
  }

  test("langId picks argmax language, und on no hits") {
    val lex = Seq(("bonjour", "fr"), ("hello", "en"), ("world", "en"))
      .toDF("tok", "lex_lang")
    val df = Seq(
      (1L, "hello world bonjour"), (2L, "bonjour bonjour hello"), (3L, "zzz"))
      .toDF("doc_id", "text")
    val out = TextStats.langId(df, "doc_id", "text", lex).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "en", 2L -> "fr", 3L -> "und"))
  }

  test("fingerprints: shared k-token run ⇒ shared fingerprint") {
    val shared = "one two three four five six seven eight"
    val df = Seq(
      (1L, s"intro $shared tail"), (2L, s"other prefix words $shared"),
      (3L, "totally unrelated content stream here now ok yes"))
      .toDF("doc_id", "text")
    val fp = TextStats.fingerprints(df, "doc_id", "text")
    val byDoc = fp.collect().groupBy(_.getLong(0))
      .map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
    assert((byDoc(1L) intersect byDoc(2L)).nonEmpty)
    assert((byDoc(1L) intersect byDoc(3L)).isEmpty)
  }

  // ---- sessionize --------------------------------------------------------

  test("sessionize splits on gap > threshold per key") {
    val df = Seq(
      (1L, "2024-01-01 00:00:00", 1L),
      (1L, "2024-01-01 00:10:00", 2L), // same session (10 min)
      (1L, "2024-01-01 01:00:00", 3L), // new session (50 min gap)
      (2L, "2024-01-01 00:00:00", 4L)) // separate key
      .toDF("user_id", "ts_s", "event_id")
      .withColumn("ts", to_timestamp(col("ts_s")))
    val out = Sessionize.label(df, "user_id", "ts", tieBreak = Seq("event_id"))
      .select("event_id", "session_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 1L))
  }

  // ---- multimodal --------------------------------------------------------

  test("multimodal ingest: payload bytes + typed metadata struct") {
    val df = Seq((1L, "hello")).toDF("doc_id", "text")
    val out = Multimodal.ingest(df, "text", "image")
    assert(out.schema("media_bytes").dataType.typeName == "binary")
    val meta = out.select("media_meta.*").collect().head
    assert(meta.getAs[String]("modality") == "image")
    assert(meta.getAs[Long]("n_bytes") == 5L)
    assert(meta.getAs[String]("sha256").length == 64)
  }

  test("decimateWavBatched truncated-averages sample boxes, re-rates header") {
    // doc 1: 10 samples → factor 4 → boxes (0..3)(4..7)(8..9); compare
    // against the generative formula folded the same way
    val specs = Seq((1L, 10)).toDF("doc_id", "n_spec")
    val wav = Multimodal.encodeWavBatched(specs, "doc_id", "n_spec",
      sampleRate = 16000)
    val dec = Multimodal.decimateWavBatched(wav, "doc_id", factor = 4)
    val rate = Multimodal.audioMeta(dec).select("sample_rate")
      .head.getInt(0)
    assert(rate == 4000)
    val stats = Multimodal.audioStatsBatched(dec, "doc_id").collect().head
    val smp = (0 until 10).map(Multimodal.syntheticPcm16(1L, _).toLong)
    val boxes = smp.grouped(4).map(g => g.sum / g.size).toSeq
    assert(stats.n_samples == 3L)
    assert(stats.mean_square == boxes.map(v => v * v).sum / 3)
    assert(stats.peak == boxes.map(math.abs).max)
    // junk payloads are dropped, not poisoned
    val junk = Seq((2L, Array[Byte](9, 9, 9))).toDF("doc_id", "media_bytes")
    assert(Multimodal.decimateWavBatched(junk, "doc_id", 4).count() == 0)
  }

  test("encodeWavBatched rejects negative and oversized sample counts") {
    // a negative count would NegativeArraySizeException deep in the task
    // and an oversized one would overflow 44 + 2n — both fail loudly
    val neg = Seq((1L, -4)).toDF("doc_id", "n_spec")
    val e1 = intercept[Exception] {
      Multimodal.encodeWavBatched(neg, "doc_id", "n_spec").collect()
    }
    assert(e1.toString.contains("n_samples") ||
      Option(e1.getCause).exists(_.toString.contains("n_samples")))
    val big = Seq((2L, Int.MaxValue)).toDF("doc_id", "n_spec")
    val e2 = intercept[Exception] {
      Multimodal.encodeWavBatched(big, "doc_id", "n_spec").collect()
    }
    assert(e2.toString.contains("n_samples") ||
      Option(e2.getCause).exists(_.toString.contains("n_samples")))
  }

  test("animated GIF round-trip: frame counts and rasters survive the codec") {
    val specs = Seq((7L, 4)).toDF("doc_id", "nf")
    val gifs = Multimodal.encodeGifAnimBatched(specs, "doc_id", "nf", 16, 16)
    val frames = Multimodal.decodeGifFramesBatched(gifs, "doc_id")
      .collect().sortBy(_.frame_idx)
    assert(frames.length == 4 && frames.forall(_.n_frames == 4L))
    frames.foreach { fr =>
      val expected = (for {
        y <- 0 until 16; x <- 0 until 16
        if Multimodal.syntheticFrameWhite(7L, fr.frame_idx, x, y)
      } yield 1).sum.toLong
      assert(fr.white_count == expected, s"frame ${fr.frame_idx}")
    }
    // junk payloads yield no rows rather than failing the batch
    val junk = Seq((8L, Array[Byte](1, 2))).toDF("doc_id", "media_bytes")
    assert(Multimodal.decodeGifFramesBatched(junk, "doc_id").count() == 0)
  }

  test("imageMeta parses real PNG/BMP/GIF headers; audioMeta parses WAV") {
    def beBytes(v: Long, n: Int): Array[Byte] =
      (0 until n).map(i => ((v >> (8 * (n - 1 - i))) & 0xff).toByte).toArray
    def leBytes(v: Long, n: Int): Array[Byte] =
      (0 until n).map(i => ((v >> (8 * i)) & 0xff).toByte).toArray
    // PNG: signature + IHDR length + "IHDR" + width/height (big-endian)
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
      beBytes(13, 4) ++ "IHDR".getBytes ++ beBytes(640, 4) ++ beBytes(480, 4) ++
      Array[Byte](8, 6, 0, 0, 0)
    // BMP: "BM" + 12 filler bytes + header size then width/height (LE) at 19/23
    val bmp = "BM".getBytes ++ Array.fill[Byte](12)(0) ++ leBytes(40, 4) ++
      leBytes(800, 4) ++ leBytes(600, 4)
    // GIF: "GIF89a" + logical screen w/h (LE)
    val gif = "GIF89a".getBytes ++ leBytes(320, 2) ++ leBytes(200, 2)
    // WAV: "RIFF" + size + "WAVE" + "fmt " + chunk size + PCM + channels,
    // sample rate, byte rate, block align, bits per sample (all LE)
    val wav = "RIFF".getBytes ++ leBytes(100, 4) ++ "WAVEfmt ".getBytes ++
      leBytes(16, 4) ++ leBytes(1, 2) ++ leBytes(2, 2) ++ leBytes(44100, 4) ++
      leBytes(176400, 4) ++ leBytes(4, 2) ++ leBytes(16, 2)
    val junk = "not a media file".getBytes
    // top-down BMP: negative biHeight (two's complement) → magnitude
    val bmpTopDown = "BM".getBytes ++ Array.fill[Byte](12)(0) ++ leBytes(40, 4) ++
      leBytes(800, 4) ++ leBytes(0xFFFFFFFFL - 600 + 1, 4)
    // 'GIF' prefix without the version magic must NOT classify as gif
    val gifLookalike = "GIF export failed".getBytes
    val df = Seq((1L, png), (2L, bmp), (3L, gif), (4L, wav), (5L, junk),
      (6L, bmpTopDown), (7L, gifLookalike))
      .toDF("doc_id", "media_bytes")
    val img = Multimodal.imageMeta(df).select("doc_id", "image_format", "width", "height")
      .collect().map(r => r.getLong(0) ->
        ((Option(r.getString(1)), Option(r.get(2)), Option(r.get(3))))).toMap
    assert(img(1L) == ((Some("png"), Some(640), Some(480))))
    assert(img(2L) == ((Some("bmp"), Some(800), Some(600))))
    assert(img(3L) == ((Some("gif"), Some(320), Some(200))))
    assert(img(5L) == ((None, None, None)))
    assert(img(6L) == ((Some("bmp"), Some(800), Some(600))))
    assert(img(7L) == ((None, None, None)))
    val aud = Multimodal.audioMeta(df)
      .select("doc_id", "audio_format", "n_channels", "sample_rate", "bits_per_sample")
      .collect().map(r => r.getLong(0) ->
        ((Option(r.getString(1)), Option(r.get(2)), Option(r.get(3)), Option(r.get(4))))).toMap
    assert(aud(4L) == ((Some("wav"), Some(2), Some(44100), Some(16))))
    assert(aud(1L) == ((None, None, None, None)))
  }

  test("multimodal frame sampling explodes stride-spaced frames") {
    val df = Multimodal.fakeDecodeMeta(
      Multimodal.ingest(Seq((1L, "x" * 100)).toDF("doc_id", "text"), "text", "video"))
    val nFrames = df.select("fake_n_frames").head().getInt(0)
    val sampled = Multimodal.sampleFrames(df, stride = 3)
      .select("frame_idx").collect().map(_.getInt(0)).toSeq
    assert(sampled == (0 until nFrames by 3))
  }

  test("batched decode: bounded batches, bytes intact, dims match meta") {
    val df = Multimodal.ingest(
      spark.range(0, 200).selectExpr("id AS doc_id", "repeat('x', CAST(id AS INT) + 1) AS text"),
      "text", "image")
    val batchSizes = spark.sparkContext.collectionAccumulator[Int]("batches")
    val decoded = Multimodal.decodeImagesBatched(df, "doc_id", batchSize = 16,
      codec = { batch =>
        batchSizes.add(batch.size)
        Multimodal.stubDecodeBatch(batch)
      }).collect()
    assert(decoded.length == 200)
    // batch shape: no call saw more than batchSize rows
    assert(batchSizes.value.size() > 1)
    batchSizes.value.forEach(s => assert(s <= 16))
    // dims agree with the column-expression stub (same formula)
    val viaMeta = Multimodal.fakeDecodeMeta(df)
      .selectExpr("doc_id", "fake_width", "fake_height").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    decoded.foreach(d => assert(viaMeta(d.doc_id) == ((d.width, d.height))))
    // checksum proves payload bytes crossed the boundary intact:
    // doc_id 0 is "x" → checksum = 'x'.toLong
    assert(decoded.find(_.doc_id == 0L).get.checksum == 'x'.toLong)
  }

  test("real imageio codec: encode→decode round-trips dims and pixels") {
    val specs = spark.range(0, 40).selectExpr(
      "id AS doc_id",
      "CAST(id % 23 + 5 AS INT) AS w",
      "CAST(id % 17 + 5 AS INT) AS h")
    val encoded = Multimodal.encodeImagesBatched(specs, "doc_id", "w", "h")
    // payloads are REAL PNGs: the byte-expression header parse agrees
    val hdr = Multimodal.imageMeta(encoded)
      .select("doc_id", "image_format", "width", "height").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    // default codec (javax.imageio) decodes true dims + pixel checksum
    val dec = Multimodal.decodeImagesBatched(encoded, "doc_id").collect()
    assert(dec.length == 40)
    dec.foreach { d =>
      val expW = (d.doc_id % 23 + 5).toInt
      val expH = (d.doc_id % 17 + 5).toInt
      assert((d.width, d.height) == ((expW, expH)))
      assert(hdr(d.doc_id) == (("png", expW, expH)))
      // decoded pixel VALUES match the generative formula — proves the
      // codec really decompressed the raster, not just read the header
      var sum = 0L
      var y = 0
      while (y < expH) {
        var x = 0
        while (x < expW) {
          sum = sum * 31 + Multimodal.syntheticRgb(d.doc_id, x, y); x += 1
        }
        y += 1
      }
      assert(d.checksum == sum)
    }
    // undecodable payload → sentinel row, not a poisoned batch
    import spark.implicits._
    val junk = Seq((9L, "not an image".getBytes)).toDF("doc_id", "media_bytes")
    val j = Multimodal.decodeImagesBatched(junk, "doc_id").collect().head
    assert((j.width, j.height, j.checksum) == ((-1, -1, 0L)))
  }

  test("multimodal size buckets are log2-spaced") {
    val df = Seq((1L, "ab"), (2L, "x" * 100), (3L, "y" * 5000))
      .toDF("doc_id", "text")
    val out = Multimodal.sizeBucket(Multimodal.ingest(df, "text", "image"))
      .select("doc_id", "size_bucket").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out == Map(1L -> 1, 2L -> 7, 3L -> 13))
  }

  // ---- contamination / repetition / shuffle / representatives ------------

  test("contamination counts benchmark-gram hits per corpus doc") {
    val corpus = Seq(
      (1L, "a b c d e f"),   // grams: "a b c", "b c d", "c d e", "d e f"
      (2L, "x y z w v u")).toDF("doc_id", "text")
    val bench = Seq((10L, "b c d e q r")).toDF("doc_id", "text")
    // bench grams: {b c d, c d e, d e q, e q r} → doc1 hits 2 of 4
    val out = TextDedup.contamination(corpus, bench, "doc_id", "text", n = 3)
    assert(rows(out.select("doc_id", "n_grams", "n_hit")) ==
      Set(Seq(1L, 4L, 2L), Seq(2L, 4L, 0L)))
    // shuffle-join fallback is output-identical to the broadcast path
    val shuffled = TextDedup.contamination(
      corpus, bench, "doc_id", "text", n = 3, broadcastBench = false)
    assert(rows(out) == rows(shuffled))
  }

  test("repetitionStats: top-token share, dup bigrams, symbol chars in-row") {
    val df = Seq(
      (1L, "spam spam spam eggs"),  // top=3/4; bigrams: [spam spam]×2,[spam eggs] → 1 dup of 3
      (2L, "one two three!?")).toDF("doc_id", "text")
    val out = rows(TextStats.repetitionStats(df, "doc_id", "text")
      .select("doc_id", "n_tokens", "top_tok_count", "n_bigrams",
        "n_dup_bigrams", "n_symbol_chars"))
    assert(out == Set(
      Seq(1L, 4L, 3L, 3L, 1L, 0L),
      Seq(2L, 3L, 1L, 2L, 0L, 2L)))
  }

  test("deterministicShuffle: dense permutation, shard-count invariant, seed-keyed") {
    val df = docs.select("doc_id")
    val n = df.count()
    val p1 = Sampling.deterministicShuffle(df, "doc_id", "s1", shards = 7)
    // dense 0..N-1: every position exactly once
    assert(p1.select("shuffle_pos").distinct().count() == n)
    assert(rows(p1.agg(min("shuffle_pos"), max("shuffle_pos"))) ==
      Set(Seq(0L, n - 1)))
    // positions are a pure function of (seed, id) — NOT of the shard count
    val p64 = Sampling.deterministicShuffle(df, "doc_id", "s1", shards = 64)
    assert(rows(p1) == rows(p64))
    // a different seed is a different permutation (overwhelmingly)
    val p2 = Sampling.deterministicShuffle(df, "doc_id", "s2", shards = 7)
    assert(rows(p1) != rows(p2))
  }

  test("sharedShinglePairs: overlap counts and df-cap pruning") {
    val df = Seq(
      (1L, "a b c d"), (2L, "b c d e"), (3L, "p q r s"), (4L, "q r s t"))
      .toDF("doc_id", "text")
    val sh = TextDedup.shingles(df, "doc_id", "text", n = 3)
    val pairs = TextDedup.sharedShinglePairs(sh, "doc_id",
      minShared = 1, maxShingleDocs = Int.MaxValue)
    assert(rows(pairs) == Set(Seq(1L, 2L, 1L), Seq(3L, 4L, 1L)))
    // df-cap 0 prunes every shingle → no candidate pairs
    assert(TextDedup.sharedShinglePairs(sh, "doc_id", 1, 0).count() == 0)
  }

  test("knLogProbAgainst: hand-computed Kneser-Ney cases") {
    // model "a b a c": c12 = {ab:1, ba:1, ac:1}; c(a)=2, c(b)=1;
    // N1+(a·)=2, N1+(b·)=1; N1+(·a)=N1+(·b)=N1+(·c)=1; T=3, V=3
    // → Pcont(seen w) = (1+1)/6 = 1/3, Pcont(unseen w) = 1/6
    val model = Seq((1L, "a b a c")).toDF("doc_id", "text")
    val ev = Seq(
      (1L, "a b"), // (max(1−.75,0) + .75·2·(1/3))/2 = 0.375
      (2L, "x q"), // unseen context x → Pcont(q) = 1/6
      (3L, "b x")) // (0 + .75·1·(1/6))/1 = 0.125
      .toDF("doc_id", "text")
    val out = TextStats.knLogProbAgainst(model, ev, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(math.abs(out(1L) - math.log(0.375)) < 1e-6)
    assert(math.abs(out(2L) - math.log(1.0 / 6)) < 1e-6)
    assert(math.abs(out(3L) - math.log(0.125)) < 1e-6)
    // the fixture model must rank in-model text above noise on average
    // (checked by the driver oracle at corpus level; here: all probs
    // are genuine probabilities)
    assert(out.values.forall(_ < 0.0))
  }

  test("Attributes: taggers annotate, mixer's FIRST matching rule wins") {
    import Attributes.MixRule
    val df = Seq(
      (1L, ""), // → empty
      (2L, "x@example.com a b"), // pii AND too_short → pii (first)
      (3L, "b c d e"), // → too_short
      (4L, (1 to 25).map(i => s"w$i").mkString(" ")), // → low_stopword
      (5L, "the a " + (1 to 23).map(i => s"w$i").mkString(" ")), // kept
      (6L, "the z z z z z " + (1 to 14).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text") // 6: 5 z of 20 = 2500 ≥ 1600 → repetitive
    val rules = Seq(
      MixRule("empty", col("attrs.n_tokens") === 0L),
      MixRule("pii", col("attrs.n_pii") > 0L),
      MixRule("too_short", col("attrs.n_tokens") < 20L),
      MixRule("low_stopword", col("attrs.stop_frac4") < 200L),
      MixRule("repetitive", col("attrs.max_share4") >= 1600L))
    val out = Attributes.mix(Attributes.tagDocs(df, "doc_id", "text"), rules)
      .select(col("doc_id"), col("drop_reason"), col("is_kept"),
        col("attrs.n_tokens"), col("attrs.stop_frac4"))
      .collect().map(r => r.getLong(0) ->
        ((Option(r.getString(1)), r.getLong(2)))).toMap
    assert(out == Map(
      1L -> ((Some("empty"), 0L)), 2L -> ((Some("pii"), 0L)),
      3L -> ((Some("too_short"), 0L)), 4L -> ((Some("low_stopword"), 0L)),
      5L -> ((None, 1L)), 6L -> ((Some("repetitive"), 0L))))
    // exact attribute arithmetic: doc 5 has 2 stopwords of 25 tokens
    val a5 = Attributes.tagDocs(df, "doc_id", "text")
      .filter(col("doc_id") === 5L).select("attrs.*").head()
    assert(a5.getAs[Long]("n_tokens") == 25L)
    assert(a5.getAs[Long]("stop_frac4") == 10000L * 2 / 25)
    // empty doc: null fracs, not an error
    val a1 = Attributes.tagDocs(df, "doc_id", "text")
      .filter(col("doc_id") === 1L).select("attrs.*").head()
    assert(a1.getAs[Long]("n_tokens") == 0L && a1.isNullAt(
      a1.fieldIndex("stop_frac4")))
  }

  test("trainLogistic learns the stopword gate well past the majority class") {
    // the q225/q226 configuration: distill the stopword-density label
    // into hashed-BoW logistic weights. Floors measured with margin:
    // fixture accuracy 0.814 vs majority 0.51 (uncentered features
    // plateau AT the majority — the centering is what buys the gap)
    val toks = filter(split(col("text"), " "), t => t =!= "")
    val label = lit(10000L) * size(filter(toks, t => t.isin("the", "a"))) >=
      lit(640L) * size(toks)
    val scored = Classifier.scoreLogistic(docs, "doc_id", "text", label)
      .select(col("y"), col("pred")).collect()
    val n = scored.length.toDouble
    val acc = scored.count(r => r.getLong(0) == r.getLong(1)) / n
    val majority = math.max(
      scored.count(_.getLong(0) == 1L), scored.count(_.getLong(0) == 0L)) / n
    assert(majority < 0.65, s"label degenerated: majority=$majority")
    assert(acc >= majority + 0.15,
      s"no real learning: acc=$acc majority=$majority")
    assert(acc >= 0.75, s"accuracy regressed: $acc")
  }

  test("trainLogistic trajectory is partitioning-invariant") {
    // every step is exact integer arithmetic over order-free sums, so
    // the learned trajectory cannot depend on how the corpus is split
    val toks = filter(split(col("text"), " "), t => t =!= "")
    val label = lit(10000L) * size(filter(toks, t => t.isin("the", "a"))) >=
      lit(640L) * size(toks)
    val t1 = Classifier.trainLogistic(
      docs, "doc_id", "text", label, nBuckets = 16, steps = 3)
    val t7 = Classifier.trainLogistic(
      docs.repartition(7), "doc_id", "text", label, nBuckets = 16, steps = 3)
    assert(rows(t1) == rows(t7))
    assert(t1.count() == 3L * 17L) // steps × (buckets + bias)
  }

  test("scoreRowwise is bit-identical to the grouped scorer") {
    // the streaming deployment path (q227): in-row featurization +
    // literal weights must reproduce scoreLogistic EXACTLY — same
    // tokenization, same integer counts, same centered arithmetic
    val toks = filter(split(col("text"), " "), t => t =!= "")
    val label = lit(10000L) * size(filter(toks, t => t.isin("the", "a"))) >=
      lit(640L) * size(toks)
    val model = Classifier.fitLogistic(
      docs, "doc_id", "text", label, nBuckets = 16, steps = 3)
    val grouped = Classifier.scoreLogistic(
      docs, "doc_id", "text", label, nBuckets = 16, steps = 3)
    val rowwise = Classifier.scoreRowwise(docs, "doc_id", "text", label, model)
    assert(rows(rowwise) == rows(grouped))
  }

  test("scoreLogistic: sigmoid stays in [0, S_W] and pred matches its half") {
    val toks = filter(split(col("text"), " "), t => t =!= "")
    val label = lit(10000L) * size(filter(toks, t => t.isin("the", "a"))) >=
      lit(640L) * size(toks)
    val bad = Classifier.scoreLogistic(
        docs, "doc_id", "text", label, nBuckets = 16, steps = 2)
      .filter(col("score6") < 0 || col("score6") > 1000000L ||
        (col("pred") === 1L) =!= (col("score6") >= 500000L))
      .count()
    assert(bad == 0L)
  }

  test("naiveBayesModel: hand-checked Laplace-smoothed log-probs") {
    // class a: "x x y" (n_a=3), class b: "z" (n_b=1); V = 3
    val docs = Seq((1L, "x x y", "a"), (2L, "z", "b"))
      .toDF("doc_id", "text", "lang")
    val m = Classifier.naiveBayesModel(docs, "doc_id", "text", "lang")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    def exp(num: Long, den: Long) =
      BigDecimal(math.log(num.toDouble / den.toDouble))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(m(("a", "x")).getAs[Long]("token_count") == 2L)
    assert(m(("a", "x")).getAs[Double]("logp") == exp(3, 6)) // (2+1)/(3+3)
    assert(m(("a", "y")).getAs[Double]("logp") == exp(2, 6))
    assert(m(("b", "z")).getAs[Double]("logp") == exp(2, 4)) // (1+1)/(1+3)
    assert(m.size == 3) // only observed (class, token) pairs
  }

  test("naiveBayesScore: separable classes classify correctly; " +
    "empty docs fall back to the prior argmax") {
    val docs = Seq(
      (1L, "cat cat dog", "pet"), (2L, "cat dog dog", "pet"),
      (3L, "stock bond", "fin"), (4L, "bond bond stock stock", "fin"),
      (5L, "cat bond", "pet"), // mixed: token evidence must decide
      (6L, "", "fin")) // empty: priors only → 'fin'? pet has 3 docs
      .toDF("doc_id", "text", "lang")
    val out = Classifier.naiveBayesScore(docs, "doc_id", "text", "lang")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out.size == 6)
    assert(out(1L).getAs[String]("pred") == "pet")
    assert(out(2L).getAs[String]("pred") == "pet")
    assert(out(3L).getAs[String]("pred") == "fin")
    assert(out(4L).getAs[String]("pred") == "fin")
    assert(out(1L).getAs[Int]("is_correct") == 1)
    // empty doc: prior argmax = 'pet' (3 docs vs 3? no: pet={1,2,5}=3,
    // fin={3,4,6}=3 → tie → lexicographically smallest class 'fin')
    assert(out(6L).getAs[String]("pred") == "fin")
    assert(out(6L).getAs[Int]("is_correct") == 1)
  }

  test("naiveBayesScore is partitioning-invariant") {
    val docs = (1L to 60L).map { i =>
      val l = if (i % 3 == 0) "a" else "b"
      (i, s"tok${i % 7} tok${i % 5} shared", l)
    }.toDF("doc_id", "text", "lang")
    val a = Classifier.naiveBayesScore(docs.repartition(1),
      "doc_id", "text", "lang")
    val b = Classifier.naiveBayesScore(docs.repartition(13),
      "doc_id", "text", "lang")
    assert(rows(a) == rows(b))
  }

  test("cdcChunks: chunks tile the document exactly") {
    val rnd = new scala.util.Random(42)
    val base = (1 to 2000).map(_ => (33 + rnd.nextInt(94)).toChar)
      .mkString
    val df = Seq((1L, base)).toDF("doc_id", "text")
    val ch = TextDedup.cdcChunks(df, "doc_id", "text")
      .orderBy("chunk_idx").collect()
    assert(ch.length > 5, s"expected multiple chunks, got ${ch.length}")
    // contiguous tiling from 1 to length
    assert(ch.head.getAs[Long]("chunk_start") == 1L)
    ch.sliding(2).foreach { case Array(a, b) =>
      assert(b.getAs[Long]("chunk_start") ==
        a.getAs[Long]("chunk_start") + a.getAs[Long]("chunk_len"))
    }
    assert(ch.map(_.getAs[Long]("chunk_len")).sum == base.length.toLong)
    // chunk hash is the substring's md5
    val c0 = ch.head
    val sub = base.substring(0, c0.getAs[Long]("chunk_len").toInt)
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(sub.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(c0.getAs[String]("chunk_md5") == md)
  }

  test("cdcChunks: boundaries survive an insertion (the CDC property)") {
    val rnd = new scala.util.Random(7)
    val base = (1 to 3000).map(_ => (33 + rnd.nextInt(94)).toChar)
      .mkString
    val edited = base.substring(0, 80) + "!!! an inserted paragraph " +
      base.substring(80)
    val df = Seq((1L, base), (2L, edited)).toDF("doc_id", "text")
    val ch = TextDedup.cdcChunks(df, "doc_id", "text").collect()
    val h1 = ch.filter(_.getLong(0) == 1L).map(_.getAs[String]("chunk_md5"))
    val h2 = ch.filter(_.getLong(0) == 2L).map(_.getAs[String]("chunk_md5"))
    val shared = h1.toSet.intersect(h2.toSet)
    // after the hash window resyncs past the edit, every later chunk
    // is identical — the overwhelming majority must be shared
    assert(shared.size >= h1.length / 2,
      s"only ${shared.size}/${h1.length} chunks survived the insert")
  }

  test("cdcChunks: short docs are one chunk, empty docs none, " +
    "oversized docs raise") {
    val df = Seq((1L, "tiny"), (2L, "")).toDF("doc_id", "text")
    val out = TextDedup.cdcChunks(df, "doc_id", "text").collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("chunk_len") == 4L)
    val big = Seq((1L, "x" * 101)).toDF("doc_id", "text")
    assert(intercept[Exception] {
      TextDedup.cdcChunks(big, "doc_id", "text", maxChars = 100)
        .collect()
    }.getMessage != null)
  }

  test("cdcDupPairs: edited twin found, unrelated doc not; " +
    "df-pruned boilerplate never pairs") {
    val rnd = new scala.util.Random(11)
    val base = (1 to 3000).map(_ => (33 + rnd.nextInt(94)).toChar)
      .mkString
    val edited = base.substring(0, 70) + " EDIT " + base.substring(70)
    val other = (1 to 3000).map(_ => (33 + rnd.nextInt(94)).toChar)
      .mkString
    val df = Seq((1L, base), (2L, edited), (3L, other))
      .toDF("doc_id", "text")
    val out = TextDedup.cdcDupPairs(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    assert(out.contains((1L, 2L)), "edited twin must pair")
    assert(!out.contains((1L, 3L)) && !out.contains((2L, 3L)))
    val p = out((1L, 2L))
    assert(p.getAs[Long]("n_shared_chunks") >= 2L)
    assert(p.getAs[Double]("overlap_a") > 0.5)
    // a chunk hash in every doc is dropped before pairing
    val boiler = "SHARED BOILERPLATE CHUNK CONTENT HERE ~~~ " * 3
    val many = (1L to 5L).map(i => (i, boiler)).toDF("doc_id", "text")
    assert(TextDedup.cdcDupPairs(many, "doc_id", "text",
      maxDocFreq = 3).count() == 0L)
  }

  test("clusterRepresentatives: best score per cluster wins, singletons kept") {
    val docsDf = Seq(
      (1L, 10L), (2L, 30L), (3L, 30L), (4L, 5L)).toDF("doc_id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val out = TextDedup.clusterRepresentatives(docsDf, pairs, "doc_id", "score")
    // cluster {1,2,3}: 2 and 3 tie on score → min id 2 kept; 4 singleton
    assert(rows(out.select("doc_id", "canonical_id", "is_kept")) == Set(
      Seq(1L, 1L, false), Seq(2L, 1L, true), Seq(3L, 1L, false),
      Seq(4L, 4L, true)))
  }

  // ---- TextDedup.winnowFingerprints ----

  /** Plain-Scala replay of the winnowing selection — k-gram polynomial
    * hashes, per-window min, rightmost tie, dedup — the ground truth
    * the operator must match exactly.
    */
  private def winnowRef(
      text: String, k: Int, w: Int): Set[(Long, Long)] = {
    val M = 2147483647L
    val pows = Iterator.iterate(1L)(p => (p * 257L) % M).take(k).toArray
    val codes = text.map(_.toLong).toArray
    val n = codes.length - k + 1
    if (n <= 0) return Set.empty
    val hs = (0 until n).map(i =>
      (0 until k).map(j => codes(i + j) * pows(j)).sum % M).toArray
    val nw = math.max(1, n - w + 1)
    (0 until nw).flatMap { t =>
      val end = math.min(t + w, n)
      var best = t
      (t until end).foreach(i => if (hs(i) <= hs(best)) best = i)
      Some(((best + 1).toLong, hs(best)))
    }.toSet
  }

  test("winnowFingerprints matches the plain-Scala replay exactly") {
    val texts = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "aaaaaaaaaaaa"), // max ties — exercises the rightmost rule
      (3L, "abcabcabcabc"),
      (4L, "abcd"), // exactly k chars: one k-gram, one window
      (5L, "abc")) // shorter than k: no fingerprints
    val df = texts.toDF("doc_id", "text")
    val out = TextDedup.winnowFingerprints(df, "doc_id", "text",
      k = 4, window = 3)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (id, rs) =>
        id -> rs.map(r => (r.getLong(1), r.getLong(2))).toSet
      }
    texts.foreach { case (id, tx) =>
      val ref = winnowRef(tx, 4, 3)
      assert(out.getOrElse(id, Set.empty) == ref, s"doc $id")
    }
  }

  test("winnowing guarantee: a shared substring of length >= w+k-1 " +
    "shares at least one fingerprint") {
    val shared = "common boilerplate sentence that both pages carry"
    val df = Seq(
      (1L, s"unique preamble one $shared and a different tail xyz"),
      (2L, s"totally other opening $shared closing words qqq"))
      .toDF("doc_id", "text")
    val out = TextDedup.winnowFingerprints(df, "doc_id", "text",
      k = 5, window = 4).collect()
      .groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(_.getLong(2)).toSet }
    assert((out(1L) intersect out(2L)).nonEmpty)
  }

  // ---- Similarity.hubness ----

  test("hubness counts kNN in-degree with zeros for anti-hubs") {
    // v1 is v2/v3's nearest; v2 wins every tie (lower id); v3 and v4
    // are never anyone's top-1 (coordinates exact in float32 so the
    // floor(v·1000) quantization keeps the ± symmetry)
    val df = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.875f, 0.125f)),
      (3L, Seq(0.875f, -0.125f)), (4L, Seq(-1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.hubness(df, "vec_id", "embedding", k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 2L, 2L -> 2L, 3L -> 0L, 4L -> 0L))
    // mean in-degree is k by construction
    assert(out.values.sum == 4L * 1L)
  }

  test("hubnessFromKnn accepts any candidate-fed neighbor frame") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val exact = Similarity.hubness(e, "vec_id", "embedding", k = 5)
    val cand = Similarity.lshCandidates(
      e, "vec_id", "embedding", lit(true), tables = 24, bits = 3)
    val ann = Similarity.hubnessFromKnn(e, "vec_id",
      Similarity.quantizedKnnFromCandidates(
        e, "vec_id", "embedding", cand, k = 5))
    // same rollup semantics; at recall 1.0 the int8-quantized ANN path
    // may still rank differently from the floor-1000 exact path, so
    // assert the invariants, not equality: total in-degree = N·k
    assert(ann.agg(sum(col("in_degree"))).head.getLong(0) ==
      exact.agg(sum(col("in_degree"))).head.getLong(0))
    assert(ann.count() == exact.count())
  }

  test("ANN-fed hubness equals the exact composition (recall 1.0)") {
    // q445's precondition at BOTH the spec SF and the driver's compare
    // SF (the q352/q163 playbook): at the 32 tables × 2 bits defaults
    // the LSH bucket self-join retrieves EVERY vector's true cosine
    // top-5 of the fixture embeddings, so the kNN frame — and
    // therefore the in-degree rollup, a pure function of it —
    // reproduces the exact operator bit-for-bit. Below recall 1.0 the
    // documented undercount law applies instead.
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val e = spark.read.parquet(s"/root/testdata/$sf/embeddings.parquet")
      val key = (df: org.apache.spark.sql.DataFrame) =>
        df.collect().map(_.toSeq).toSet
      val exactKnn = key(Similarity.bruteForceKnn(
        e, "vec_id", "embedding", lit(true), k = 5))
      val annKnn = key(Similarity.knnGraphAnn(
        e, "vec_id", "embedding", k = 5))
      assert(annKnn == exactKnn,
        s"$sf: kNN recall ${(annKnn intersect exactKnn).size}/" +
          s"${exactKnn.size} — the ANN feed's recall-1.0 " +
          "precondition broke")
      assert(key(Similarity.hubnessAnn(e, "vec_id", "embedding", k = 5))
          == key(Similarity.hubness(e, "vec_id", "embedding", k = 5)),
        s"$sf: ANN-fed hubness diverges from exact")
    }
  }

  test("auto-dialed ANN hubness (q483): the config derived at the 0.2 " +
    "neighbor-cosine floor holds kNN recall 1.0 per SF — byte-equal " +
    "to exact") {
    // the fixture's measured 5-NN cosine floor is 0.23/0.24/0.30 at
    // sf0.001/0.01/0.1, so the 0.2 caller floor covers every true
    // neighbor; the lshAutoConfig recall constraint at that floor
    // then makes the derived config's candidate set contain each true
    // top-5 (deterministic md5 planes — this is a fixture FACT, not a
    // probabilistic claim, which is why byte-equality is assertable)
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val e = spark.read.parquet(s"/root/testdata/$sf/embeddings.parquet")
      val key = (df: org.apache.spark.sql.DataFrame) =>
        df.collect().map(_.toSeq).toSet
      assert(key(Similarity.hubnessAnnAuto(e, "vec_id", "embedding",
          k = 5, floorCosine = 0.2)) ==
        key(Similarity.hubness(e, "vec_id", "embedding", k = 5)),
        s"$sf: auto-dialed ANN hubness diverges from exact — the " +
          "derived config's recall-1.0 precondition broke")
    }
  }

  test("randomProjection: hand formula from the md5 sign matrix; " +
    "dimension mismatch and bad bounds are loud") {
    val df = Seq((1L, Array(2.0f, -3.0f)), (2L, Array(0.5f, 0.25f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.randomProjection(
      df, "vec_id", "embedding", inDims = 2, outDims = 3, salt = "rp")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(out.size == 6)
    def sign(j: Int, i: Int): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"rp:$j:$i".getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      if (java.lang.Long.parseLong(hex, 16) % 2L == 0L) 1L else -1L
    }
    // q = floor(v*1000): (2000, -3000) and (500, 250)
    (0 until 3).foreach { j =>
      assert(out((1L, j.toLong)) == sign(j, 1) * 2000L +
        sign(j, 2) * -3000L, s"dim $j")
      assert(out((2L, j.toLong)) == sign(j, 1) * 500L +
        sign(j, 2) * 250L, s"dim $j")
    }
    val bad = Seq((9L, Array(1.0f, 2.0f, 3.0f)))
      .toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Similarity.randomProjection(bad, "vec_id", "embedding",
        inDims = 2, outDims = 3).collect()
    }
    assert(e.getMessage.contains("inDims"), e.getMessage)
    intercept[IllegalArgumentException] {
      Similarity.randomProjection(df, "vec_id", "embedding",
        inDims = 2, outDims = 0)
    }
  }
}
