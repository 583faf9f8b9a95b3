package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, functions}
import org.apache.spark.sql.functions.{col, expr}

/** Edges of TextStats' tokenization stages under both empty-token rules:
  * leading, trailing and doubled spaces, empty and NULL text, a single
  * token; the bigram stream's document boundary; the short-document
  * guard of the in-row n-grams.
  */
class TokenizationSpec extends SparkSpec {
  import spark.implicits._

  /** (id, text): doubled, leading/trailing, empty, NULL, single token. */
  private lazy val docs: DataFrame = Seq[(Long, String)](
    (1L, "a  b"), (2L, " a b "), (3L, ""), (4L, null), (5L, "solo"))
    .toDF("id", "text")

  /** id → the array column `c` built over `text`, NULL kept as None. */
  private def arrays(c: org.apache.spark.sql.Column): Map[Long, Option[Seq[String]]] =
    docs.select(col("id"), c.as("a")).collect().map { r =>
      r.getLong(0) -> Option(r.getSeq[String](1)).map(_.toSeq)
    }.toMap

  /** The (id, pos?, tok) rows of a token-row frame, sorted. */
  private def sortedRows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  test("tokenArray keeps every empty token; wordArray drops them") {
    assert(arrays(TextStats.tokenArray(col("text"))) == Map(
      1L -> Some(Seq("a", "", "b")),
      2L -> Some(Seq("", "a", "b", "")),
      3L -> Some(Seq("")),
      4L -> None,
      5L -> Some(Seq("solo"))))
    assert(arrays(TextStats.wordArray(col("text"))) == Map(
      1L -> Some(Seq("a", "b")),
      2L -> Some(Seq("a", "b")),
      3L -> Some(Seq()),
      4L -> None,
      5L -> Some(Seq("solo"))))
  }

  test("wordArraySql is wordArray spelled in SQL text") {
    assert(arrays(expr(TextStats.wordArraySql("text"))) ==
      arrays(TextStats.wordArray(col("text"))))
  }

  test("token rows keep or drop empties; NULL text yields no row") {
    val keep = Seq(col("id"))
    assert(sortedRows(TextStats.tokenRows(docs, "text", keep)) == Seq(
      Seq(1L, ""), Seq(1L, "a"), Seq(1L, "b"),
      Seq(2L, ""), Seq(2L, ""), Seq(2L, "a"), Seq(2L, "b"),
      Seq(3L, ""), Seq(5L, "solo")))
    assert(sortedRows(TextStats.wordRows(docs, "text", keep)) == Seq(
      Seq(1L, "a"), Seq(1L, "b"), Seq(2L, "a"), Seq(2L, "b"),
      Seq(5L, "solo")))
    assert(sortedRows(TextStats.tokens(docs, "text", "id")) ==
      sortedRows(TextStats.tokenRows(docs, "text", keep)))
    assert(TextStats.wordRows(docs, "text", Nil, "w").columns.toSeq ==
      Seq("w"))
  }

  test("positioned token rows count positions over the full array") {
    val keep = Seq(col("id"))
    // the dropped empties leave gaps in the positions
    assert(sortedRows(TextStats.posWordRows(docs, "text", keep, "p", "t")) == Seq(
      Seq(1L, 0, "a"), Seq(1L, 2, "b"), Seq(2L, 1, "a"), Seq(2L, 2, "b"),
      Seq(5L, 0, "solo")))
  }

  test("the bigram stream pairs adjacent non-empty tokens of one document") {
    val text = Seq[(Long, String)](
      (1L, "a  b c"), (2L, " d e"), (3L, "f"), (4L, ""), (5L, null),
      (6L, "g g"))
      .toDF("id", "text")
    val bi = TextStats.bigramStream(
      TextStats.posWordRows(text, "text", Seq(col("id"))), Seq(col("id")))
      .select(col("id"), col("tok"), col("_g_next"))
    // "a  b": the doubled space does not break adjacency; no pair joins
    // the last token of one document to the first of the next (c→d,
    // e→f), and single-token, empty and NULL documents have none
    assert(sortedRows(bi) == Seq(
      Seq(1L, "a", "b"), Seq(1L, "b", "c"), Seq(2L, "d", "e"),
      Seq(6L, "g", "g")))
  }

  test("in-row n-grams: a document shorter than n has none") {
    val toks = Seq[(Long, String)]((1L, "a b c"), (2L, "a b"), (3L, " a"),
      (4L, ""), (5L, "solo"))
      .toDF("id", "text")
      .select(col("id"), TextStats.tokenArray(col("text")).as("_toks"))
    def grams(n: Int): Map[Long, Seq[String]] =
      toks.select(col("id"), TextStats.wordNgrams(col("_toks"), n))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSeq).toMap
    assert(grams(2) == Map(1L -> Seq("a b", "b c"), 2L -> Seq("a b"),
      3L -> Seq(" a"), 4L -> Seq(), 5L -> Seq()))
    // sequence(1, 0) would run descending: n = size + 1 must be empty
    assert(grams(3) == Map(1L -> Seq("a b c"), 2L -> Seq(), 3L -> Seq(),
      4L -> Seq(), 5L -> Seq()))
    assert(grams(1)(5L) == Seq("solo") && grams(1)(4L) == Seq(""))
    // wordNgramsAt maps each gram inside the same lambda
    val upper = toks.filter(col("id") === 1L)
      .select(TextStats.wordNgramsAt(col("_toks"), 2,
        TextStats.gramStarts(col("_toks"), 2))(functions.upper))
    assert(upper.head().getSeq[String](0) == Seq("A B", "B C"))
  }

  test("char arrays and char n-grams") {
    val s = Seq[(Long, String)]((1L, "abc"), (2L, "ab"), (3L, ""))
      .toDF("id", "s")
      .select(col("id"), col("s"), TextStats.charArray(col("s")).as("ch"))
    val chars = s.collect().map(r => r.getLong(0) -> r.getSeq[String](2).toSeq)
      .toMap
    // one element per codepoint; empty text is one "" element
    assert(chars == Map(1L -> Seq("a", "b", "c"), 2L -> Seq("a", "b"),
      3L -> Seq("")))
    def grams(n: Int): Map[Long, Seq[String]] =
      s.select(col("id"), TextStats.charNgrams(col("s"), col("ch"), n))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSeq).toMap
    assert(grams(2) == Map(1L -> Seq("ab", "bc"), 2L -> Seq("ab"),
      3L -> Seq()))
    assert(grams(3) == Map(1L -> Seq("abc"), 2L -> Seq(), 3L -> Seq()))
    // the slice form counts its starts, and m <= 0 gives no gram
    val sl = Seq(Seq("a", "b", "c")).toDF("arr")
      .select(TextStats.sliceNgrams(col("arr"), expr("size(arr) - 1"), 2, " "),
        TextStats.sliceNgrams(col("arr"), expr("0"), 2, " "))
      .head()
    assert(sl.getSeq[String](0) == Seq("a b", "b c") && sl.getSeq[String](1).isEmpty)
  }

  test("document frequency and vocabulary size") {
    val toks = TextStats.wordRows(docs, "text", Seq(col("id")))
    val df = TextStats.docFreq(toks.distinct(), "tok", "df")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(df == Map("a" -> 2L, "b" -> 2L, "solo" -> 1L))
    assert(TextStats.vocabSize(toks, "v").head().getDouble(0) == 3.0)
  }
}
