package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis column functions for the training-data pipeline
  * (tokenization, quality scoring, language-ID heuristic, document
  * fingerprinting). Everything here composes codegen'd built-ins —
  * no UDFs — so the whole pipeline stays inside WholeStageCodegen and
  * predicates on the outputs remain pushable. The one exception is
  * the per-document DISTINCT shingle-set builders below, which run a
  * genuinely per-row imperative loop in a typed flatMap: shingle
  * distinctness never crosses documents, so building each doc's set
  * in a local hash table deletes the corpus-wide dedup shuffle the
  * declarative explode+dropDuplicates form pays.
  */
object TextFns {

  /** Word n-gram set of one token array (single-space-joined grams,
    * matching `wordShinglesFromTokens`).
    */
  private def shingleSet(t: Array[String], n: Int): Iterator[String] = {
    val set = scala.collection.mutable.HashSet.empty[String]
    var i = 0
    while (i + n <= t.length) {
      val sb = new java.lang.StringBuilder
      var o = 0
      while (o < n) {
        if (o > 0) sb.append(' ')
        sb.append(t(i + o))
        o += 1
      }
      set.add(sb.toString)
      i += 1
    }
    set.iterator
  }

  /** (doc_id, shs): each document's DISTINCT word-n-gram shingles,
    * built locally — a narrow map-only stage, no explode, no dedup
    * shuffle. Input needs `doc_id` (long) and `text` columns.
    */
  def distinctShingles(docs: DataFrame, n: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        shingleSet(text.split(" ", -1), n).map(g => (id, g))
      }
      .toDF("doc_id", "shs")
  }

  /** (doc_id, source, shs) variant carrying the source column. */
  def distinctShinglesBySource(docs: DataFrame, n: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("source"), col("text"))
      .as[(Long, String, String)]
      .flatMap { case (id, src, text) =>
        shingleSet(text.split(" ", -1), n).map(g => (id, src, g))
      }
      .toDF("doc_id", "source", "shs")
  }

  /** Split on single spaces (empty tokens preserved — matches the
    * behavior of a literal-separator split in other engines).
    */
  def tokens(text: Column): Column = split(text, " ")

  /** Split on whitespace runs. */
  def tokensWs(text: Column): Column = split(text, "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Word n-gram shingles from a *materialized* token-array column.
    * Pass a real column (`withColumn("t", tokens($"text"))`), not
    * `split(...)` inline: expressions inside higher-order lambdas are
    * interpreted without common-subexpression elimination, so an
    * inline split would re-tokenize the document for every element
    * access — observed 5× slowdown. Shorter-than-n texts yield an
    * empty array.
    */
  def wordShinglesFromTokens(t: Column, n: Int): Column =
    when(size(t) >= n,
      transform(
        sequence(lit(1), size(t) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(o => element_at(t, i + o)): _*)))
      .otherwise(array().cast("array<string>"))

  /** Share of characters outside [a-z0-9 ] — crude punctuation/noise
    * ratio used for quality filtering.
    */
  def punctRatio(text: Column): Column =
    round(length(regexp_replace(text, "[a-z0-9 ]", "")) / length(text), 4)

  /** Mean token length computed exactly from integer counts:
    * (chars - spaces) / n_tokens.
    */
  def meanTokenLength(text: Column): Column = {
    val spaces = length(text) - length(regexp_replace(text, " ", ""))
    round((length(text) - spaces) / (spaces + 1), 4)
  }

  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val t = tokens(text)
    val hits = size(filter(t, tok => tok.isin(stopwords.map(x => x: Any): _*)))
    round(hits / size(t), 4)
  }

  /** Marker-word language scores + deterministic argmax. Scores are
    * counts of tokens in each language's marker set; ties resolve in
    * the fixed order en > de > fr.
    */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"))

  /** Score from a token-array column; materialize the tokens on any
    * hot path: `filter` is an interpreted higher-order function, so an
    * inline `split` child is re-evaluated per score (langIdentify
    * references each score twice → 6+ tokenizations per row with the
    * text form).
    */
  def langScoreFromTokens(t: Column, lang: String): Column =
    size(filter(t, tok => tok.isin(langMarkers(lang).map(x => x: Any): _*)))

  def langIdentify(text: Column): Column =
    langIdentifyFromTokens(tokens(text))

  def langIdentifyFromTokens(t: Column): Column = {
    val en = langScoreFromTokens(t, "en")
    val de = langScoreFromTokens(t, "de")
    val fr = langScoreFromTokens(t, "fr")
    when(en >= de && en >= fr, lit("en"))
      .when(de >= fr, lit("de"))
      .otherwise(lit("fr"))
  }

  /** Canonical document fingerprint: md5 of lowercased,
    * whitespace-collapsed, trimmed text.
    */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "\\s+", " ")))
}
