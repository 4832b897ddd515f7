package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Kernels

import Dedup.words

/**
 * Text-analysis operators over the `documents` table: token counting,
 * quality scoring, language-ID, and content fingerprinting — the
 * per-document scoring stages of a training-data pipeline. All pure
 * Catalyst projections (narrow, codegen'd, pushdown-friendly): a full
 * 100 TB pass is a single scan with zero shuffles.
 */
object TextAnalysis {

  /** Per-language marker-word lists for the n-gram/stopword heuristic
    * language-ID. Deterministic argmax with lexicographic tie-break —
    * reproduced verbatim in the DuckDB oracle. */
  val StopWords: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "das", "nicht", "ein", "ich", "ist"),
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "it"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "une", "est"),
    "zh" -> Seq("的", "是", "不", "了", "在", "人", "有", "我"))

  /** Counts/lengths export as BIGINT: DuckDB len()/length() are
    * int64, Spark size()/length() int32 — physical-width parity for
    * the driver's typed compare. */
  private def i64(c: Column): Column = c.cast("bigint")

  private def countIn(ws: Column, vocab: Seq[String]): Column =
    size(filter(ws, w => vocab.foldLeft(lit(false))((acc, s) => acc || w === lit(s))))

  /** Token counts: whitespace tokens and a BPE-ish regex token count
    * (letter runs / digit runs / single non-space symbols). */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      i64(size(words(col("text")))).as("n_ws_tokens"),
      i64(size(regexp_extract_all(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))))
        .as("n_re_tokens"),
      i64(length(col("text"))).as("n_chars"))
      .orderBy(col("doc_id"))

  /** Quality scoring: length, mean word length, punctuation ratio,
    * stopword ratio, and a coarse keep/flag bucket. Ratios are exact
    * IEEE divisions of integer counts — engine-portable. */
  def quality(docs: DataFrame): DataFrame = {
    val ws = words(col("text"))
    val nWords = size(ws)
    val nStop = countIn(ws, StopWords.toMap.apply("en"))
    val nPunct = size(regexp_extract_all(col("text"), lit("[^A-Za-z0-9\\s]"), lit(0)))
    docs.select(
      col("doc_id"),
      i64(nWords).as("n_words"),
      (length(col("text")).cast("double") / nWords).as("mean_tok_len"),
      (nStop.cast("double") / nWords).as("stop_ratio"),
      (nPunct.cast("double") / greatest(length(col("text")), lit(1))).as("punct_ratio"),
      when(nWords < 5, lit("too_short"))
        .when(nStop === 0, lit("no_stopwords"))
        .otherwise(lit("keep")).as("quality_bucket"))
      .orderBy(col("doc_id"))
  }

  /** Stopword-profile language-ID: score = marker-word hits per
    * language; prediction = argmax, ties broken by language code
    * (deterministic). Emits all scores for inspection. */
  def langId(docs: DataFrame): DataFrame = {
    val ws = words(col("text"))
    val scoreCols = StopWords.map { case (lang, sw) => i64(countIn(ws, sw)).as(s"score_$lang") }
    val scored = docs.select((col("doc_id") +: col("lang").as("labeled_lang") +: scoreCols): _*)
    // argmax via greatest + first matching CASE (tie-break = StopWords order, lexicographic)
    val best = greatest(StopWords.map { case (l, _) => col(s"score_$l") }: _*)
    val pred = StopWords.foldRight(lit("und")) { case ((l, _), acc) =>
      when(col(s"score_$l") === best && best > 0, lit(l)).otherwise(acc)
    }
    // foldRight gives priority to the FIRST language in StopWords order
    scored.withColumn("pred_lang", pred).orderBy(col("doc_id"))
  }

  /** Per-doc ordered k-gram rolling-hash sequence (3-word grams,
    * xxhash64). Shared by [[fingerprint]] and exported by Verify so
    * the DuckDB oracle can redo the winnowing (window-min, distinct,
    * sort, digest) independently from the same hash stream — the
    * same export scheme as the simhash signatures. */
  def gramHashes(textCol: Column): Column =
    Kernels.gramHashes(words(lower(trim(textCol))), 3)

  /** (doc_id, hashes) export table for the winnow oracle. */
  def winnowGrams(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), gramHashes(col("text")).as("hashes"))

  /** Grams per winnowing window of [[fingerprint]]. */
  private val WinnowWindow = 4

  /** Content fingerprints: md5 of normalized text (exact-dup key) and
    * a winnowing-style selected-hash list (k-gram rolling window,
    * min-hash per window of [[WinnowWindow]] grams, distinct) for
    * robust partial-overlap detection. */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      md5(lower(trim(col("text")))).as("md5_fp"),
      Kernels.winnowSelect(gramHashes(col("text")), WinnowWindow)
        .as("winnow_fp"))
      .orderBy(col("doc_id"))

  /** md5-only projection (SQL-oracle-friendly subset of fingerprint). */
  def fingerprintMd5(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), md5(lower(trim(col("text")))).as("md5_fp"),
      i64(length(col("text"))).as("n_chars"))
      .orderBy(col("doc_id"))
}
