package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Kernels
import graft.model.TokenCodec

/**
 * Pagination parameterization — the reference's `Paginator` interface
 * (paginate/paginate.go:16-23): given the current page's key and its
 * content, derive the NEXT page's key; an empty/absent key stops the
 * crawl. Both reference strategies are recast as pure Catalyst
 * expressions (codegen'd, no UDFs):
 *
 *  - [[nextKeyByQueryParam]] — `ByQueryParam` (paginate.go:60-91):
 *    increment an integer query parameter embedded in the key.
 *  - [[nextKeyBySelector]] — `BySelector` (paginate.go:39-46): the
 *    decoded first payload of the page's next-link field (by selector
 *    tag) is the next key.
 *
 * When the next key does not depend on page content (pure
 * ByQueryParam), the whole key sequence is known at plan time and
 * [[byQueryParam]] compiles it to one narrow explode — prefer it.
 * When the next key DOES depend on the fetched page (BySelector, or
 * ByQueryParam with content-dependent termination), the reference
 * recurses driver-side per task (`go task.scrape(...)`,
 * scrape/scrape.go:394-427); the Spark recast is an iterative frontier
 * expansion ([[crawl]]): each level is ONE distributed job over every
 * live chain at that depth — a Pregel-style loop, not a per-document
 * recursion. Per level the work is (a) one distinct over frontier keys
 * (fetch each page once per level — the frontier-dedup of SURVEY J3),
 * (b) one equi-join frontier ⋈ resolved pages, (c) a narrow next-key
 * projection. Everything the driver ever sees is a per-level emptiness
 * flag.
 *
 * Scale notes (100 TB): level state is keys only — page CONTENT is
 * never carried across levels (it is re-joined once at the end), so a
 * level's localCheckpoint is O(live chains × key width). The visited
 * set rides per-chain as an array bounded by maxPages (reference
 * default 1, `0` = unlimited like MAX_PAGES, scrape.go:55-58) — with
 * maxPages=0 termination relies on the per-chain cycle guard exactly
 * as the reference's ByQueryParam "will paginate infinitely" caveat.
 * Level count, not data size, bounds the loop: K levels = K jobs.
 */
object Paginate {

  /** Page-key column for one (start, page) pair: `start?p=idx`. */
  private def pageKey(start: Column, idx: Column): Column =
    concat(start, lit("?p="), idx.cast("string"))

  /**
   * Degenerate-but-common ByQueryParam case: when the key sequence
   * does NOT depend on page content, the whole sequence per start key
   * is known at plan time and compiles to a single narrow generator —
   * `posexplode(sequence(...))` — fanning the frontier out to
   * (maxPages × starts) rows in one stage, no crawl loop at all.
   * Output: input columns + `(page_idx, page_key)`. `maxPages` must be
   * positive (an unbounded static expansion is meaningless; unbounded
   * CONTENT-DRIVEN chains are [[crawl]] with maxPages=0).
   */
  def byQueryParam(starts: DataFrame, keyCol: String, maxPages: Int): DataFrame = {
    require(maxPages > 0, "byQueryParam needs a positive page bound")
    starts.select(col("*"),
      posexplode(transform(sequence(lit(0), lit(maxPages - 1)),
        i => pageKey(col(keyCol), i))).as(Seq("page_idx", "page_key")))
  }

  /** Next key by incrementing integer query param `param` (reference
    * ByQueryParam, paginate/paginate.go:74-91): `...?page=3&q=x` →
    * `...?page=4&q=x`. Absent or non-numeric param → null (stop),
    * matching the reference's "" return. */
  def nextKeyByQueryParam(key: Column, param: String): Column = {
    val p = java.util.regex.Pattern.quote(param)
    val pat = s"^(.*[?&]$p=)([0-9]+)(.*)$$"
    val num = regexp_extract(key, pat, 2)
    when(num =!= "", concat(
      regexp_extract(key, pat, 1),
      (num.cast("long") + 1).cast("string"),
      regexp_extract(key, pat, 3)))
  }

  /** Next key from the page content (reference BySelector,
    * paginate/paginate.go:39-46): the decoded first non-empty payload
    * of the `tag` field anywhere in the page is the next key; no such
    * field (or an empty payload) → null (stop). One kernel call over
    * the extraction kernels, so the whole derivation stays in codegen
    * (a `transform`/`filter` lambda would not: both are CodegenFallback). */
  def nextKeyBySelector(tokens: Column, tag: Int): Column =
    nullif(Kernels.firstTagText(tokens, TokenCodec.RECORD_START, TokenCodec.FIELD_DELIM, tag), lit(""))

  /**
   * Iterative crawl from `origins` (column `origin`): fetch each
   * frontier key via `resolve`, emit the page, derive the next key,
   * repeat until every chain stopped (null next key, unresolved key,
   * already-visited key, or the maxPages cap — the reference's stop
   * conditions, scrape.go:399-427).
   *
   * @param origins  one string column `origin` (page 0's key)
   * @param resolve  keys → pages `(doc_id, tokens, n_tok, source)`;
   *                 in production a join against the stored table (the
   *                 input_hint schema), in tests/bench the
   *                 deterministic key→page function. Receives keys
   *                 possibly duplicated across chains and must return
   *                 ONE row per distinct key it can resolve (the
   *                 TokenGen resolvers dedup internally; a table-join
   *                 resolver should `keys.distinct().join(table)`).
   *                 Called once per level, plus once at the end to
   *                 attach content to the emitted rows.
   * @param nextKey  (key, tokens) → next key or null
   * @param maxPages cap on pages per chain; 0 = unbounded (cycle guard
   *                 only — reference MAX_PAGES semantics)
   * @return one row per fetched page: (origin, page_idx, key, tokens,
   *         n_tok, source), page_idx 0-based in chain order
   */
  def crawl(
      origins: DataFrame,
      resolve: (SparkSession, Dataset[String]) => DataFrame,
      nextKey: (Column, Column) => Column,
      maxPages: Int): DataFrame = {
    val spark = origins.sparkSession
    import spark.implicits._

    // frontier carries keys only: (origin, key, page_idx, __visited)
    var frontier = origins
      .select(col("origin"), col("origin").as("key"),
        lit(0).as("page_idx"), array(col("origin")).as("__visited"))
      .localCheckpoint()
    val levels = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    while (!frontier.isEmpty) {
      val fetched = resolve(spark, frontier.select(col("key")).as[String])
        .withColumnRenamed("doc_id", "key")
      // inner join: an unresolved key ends its chain (the reference
      // records a fetch error on the task and stops paginating)
      // ONE materialization per level (keys only — bounds lineage AND
      // memory); the next frontier is a narrow filter over it, so it
      // needs no checkpoint of its own and the loop's emptiness probe
      // reads cached blocks
      val level = frontier
        .join(fetched.select(col("key"), col("tokens")), Seq("key"), "inner")
        .select(col("origin"), col("key"), col("page_idx"), col("__visited"),
          nextKey(col("key"), col("tokens")).as("__next"))
        .localCheckpoint()
      levels += level.select(col("origin"), col("page_idx"), col("key"))
      frontier = level
        .filter(col("__next").isNotNull && length(col("__next")) > 0 &&
          !array_contains(col("__visited"), col("__next")) &&
          (if (maxPages > 0) col("page_idx") + 1 < maxPages else lit(true)))
        .select(col("origin"), col("__next").as("key"),
          (col("page_idx") + 1).as("page_idx"),
          array_union(col("__visited"), array(col("__next"))).as("__visited"))
    }

    val emitted = levels.reduceOption(_ unionByName _).getOrElse(
      origins.limit(0).select(col("origin"), lit(0).as("page_idx"),
        col("origin").as("key")))
    // attach content once, at the end: every emitted key resolved at
    // its level, so this inner join is lossless
    emitted.join(
      resolve(spark, emitted.select(col("key")).as[String])
        .withColumnRenamed("doc_id", "key"),
      Seq("key"), "inner")
      .select(col("origin"), col("page_idx"), col("key"),
        col("tokens"), col("n_tok"), col("source"))
  }
}
