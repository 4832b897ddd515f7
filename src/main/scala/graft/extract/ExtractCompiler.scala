package graft.extract

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Kernels
import graft.model._

/**
 * Compiles an [[ExtractionSpec]] into pure Catalyst transformations:
 *
 *   Dataset[doc] --segment--> Dataset[block] --project--> part columns
 *
 * This is the Spark recast of the reference's analyzer
 * (`Payload.newScraper` + `fields2parts`, scrape/scrape.go:185-261) and
 * executor (`blockWorker`/`extractField`, scrape.go:442-584). Where the
 * reference runs 25 block-worker goroutines under a task mutex
 * (scrape.go:549-558 — the BaseURL mutation forces a lock around every
 * extract!), this compiler emits only `Column` expressions over
 * `array<int>`: no closures, no locks, no driver involvement — the
 * whole extraction stage is embarrassingly parallel and survives any
 * scale-up by simply adding partitions.
 *
 * Scale notes (100 TB): segmentation + extraction are narrow (no
 * shuffle); the only shuffles in a full pipeline are the dedup/
 * assembly stages keyed by doc_id, which partition by the key and are
 * salted for hot sources (see graft.stream).
 */
object ExtractCompiler {

  import TokenCodec._

  /**
   * Segment each document into blocks: explode on RECORD_START.
   * Analog of DividePageByIntersection (reference scrape/divide.go:45-95)
   * — there the repeating container is inferred from selector LCA; here
   * the container boundary is the RECORD_START sentinel, a
   * spec-compile-time decision (SURVEY §2.3).
   *
   * Input: any frame with a `tokens: array<int>` column.
   * Output: input columns + (block_idx, block_tokens); rows with no
   * RECORD_START yield a single whole-array block (the `<body>`
   * fallback, reference structure.go:139-144).
   */
  def segment(df: DataFrame): DataFrame = {
    val blocks = Kernels.splitBlocks(col("tokens"), RECORD_START)
    df.select(col("*"), posexplode(blocks).as(Seq("block_idx", "block_tokens")))
  }

  /** Split one block into fields: `[tag payload* FIELD_DELIM]*` →
    * array of field arrays (tag at head, delimiter stripped). */
  def fieldsOf(block: Column): Column = Kernels.splitFields(block, FIELD_DELIM)

  /** Filter chain packed 3 bits per op, LSB-first = reference
    * left-to-right chaining (extract/filters.go:7-21); consumed by the
    * decodeAll kernel so the Text part needs no per-payload lambda. */
  private def opsOf(fs: Seq[TextFilter]): Int = {
    require(fs.length <= 10, s"filter chain too long: $fs")
    fs.zipWithIndex.foldLeft(0) { case (acc, (f, i)) =>
      val code = f match {
        case TextFilter.Trim       => 1
        case TextFilter.Lower      => 2
        case TextFilter.Upper      => 3
        case TextFilter.Capitalize => 4
      }
      acc | (code << (3 * i))
    }
  }

  /** One compiled part = Field×Type (reference Part, structure.go:113-126).
    * All extractors keep list form internally; scalar/list collapse
    * happens only at the encoder boundary (SURVEY §7.4) because a Spark
    * column cannot change type per row. Nil-omission: zero matches →
    * null unless includeIfEmpty.
    *
    * `matched`/`payloads` are references to per-tag columns
    * materialized once in [[compile]] — passing the raw expressions
    * here would re-evaluate the whole field-split chain per part. */
  def partColumn(payloads: Column, f: FieldSpec, tpe: ExtractorType): Option[Column] = {
    // |matched fields| == |payloads| (payloadsForTag strips tags 1:1),
    // so the nil guard and Count both read the payloads column
    val nilGuard: Column => Column = c =>
      if (f.includeIfEmpty) c else when(size(payloads) > 0, c)
    val colName = s"${f.name}_${tpe.name}"
    tpe match {
      case ExtractorType.Text =>
        Some(nilGuard(Kernels.decodeAll(payloads, opsOf(f.filters))).as(colName))
      case ExtractorType.Tokens =>
        Some(nilGuard(payloads).as(colName))
      case ExtractorType.Count =>
        // reference Count: 0 matches → nil unless IncludeIfEmpty
        // (extractors.go:313-331)
        Some(nilGuard(size(payloads)).as(colName))
      case ExtractorType.Const(v) =>
        Some(lit(v).as(colName))
      case ExtractorType.TokenPattern(p) =>
        Some(nilGuard(Kernels.findAllFlat(payloads, p)).as(colName))
      case ExtractorType.Path =>
        // join-key projection: decoded payloads become child doc_ids;
        // emitted under a reserved name, dropped from user output
        // (reference scrape.go:569-571)
        Some(nilGuard(Kernels.decodeAll(payloads, 0)).as(s"__path_${f.name}"))
      case ExtractorType.Unknown(n) =>
        // skipped with a log, scrape continues (scrape.go:317-319)
        System.err.println(s"[graft] unknown extractor type '$n' for field '${f.name}' — skipped")
        None
    }
  }

  /**
   * Full compile: documents frame → one row per block with part
   * columns named `<field>_<type>` plus ordering columns
   * (doc_id, page_idx?, block_idx) — the reference's
   * `uid-pageNum-blockNum` key (scrape/scrape.go:448-457) carried as
   * data, restored by sort at the sink instead of a KV key map.
   */
  def compile(docs: DataFrame, spec: ExtractionSpec): DataFrame = {
    SpecValidator.validate(spec)
    val blocks = segment(docs)
    // fields2parts cross product (scrape.go:220-261); in IsPath mode
    // only path fields are compiled (scrape.go:223-226); a field
    // carrying a nested Details spec is implicitly a link field —
    // the reference compiles it through its href/path extractor
    // (scrape.go:279-292) — so the Path projection is added if absent
    val compiled = spec.fields
      .filter(f => !spec.isPath || f.types.contains(ExtractorType.Path) || f.details.nonEmpty)
      .map(f =>
        if (f.details.nonEmpty && !f.types.contains(ExtractorType.Path))
          f.copy(types = f.types :+ ExtractorType.Path)
        else f)

    // Materialize shared subexpressions as real columns, each its own
    // projection step: the field split once per block, then the
    // matched payloads once per distinct selector tag (one fused
    // codegen kernel each). CollapseProject keeps these boundaries
    // (it refuses to inline a non-cheap expression referenced more
    // than once), so each is evaluated one time per row instead of
    // once per part column.
    val withFields = blocks.withColumn("__fields", fieldsOf(col("block_tokens")))
    val tags = compiled.map(_.selector).distinct
    val withTags = tags.foldLeft(withFields) { (df, tag) =>
      df.withColumn(s"__p_$tag", Kernels.payloadsForTag(col("__fields"), tag))
    }

    val parts: Seq[Column] = for {
      f <- compiled
      t <- f.types
      c <- partColumn(col(s"__p_${f.selector}"), f, t)
    } yield c
    if (parts.isEmpty) throw new SpecException("no parts found")
    val carry = docs.columns.toSeq.filter(_ != "tokens").map(col) :+ col("block_idx")
    withTags.select(carry ++ parts: _*)
  }

  /**
   * Recursive compile consuming [[FieldSpec.details]] — the analog of
   * the reference's nested-Scraper recursion (scrape/scrape.go:279-292
   * compile, 586-654 traversal): for every field with a nested spec,
   * the extracted Path keys resolve to child documents, the child spec
   * compiles RECURSIVELY (a grandchild details field nests again), and
   * the child blocks join back as `<field>_details` ordered structs
   * (Details.joinBatch — the encoder nesting, encoders.go:193-227).
   *
   * @param resolve link keys → child document frame (input_hint
   *   schema); in production a lookup against the same or another
   *   table, here TokenGen.childDocs' deterministic key→page function
   * @param broadcastChildren hint when the child universe is known
   *   small (detail pages ≪ listing rows — removes hot-key join skew)
   */
  def compileWithDetails(
      docs: DataFrame,
      spec: ExtractionSpec,
      resolve: (org.apache.spark.sql.SparkSession, org.apache.spark.sql.Dataset[String]) => DataFrame,
      broadcastChildren: Boolean): DataFrame = {
    val compiled = compile(docs, spec)
    val detailFields = spec.fields.filter(_.details.nonEmpty)
    // A details level consumes the extracted parents from THREE plan
    // branches — key resolution, link rows, and the final nest join —
    // and Spark executes each subtree independently, re-running the
    // whole extraction per branch (measured: 3× the extraction CPU of
    // the query). Materialize the level once; this is the batch analog
    // of the streaming topology's ResultTable boundary between the
    // extract and details queries (Details.scala deployment note), so
    // at cluster scale the same cut is a persisted table, not lineage.
    val base =
      if (detailFields.isEmpty) compiled else compiled.localCheckpoint()
    detailFields.foldLeft(base) { (df, f) =>
      val spark = df.sparkSession
      import spark.implicits._
      val keys = df.select(explode(col(s"__path_${f.name}")).as("k")).as[String]
      val childDocs = resolve(spark, keys)
      val childBlocks = compileWithDetails(childDocs, f.details.get, resolve, broadcastChildren)
      graft.streaming.Details.joinBatch(df, f.name, childBlocks, broadcastChildren)
    }
  }

}
