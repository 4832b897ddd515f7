package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Details traversal — the reference's link-following join (reference
 * scrape/scrape.go:586-654: a Field with `Details` compiles a nested
 * Scraper; each extracted URL spawns a child scrape; child results are
 * stored under uid=CRC32(detailURL) and re-joined by the encoder,
 * encoders.go:193-227, nesting 1 block → object / n → array).
 *
 * Spark recast: the parent's Path extractor emits link keys
 * (`__path_<field>` column, ExtractCompiler); the child side is just
 * another document table whose doc_id is the link key. [[joinBatch]]
 * joins link rows to child block rows on the link key and nests the
 * matched blocks under `<field>_details` in (link order, child
 * block_idx) order — the reference's sorted key map.
 *
 * Scale: the join shuffles both sides on link_key, and the nesting
 * aggregates per parent block. A hot link key (many parents pointing
 * at one child doc — the reference's shared detail page) skews the
 * join; AQE's broadcast conversion or an explicit `broadcast()` of
 * the child side removes the skew when the child universe fits
 * (common: detail pages ≪ listing rows).
 */
object Details {

  /** One row per (parent block, link key): explode the Path column.
    * `posexplode` keeps the key position so nesting preserves the
    * extraction order of multi-valued path fields. */
  def linkRows(parentBlocks: DataFrame, field: String): DataFrame =
    parentBlocks.select(
      col("doc_id"), col("block_idx"),
      posexplode(col(s"__path_$field")).as(Seq("__k_idx", "link_key")))

  /**
   * Batch details join. Parent blocks keep all their part columns; the
   * Path column is replaced by `<field>_details`: child block structs
   * in (key order, child block_idx) order; parents with no keys or
   * unresolved keys get an empty array (reference: missing detail page
   * is a fetch error recorded on the task, structure.go:182).
   *
   * Plan shape: ONE equi-join of link rows against child BLOCK rows
   * (not pre-nested child docs) and ONE sorted collect per parent
   * block. An earlier two-aggregation form (nest blocks per child doc,
   * join, re-aggregate per parent) deep-copied every child's
   * array-of-structs through a second collect_list/array_sort/flatten
   * pass — measured as the dominant CPU of the details query. The
   * struct sorts by (__k_idx, child block_idx) because block_idx is
   * the child struct's first field — the reference's per-uid sorted
   * key map, scrape.go:632-635.
   *
   * `broadcastChildren` — hint when the child-block side is known
   * small (detail-page universe ≪ parent row count; also removes
   * hot-link-key join skew).
   */
  def joinBatch(
      parentBlocks: DataFrame,
      field: String,
      childBlocks: DataFrame,
      broadcastChildren: Boolean): DataFrame = {
    val structCols = childBlocks.columns.filterNot(Set("doc_id", "source", "n_tok"))
    val childRaw = childBlocks.select(col("doc_id").as("link_key"),
      struct(structCols.map(col).toSeq: _*).as("__cb"))
    val child = if (broadcastChildren) broadcast(childRaw) else childRaw
    val perParent = linkRows(parentBlocks, field)
      .join(child, Seq("link_key"), "left")
      .groupBy(col("doc_id"), col("block_idx"))
      // unresolved keys join to a null __cb; the when(...) leaves those
      // entries NULL and collect_list drops nulls — key skipped, as the
      // old coalesce(empty-array) flatten did
      .agg(transform(
        array_sort(collect_list(when(col("__cb").isNotNull,
          struct(col("__k_idx"), col("__cb"))))),
        x => x("__cb")).as(s"${field}_details"))
    parentBlocks
      .join(perParent, Seq("doc_id", "block_idx"), "left")
      .drop(s"__path_$field")
      .withColumn(s"${field}_details",
        coalesce(col(s"${field}_details"), array()))
  }
}
