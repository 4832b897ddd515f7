package graft.sink

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.types._

/**
 * Sink-boundary record encoders — the analog of the reference's
 * JSON/CSV encoders (reference scrape/encoders.go:60-118 JSON,
 * 253-378 CSV). This is where the engine's always-array internal
 * representation collapses back to the reference's dynamic semantics
 * (SURVEY §1.2):
 *
 *  - exactly one element → scalar (extract/extractors.go:81-85)
 *  - several elements   → list
 *  - null (no match)    → key omitted from the record entirely
 *    (nil-omission, extractors.go:77-79)
 *
 * Runs per-row at the sink only (like the reference's encoders, which
 * stream blocks out of the KV store) — the hot extraction path stays
 * pure Catalyst. Column order is spec order (the CSV header contract,
 * scrape.go:490-496); JSON keys are emitted in schema order for
 * deterministic goldens (the reference's XML encoder suffers Go map
 * nondeterminism, scrape_test.go:372-373 — we fix that).
 */
object RecordEncoder extends Serializable {

  private def esc(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '"'           => sb.append("\\\"")
      case '\\'          => sb.append("\\\\")
      case '\n'          => sb.append("\\n")
      case '\r'          => sb.append("\\r")
      case '\t'          => sb.append("\\t")
      case c if c < ' '  => sb.append(f"\\u${c.toInt}%04x")
      case c             => sb.append(c)
    }
    sb.toString
  }

  private def jsonValue(v: Any, dt: DataType): String = (v, dt) match {
    case (null, _)                  => "null"
    case (s: String, _)             => "\"" + esc(s) + "\""
    case (b: Boolean, _)            => b.toString
    case (n: java.lang.Number, _)   => n.toString
    case (seq: scala.collection.Seq[_], ArrayType(et, _)) =>
      if (seq.length == 1) jsonValue(seq.head, et) // scalar collapse
      else seq.map(jsonValue(_, et)).mkString("[", ",", "]")
    case (r: Row, st: StructType) =>
      st.fields.zipWithIndex.map { case (f, i) =>
        "\"" + esc(f.name) + "\":" + jsonValue(r.get(i), f.dataType)
      }.mkString("{", ",", "}")
    case (other, _) => "\"" + esc(String.valueOf(other)) + "\""
  }

  private def jsonObject(row: Row, fields: Array[(StructField, Int)]): String =
    fields.flatMap { case (f, i) =>
      val v = row.get(i)
      if (v == null) None // nil-omission
      else Some("\"" + esc(f.name) + "\":" + jsonValue(v, f.dataType))
    }.mkString("{", ",", "}")

  /** One JSON object per row; null fields omitted; single-element
    * arrays collapsed to scalars. */
  def toJsonRecords(df: DataFrame): Dataset[String] = {
    val fields = df.schema.fields.zipWithIndex
    implicit val enc = org.apache.spark.sql.Encoders.STRING
    df.map(row => jsonObject(row, fields))
  }

  /** Group consecutive rows of one page after a hash exchange on the
    * page key + a per-partition sort — the distributed recast of the
    * reference's page-major storage walk (scrape/encoders.go:140-166
    * payloadMap keyed by page, read page-then-block). Per-task memory
    * is bounded by ONE page's blocks, so the shape survives any
    * page count. */
  private def groupedPages(df: DataFrame, pageCol: String, orderCol: String)(
      render: Seq[Row] => String): Dataset[String] = {
    import org.apache.spark.sql.functions.col
    val sorted = df.repartition(col(pageCol))
      .sortWithinPartitions(col(pageCol), col(orderCol))
    val pi = sorted.schema.fieldIndex(pageCol)
    implicit val enc = org.apache.spark.sql.Encoders.STRING
    sorted.mapPartitions { it =>
      val buf = it.buffered
      new Iterator[String] {
        def hasNext: Boolean = buf.hasNext
        def next(): String = {
          val key = buf.head.get(pi)
          val rows = scala.collection.mutable.ArrayBuffer.empty[Row]
          // deepEquals, not ==: an array/binary page key deserializes
          // to a fresh instance per row, and reference equality would
          // silently split every page into single-block pages
          while (buf.hasNext && java.util.Objects.deepEquals(buf.head.get(pi), key))
            rows += buf.next()
          render(rows.toSeq)
        }
      }
    }
  }

  /** PaginateResults grouped JSON (reference scrape/structure.go:84-91:
    * grouped output "applicable for JSON and XML output formats; a
    * combined list ... is always returned for CSV" — so there is
    * deliberately no grouped CSV here). One string per PAGE: that
    * page's block records as a JSON array, blocks in `orderCol` order.
    * The page/order columns are grouping keys only and are not emitted
    * — the reference's grouping is positional (`[`…`],[`…`]` page
    * delimiters, encoders.go:80-118). */
  def toJsonPages(df: DataFrame, pageCol: String, orderCol: String): Dataset[String] = {
    val fields = df.schema.fields.zipWithIndex
      .filter { case (f, _) => f.name != pageCol && f.name != orderCol }
    groupedPages(df, pageCol, orderCol) { rows =>
      rows.map(jsonObject(_, fields)).mkString("[", ",", "]")
    }
  }

  /** CSV encoding per reference encoders.go:305-330: scalars verbatim,
    * arrays `;`-joined, null → empty cell; header = column order. */
  def toCsvLines(df: DataFrame): Dataset[String] = {
    val schema = df.schema
    implicit val enc = org.apache.spark.sql.Encoders.STRING
    def cell(v: Any): String = v match {
      case null                          => ""
      case seq: scala.collection.Seq[_]  => seq.map(cell).mkString(";")
      case other                         => String.valueOf(other)
    }
    df.map { row =>
      schema.fields.indices.map(i => cell(row.get(i))).mkString(",")
    }
  }

  def csvHeader(df: DataFrame): String = df.columns.mkString(",")

  private def escXml(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '&'  => sb.append("&amp;")
      case '<'  => sb.append("&lt;")
      case '>'  => sb.append("&gt;")
      case '"'  => sb.append("&quot;")
      case '\'' => sb.append("&apos;")
      case c    => sb.append(c)
    }
    sb.toString
  }

  /** XML encoding (reference encoders.go:380-394): one `<item>` per
    * row, one `<name>value</name>` element per non-null field, arrays
    * as repeated elements. Elements emitted in SCHEMA order — the
    * reference's XML output is nondeterministic (Go map iteration,
    * acknowledged at scrape_test.go:372-373); ours is stable. */
  private def xmlElem(name: String, v: Any, dt: DataType): String = (v, dt) match {
    case (null, _) => "" // nil-omission
    case (seq: scala.collection.Seq[_], ArrayType(et, _)) =>
      seq.map(xmlElem(name, _, et)).mkString
    case (other, _) => s"<$name>${escXml(String.valueOf(other))}</$name>"
  }

  private def xmlItem(row: Row, fields: Array[(StructField, Int)]): String =
    fields.map { case (f, i) =>
      xmlElem(escXml(f.name), row.get(i), f.dataType)
    }.mkString("<item>", "", "</item>")

  def toXmlRecords(df: DataFrame): Dataset[String] = {
    val fields = df.schema.fields.zipWithIndex
    implicit val enc = org.apache.spark.sql.Encoders.STRING
    df.map(row => xmlItem(row, fields))
  }

  /** PaginateResults grouped XML: one `<page>` element per page
    * wrapping that page's `<item>`s in block order (same grouping
    * contract as [[toJsonPages]]; the reference's own XML grouping is
    * the JSON shape's sibling, structure.go:84-91). */
  def toXmlPages(df: DataFrame, pageCol: String, orderCol: String): Dataset[String] = {
    val fields = df.schema.fields.zipWithIndex
      .filter { case (f, _) => f.name != pageCol && f.name != orderCol }
    groupedPages(df, pageCol, orderCol) { rows =>
      rows.map(xmlItem(_, fields)).mkString("<page>", "", "</page>")
    }
  }
}
