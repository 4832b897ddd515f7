package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.TokenCodec
import graft.streaming.Paginate

/** Pagination parameterization (reference paginate/paginate.go):
  * next-key derivation scalars + the iterative crawl's stop
  * conditions (null next, maxPages, cycle, unresolved key). */
class PaginateSpec extends SparkSuite {
  import spark.implicits._

  // --- next-key scalars -------------------------------------------------

  test("nextKeyByQueryParam increments the param and preserves the rest") {
    val rows = Seq(
      "http://x/list?page=3&q=a", // middle param
      "http://x/list?q=a&page=9", // trailing param
      "http://x/list?page=0",     // lone param
      "http://x/list?q=a",        // absent -> null (stop)
      "http://x/list?page=abc",   // non-numeric -> null (reference stops)
      "plainkey"                  // no query at all -> null
    ).toDF("key")
    val got = rows.select(
      Paginate.nextKeyByQueryParam(col("key"), "page").as("nk"))
      .as[Option[String]].collect().toSeq
    assert(got == Seq(
      Some("http://x/list?page=4&q=a"),
      Some("http://x/list?q=a&page=10"),
      Some("http://x/list?page=1"),
      None, None, None))
  }

  // a page whose tag-7 field payload decodes to `next` (base-36 of the
  // token values, space-joined — TokenCodec.decodeToken, uppercase
  // like DuckDB's to_base); token 100 decodes to "2S", 101 "2T", 102 "2U"
  private def page(nextTok: Option[Int], filler: Int = 200): Array[Int] = {
    val nextField = nextTok.map(t => Array(7, t, TokenCodec.FIELD_DELIM))
      .getOrElse(Array.empty[Int])
    Array(TokenCodec.RECORD_START, 3, filler, TokenCodec.FIELD_DELIM) ++
      nextField
  }

  test("nextKeyBySelector decodes the first tag payload; absent tag or empty payload stops") {
    val rows = Seq(
      (1, page(Some(100))),                         // -> "2S"
      (2, page(None)),                              // no tag 7 -> null
      (3, Array(TokenCodec.RECORD_START, 7, TokenCodec.FIELD_DELIM)), // empty payload -> null
      // tag 7 in the SECOND block is still found (whole-page scan)
      (4, page(None) ++ page(Some(102)))            // -> "2U"
    ).toDF("id", "tokens")
    val got = rows.orderBy("id").select(
      Paginate.nextKeyBySelector(col("tokens"), 7).as("nk"))
      .as[Option[String]].collect().toSeq
    assert(got == Seq(Some("2S"), None, None, Some("2U")))
  }

  // --- crawl ------------------------------------------------------------

  private def webResolve(web: Map[String, Array[Int]])(
      spark: SparkSession, keys: Dataset[String]): DataFrame = {
    import spark.implicits._
    val w = web // avoid capturing the suite
    keys.distinct().flatMap(k => w.get(k).map(t => (k, t, t.length, "page")))
      .toDF("doc_id", "tokens", "n_tok", "source")
  }

  private def chains(pages: DataFrame): Map[String, Seq[(Int, String)]] =
    pages.select("origin", "page_idx", "key").as[(String, Int, String)]
      .collect().groupBy(_._1)
      .map { case (o, rs) => o -> rs.map(r => (r._2, r._3)).sortBy(_._1).toSeq }

  test("crawl follows BySelector chains until the next link disappears") {
    // "2S" -> "2T" -> "2U" -> (no next)
    val web = Map(
      "2S" -> page(Some(101)), "2T" -> page(Some(102)), "2U" -> page(None))
    val pages = Paginate.crawl(
      Seq("2S").toDF("origin"), webResolve(web),
      (_, t) => Paginate.nextKeyBySelector(t, 7), maxPages = 0)
    assert(chains(pages) == Map("2S" -> Seq((0, "2S"), (1, "2T"), (2, "2U"))))
    // content rides along: n_tok matches the web's page length
    val ntok = pages.select("key", "n_tok").as[(String, Int)].collect().toMap
    assert(ntok == web.map { case (k, t) => k -> t.length })
  }

  test("crawl maxPages caps the chain (reference MAX_PAGES)") {
    val web = Map(
      "2S" -> page(Some(101)), "2T" -> page(Some(102)), "2U" -> page(None))
    val pages = Paginate.crawl(
      Seq("2S").toDF("origin"), webResolve(web),
      (_, t) => Paginate.nextKeyBySelector(t, 7), maxPages = 2)
    assert(chains(pages) == Map("2S" -> Seq((0, "2S"), (1, "2T"))))
  }

  test("crawl cycle guard: a 2-cycle terminates after each key once") {
    val web = Map("2S" -> page(Some(101)), "2T" -> page(Some(100))) // s<->t
    val pages = Paginate.crawl(
      Seq("2S").toDF("origin"), webResolve(web),
      (_, t) => Paginate.nextKeyBySelector(t, 7), maxPages = 0)
    assert(chains(pages) == Map("2S" -> Seq((0, "2S"), (1, "2T"))))
  }

  test("crawl: unresolved next key ends the chain; independent origins don't interfere") {
    val web = Map(
      "2S" -> page(Some(101)), // -> "2T" which does NOT resolve
      "2U" -> page(None))
    val pages = Paginate.crawl(
      Seq("2S", "2U").toDF("origin"), webResolve(web),
      (_, t) => Paginate.nextKeyBySelector(t, 7), maxPages = 0)
    assert(chains(pages) == Map(
      "2S" -> Seq((0, "2S")), "2U" -> Seq((0, "2U"))))
  }

  test("crawl with ByQueryParam pages through the param space up to maxPages") {
    // every key resolves (pure function of the key) and ByQueryParam
    // never returns null -> exactly maxPages pages, params 0,1,2
    val pg = page(None) // local: the closure must not capture the suite
    val resolve = (s: SparkSession, keys: Dataset[String]) => {
      import s.implicits._
      keys.distinct().map(k => (k, pg, pg.length, "page"))
        .toDF("doc_id", "tokens", "n_tok", "source")
    }
    val pages = Paginate.crawl(
      Seq("list?page=0").toDF("origin"), resolve,
      (k, _) => Paginate.nextKeyByQueryParam(k, "page"), maxPages = 3)
    assert(chains(pages) == Map("list?page=0" ->
      Seq((0, "list?page=0"), (1, "list?page=1"), (2, "list?page=2"))))
  }

  test("paginate_crawl driver query is deterministic and non-vacuous") {
    val a = graft.queries.TokenEngine.paginateCrawl(spark, "sf0.001").collect()
    val b = graft.queries.TokenEngine.paginateCrawl(spark, "sf0.001").collect()
    assert(a.nonEmpty && a.length == 200) // every origin resolves page 0
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
    // chains are content-terminated: lengths must spread beyond 1
    val nPages = a.map(r => r.getAs[Int]("n_pages")).toSeq
    assert(nPages.max > 1 && nPages.min >= 1 &&
      nPages.max <= graft.queries.TokenEngine.CRAWL_MAX_PAGES)
  }

  test("SynthPage codegen expression equals the Scala key→page functions") {
    val keys = Seq("a", "x?page=3", "2S 2T", "ünïcødé-key", "")
    val got = keys.toDF("k")
      .select(col("k"),
        org.apache.spark.sql.graft.Kernels.synthPage(col("k"), "page/").as("p"),
        org.apache.spark.sql.graft.Kernels.synthPage(col("k"), "child/").as("c"))
      .as[(String, Array[Int], Array[Int])].collect()
    got.foreach { case (k, p, c) =>
      assert(p.toSeq == graft.gen.TokenGen.pageTokens(k).toSeq, s"page mismatch for '$k'")
      assert(c.toSeq == graft.gen.TokenGen.childTokens(k).toSeq, s"child mismatch for '$k'")
    }
  }

  test("crawl universe export covers every page the crawl visits, with matching next keys") {
    val uni = graft.queries.TokenEngine.crawlUniverse(spark, "sf0.001")
      .select("key").as[String].collect().toSet
    val visited = Paginate.crawl(
      spark.range(200).select(format_string("crawl/%06d", col("id")).as("origin")),
      (s, keys) => graft.gen.TokenGen.pageDocs(s, keys),
      (_, t) => Paginate.nextKeyBySelector(t, graft.queries.TokenEngine.NEXT_TAG),
      maxPages = graft.queries.TokenEngine.CRAWL_MAX_PAGES)
      .select("key").as[String].collect().toSet
    assert(visited.subsetOf(uni),
      s"universe missing ${visited.diff(uni).take(3)}")
  }
}
