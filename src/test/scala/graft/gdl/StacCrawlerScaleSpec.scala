package graft.gdl

import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

/** The crawler's worklist rewrite under adversarial graph SHAPES: a
  * 10k-deep link chain (JVM recursion would risk the driver's stack),
  * a 10k-wide fanout, the visited-set cap as the guard against
  * crawler-trap graphs, and the cycle guard + DFS pre-order indices
  * surviving the rewrite unchanged (the reference assigns item indices
  * in recursion discovery order — utils.py:99-130). Pure driver code:
  * no Spark session needed. */
class StacCrawlerScaleSpec extends AnyFunSuite {

  private def catalog(id: String, hrefs: Seq[String]): Array[Byte] = {
    val links = hrefs.map(h => s"""{"href":"$h","rel":"child"}""")
      .mkString(",")
    s"""{"type":"Catalog","stac_version":"1.0.0-rc.3","id":"$id",
        "description":"d","links":[$links]}""".getBytes(UTF_8)
  }

  private def url(i: Int) = s"s3://staging/deep/c$i.json"

  test("a 10k-deep link chain completes without JVM recursion") {
    val n = 10000
    val docs = (0 until n).map { i =>
      url(i) -> catalog(s"c$i",
        if (i + 1 < n) Seq(s"c${i + 1}.json") else Nil)
    }.toMap
    val out = new StacCrawler(new InMemoryUrlReader(docs))
      .run("ds", "v", url(0))
    assert(!out.aborted)
    assert(out.metadata.size == n)
    // discovery order = chain order, indices dense from 0
    assert(out.metadata.map(_.url) == (0 until n).map(url))
    assert(out.metadata.map(_.item_index) == (0L until n.toLong))
  }

  test("a 10k-wide fanout completes; children visited in link order") {
    val n = 10000
    val root = "s3://staging/wide/root.json"
    val docs = Map(root -> catalog("root",
      (0 until n).map(i => s"k$i.json"))) ++
      (0 until n).map(i =>
        s"s3://staging/wide/k$i.json" -> catalog(s"k$i", Nil))
    val out = new StacCrawler(new InMemoryUrlReader(docs))
      .run("ds", "v", root)
    assert(!out.aborted)
    assert(out.metadata.map(_.url) ==
      root +: (0 until n).map(i => s"s3://staging/wide/k$i.json"))
  }

  test("the visited-set cap aborts a crawler trap with a failure row") {
    val n = 100
    val docs = (0 until n).map { i =>
      url(i) -> catalog(s"c$i", Seq(s"c${i + 1}.json"))
    }.toMap
    val out = new StacCrawler(new InMemoryUrlReader(docs), maxDocs = 10)
      .run("ds", "v", url(0))
    assert(out.aborted)
    assert(out.metadata.isEmpty && out.assets.isEmpty)
    val capRows = out.validations.filter(_.check == Check.TraversalCap)
    assert(capRows.size == 1 && capRows.head.result == Result.Failed)
    // exactly maxDocs documents were validated before the trip
    assert(out.validations.count(v =>
      v.check == Check.JsonSchema && v.result == Result.Passed) == 10)
  }

  test("cycle guard and DFS pre-order survive the worklist rewrite") {
    // a: [b, c]; b: [a, c] — pre-order must be a, b, c (c discovered
    // through b's link, not a's second link, exactly as the reference
    // recursion would)
    val base = "s3://staging/cyc"
    val docs = Map(
      s"$base/a.json" -> catalog("a", Seq("b.json", "c.json")),
      s"$base/b.json" -> catalog("b", Seq("a.json", "c.json")),
      s"$base/c.json" -> catalog("c", Nil))
    val out = new StacCrawler(new InMemoryUrlReader(docs))
      .run("ds", "v", s"$base/a.json")
    assert(!out.aborted)
    assert(out.metadata.map(_.url) ==
      Seq(s"$base/a.json", s"$base/b.json", s"$base/c.json"))
  }

  test("a nested layout linking ../ parents is crawled once per document") {
    // catalog → c/collection.json → c/i/item.json, every document also
    // linking its parent and the root through `../` hrefs: without dot
    // segment removal each `..` link names an unvisited URL, and the
    // graph is re-crawled under ever-longer URLs
    val base = "s3://staging/nested"
    val cat = s"$base/catalog.json"
    val col = s"$base/c/collection.json"
    val item = s"$base/c/i/item.json"
    def links(ls: (String, String)*) = ls.map { case (h, r) =>
      s"""{"href":"$h","rel":"$r"}""" }.mkString("[", ",", "]")
    val docs = Map(
      cat -> s"""{"type":"Catalog","stac_version":"1.0.0-rc.3","id":"cat",
          "description":"d","links":${links("c/collection.json" -> "child",
            "./catalog.json" -> "root", "catalog.json" -> "self")}}""",
      col -> s"""{"type":"Collection","stac_version":"1.0.0-rc.3",
          "id":"col","description":"d","license":"MIT",
          "extent":{"spatial":{"bbox":[[-180,-90,180,90]]},
            "temporal":{"interval":[["2000-01-01T00:00:00Z",null]]}},
          "assets":{"a2":{"href":"../shared/a2.bin","file:checksum":"1220aa"}},
          "links":${links("i/item.json" -> "item",
            "../catalog.json" -> "parent", "../catalog.json" -> "root",
            "./collection.json" -> "self")}}""",
      item -> s"""{"type":"Feature","stac_version":"1.0.0-rc.3","id":"item",
          "geometry":null,"properties":{"datetime":"2000-01-01T00:00:00Z"},
          "assets":{"a1":{"href":"./a1.bin","file:checksum":"1220bb"}},
          "links":${links("../collection.json" -> "parent",
            "../../catalog.json" -> "root", "item.json" -> "self")}}"""
    ).map { case (u, d) => u -> d.getBytes(UTF_8) }
    val reads = scala.collection.mutable.ArrayBuffer.empty[String]
    val reader = new InMemoryUrlReader(docs) {
      override def open(url: String): java.io.InputStream = {
        reads += url
        super.open(url)
      }
    }
    val out = new StacCrawler(reader).run("ds", "v", cat)
    assert(!out.aborted, out.validations.filter(_.result == Result.Failed))
    // each document fetched once, in the reference's DFS pre-order
    assert(reads == Seq(cat, col, item))
    assert(out.metadata.map(_.url) == Seq(cat, col, item))
    assert(out.metadata.map(_.item_index) == Seq(0L, 1L, 2L))
    // asset hrefs resolve the same way, in discovery order
    assert(out.assets.map(_.url) ==
      Seq(s"$base/shared/a2.bin", s"$base/c/i/a1.bin"))
  }

  test("href resolution removes dot segments, keeps flat hrefs as they were") {
    import StacCrawler.resolve
    val p = "s3://bucket/a/b/item.json"
    assert(resolve("x.json", p) == "s3://bucket/a/b/x.json")
    assert(resolve("../x.json", p) == "s3://bucket/a/x.json")
    assert(resolve("./x.json", p) == "s3://bucket/a/b/x.json")
    assert(resolve("../../../../x.json", p) == "s3://bucket/x.json")
    assert(resolve("c/./d/../x.json", p) == "s3://bucket/a/b/c/x.json")
    assert(resolve("..", p) == "s3://bucket/a/")
    assert(resolve("s3://other/k/../x.json", p) == "s3://other/x.json")
    assert(resolve("x.json?v=../1#../f", p) == "s3://bucket/a/b/x.json?v=../1#../f")
    // RFC 3986 §5.4.1's normal examples, over the path part
    val rfc = "s3://a/b/c/d;p"
    Seq("g" -> "/b/c/g", "./g" -> "/b/c/g", "g/" -> "/b/c/g/",
      "." -> "/b/c/", "./" -> "/b/c/", ".." -> "/b/", "../" -> "/b/",
      "../g" -> "/b/g", "../.." -> "/", "../../" -> "/", "../../g" -> "/g",
      "../../../g" -> "/g", "g;x=1/../y" -> "/b/c/y")
      .foreach { case (h, want) => assert(resolve(h, rfc) == s"s3://a$want", h) }
  }
}
