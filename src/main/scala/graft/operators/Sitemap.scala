package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** sitemap.xml discovery + recrawl planning — the crawl-DISCOVERY
  * complement to [[Robots]] admission: robots decides what a crawler
  * MAY fetch, the sitemap tells it what exists and when it changed,
  * and the recrawl plan decides what is WORTH fetching this cycle.
  *
  * Reference scope note: the reference walks STAC catalog links
  * (`backend/check_stac_metadata/utils.py:99-130`); sitemap discovery
  * is the open-web sibling, beyond-reference like the q148–q177 crawl
  * family.
  *
  * Parsing is ZERO-UDF over the `<url><loc/><lastmod/></url>` subset
  * every real sitemap emits: `regexp_extract_all` over `<url>` blocks
  * (`[\s\S]*?` spans newlines identically in Java regex and RE2, so
  * the DuckDB oracle runs the same pattern), then per-block field
  * extraction. Timestamps stay ISO-8601 DATE STRINGS — they compare
  * lexicographically, so the staleness predicate is engine-exact with
  * no timestamp-parsing parity risk.
  *
  * Scale shape (100 TB crawl): bodies are per-host sized (the RFC caps
  * a sitemap file at 50k URLs) and the block explode is per-entry;
  * the recrawl plan is ONE equi-join of the entry table against the
  * crawl-state table on url — both sides hash-partition on url, the
  * state table is exactly the frontier store's native layout. Nothing
  * is corpus-wide; no windows at all. */
object Sitemap {

  /** Parse sitemap XML bodies into (host, url, lastmod) entries.
    * Entries without a `<loc>` are dropped; a missing `<lastmod>` is
    * NULL. Whitespace around values is stripped by the patterns.
    * `carry` columns ride through unchanged (the index-expansion path
    * keeps each child sitemap's own URL next to its entries). */
  def parse(bodies: DataFrame, hostCol: String, xmlCol: String,
            carry: Seq[String] = Nil): DataFrame =
    parseBlocks(bodies, hostCol, xmlCol, tag = "url", carry)

  /** Parse sitemap INDEX bodies (`<sitemapindex><sitemap>` — the
    * sitemaps.org nesting for sites past the 50k-URL/50 MB per-file
    * caps) into (host, url, lastmod), where `url` is a CHILD sitemap
    * to fetch and `lastmod` its declared change date (NULL when
    * absent — same recrawl semantics as page entries, so
    * [[recrawlPlan]] works unchanged for deciding which child
    * sitemaps are worth re-fetching this cycle). The `<sitemap>` block
    * tag cannot over-match the `<sitemapindex>` opener: the pattern
    * requires the immediate `>`. */
  def parseIndex(bodies: DataFrame, hostCol: String,
                 xmlCol: String): DataFrame =
    parseBlocks(bodies, hostCol, xmlCol, tag = "sitemap", Nil)

  /** The shared zero-UDF block walk: explode `<tag>` blocks, extract
    * loc/lastmod per block. */
  private def parseBlocks(bodies: DataFrame, hostCol: String,
                          xmlCol: String, tag: String,
                          carry: Seq[String]): DataFrame =
    bodies.select(col(hostCol).as("host") +: carry.map(col) :+
        explode(regexp_extract_all(col(xmlCol),
          lit(s"<$tag>([\\s\\S]*?)</$tag>"), lit(1))).as("block"): _*)
      .select(col("host") +: carry.map(col) :+
        regexp_extract(col("block"),
          "<loc>\\s*([\\s\\S]*?)\\s*</loc>", 1).as("url") :+
        regexp_extract(col("block"),
          "<lastmod>\\s*([\\s\\S]*?)\\s*</lastmod>", 1).as("_lm"): _*)
      .filter(col("url") =!= "")
      .select(col("host") +: carry.map(col) :+ col("url") :+
        when(col("_lm") === "", lit(null)).otherwise(col("_lm"))
          .as("lastmod"): _*)

  /** Expand NESTED sitemap indexes to page entries — sitemaps.org
    * allows index-of-index, and real site roots point at a tiered
    * tree. `bodies` is the fetched sitemap corpus keyed by
    * (host, url); `roots` the per-host entry points (e.g. from
    * [[Robots.sitemapDirectives]] discovery). The walk is the
    * [[GraphBfs]] frontier discipline: each round joins the frontier
    * to its bodies, extracts `<sitemap>` children, and anti-joins the
    * VISITED set — a child pointing back up the tree (the crawler-trap
    * cycle) is absorbed, never refetched, never looped on. Depth is
    * capped at `maxDepth` rounds: an index nested deeper stays
    * unexpanded (its pages are absent from the output — the bounded
    * alternative to an adversarial infinite tier chain; q205's cyclic
    * fixture would hang an unguarded walk, so the guard is
    * value-pinned). Finally every visited body parses as a URLSET —
    * index bodies contribute zero `<url>` blocks, so no kind flag is
    * needed — with its own sitemap URL carried beside its entries.
    *
    * Scale shape: ≤ `maxDepth` rounds of (frontier ⋈ bodies) equi-joins
    * + one leaf parse; both sides hash-partition on (host, url),
    * frontiers are localCheckpointed so the lineage stays one round
    * deep. Nothing corpus-wide; the visited set is sitemap-count
    * sized, not page-count sized.
    *
    * @return (host, sitemap_url, url, lastmod) page entries */
  def expandIndexes(bodies: DataFrame, hostCol: String, urlCol: String,
                    xmlCol: String, roots: DataFrame,
                    maxDepth: Int, rootHostCol: String = "host",
                    rootUrlCol: String = "url"): DataFrame = {
    require(maxDepth >= 1, s"need maxDepth >= 1, got $maxDepth")
    val b = bodies.select(col(hostCol).as("_bh"), col(urlCol).as("_bu"),
      col(xmlCol).as("_bx"))
    var visited = roots
      .select(col(rootHostCol).as("host"), col(rootUrlCol).as("url"))
      .distinct()
      .localCheckpoint(eager = true)
    var frontier = visited
    var depth = 0
    while (depth < maxDepth && !frontier.isEmpty) {
      val fetched = frontier.join(b,
          col("host") === col("_bh") && col("url") === col("_bu"))
        .select(col("host"), col("_bx").as("xml"))
      val children = parseIndex(fetched, "host", "xml")
        .select(col("host"), col("url")).distinct()
      // the cycle guard: only never-seen children survive
      val fresh = children.join(visited, Seq("host", "url"), "left_anti")
        .localCheckpoint(eager = true)
      visited = visited.unionByName(fresh).localCheckpoint(eager = true)
      frontier = fresh
      depth += 1
    }
    val leafBodies = visited.join(b,
        col("host") === col("_bh") && col("url") === col("_bu"))
      .select(col("host"), col("url").as("sitemap_url"),
        col("_bx").as("xml"))
    parse(leafBodies, "host", "xml", carry = Seq("sitemap_url"))
  }

  /** Recrawl planner: sitemap entries × crawl state (url, last_fetch)
    * → per-url status: `new` (never fetched), `stale` (lastmod after
    * the last fetch — ISO date strings compare lexicographically),
    * `fresh` otherwise; an entry with no lastmod on a fetched url is
    * `fresh` (no change signal — the politeness default, a crawler
    * re-verifies those on its own slower cycle). */
  def recrawlPlan(entries: DataFrame, state: DataFrame): DataFrame =
    entries.join(state.select(col("url"), col("last_fetch")),
        Seq("url"), "left")
      .select(col("host"), col("url"), col("lastmod"), col("last_fetch"),
        when(col("last_fetch").isNull, "new")
          .when(col("lastmod").isNotNull &&
            col("lastmod") > col("last_fetch"), "stale")
          .otherwise("fresh").as("status"))
}
