package graft.gdl

import graft.gdl.expr.{StacValidator, StrictJson}
import com.fasterxml.jackson.databind.JsonNode

import scala.collection.mutable

/** STAC metadata-graph crawler ≙ STACDatasetValidator
  * (/root/reference/backend/check_stac_metadata/utils.py:51-130).
  *
  * DFS pre-order with a traversed-URL cycle guard, exactly mirroring
  * the reference's recursion so item indices (METADATA_ITEM_INDEX#i /
  * DATA_ITEM_INDEX#i) are assigned in the same discovery order
  * (SURVEY §7.4 risk #3): metadata URL appended after its doc validates,
  * assets appended per doc, links walked last. The walk itself is an
  * EXPLICIT-STACK worklist, not JVM recursion (the reference recurses,
  * utils.py:126-130) — an adversarially deep link chain must exhaust
  * the [[StacCrawler.DefaultMaxDocs]] cap, never the driver's stack.
  *
  * Metadata graphs are small (the reference recurses in one Lambda's
  * memory, 60 s cap); the asset fan-out — the actual 100 TB surface —
  * is distributed in [[ChecksumValidator]]. Past `maxDocs` documents
  * the crawl records a failure row and aborts like any traversal
  * error: the right tool for a graph that size is the distributed
  * path ([[graft.sources.StacSource.readDocs]] → `validateDocs` for
  * the checks, [[graft.operators.GraphBfs.reachableFrom]] over
  * `StacSource.edges` for reachability — StacSourceSpec pins it equal
  * to the crawler's traversal set). Any traversal error is recorded
  * as a validation row and aborts the crawl WITHOUT emitting asset
  * rows (utils.py:78-82: errors are swallowed after recording and the
  * save loop is skipped).
  */
final case class CrawlOutput(
    metadata: Seq[ProcessingAssetRow],
    assets: Seq[ProcessingAssetRow],
    validations: Seq[ValidationRow],
    aborted: Boolean)

object StacCrawler {
  /** Driver-memory guard on the visited set (and therefore on the
    * explicit DFS stack, which never outgrows it). Generous for real
    * STAC catalogs — the reference's whole crawl fits one Lambda —
    * while bounding what a crawler-trap graph can cost the driver. */
  val DefaultMaxDocs: Int = 100000

  /** An href resolved against the URL of the document holding it
    * (O-15, utils.py:43-48): an `s3://` href as is, a relative one
    * against the parent's directory. Dot segments are then removed
    * (RFC 3986 §5.2.4), so `../catalog.json` from a nested item names
    * the same URL the catalog was visited under and the cycle guard
    * holds; the scheme, bucket, query and fragment are kept as they
    * are. */
  def resolve(href: String, parentUrl: String): String = {
    val url =
      if (href.startsWith("s3://")) href
      else s"${parentUrl.substring(0, parentUrl.lastIndexOf('/'))}/$href"
    val from = url.indexOf('/', "s3://".length)
    if (from < 0) url
    else {
      val to = url.indexWhere(c => c == '?' || c == '#', from) match {
        case -1 => url.length
        case i  => i
      }
      url.substring(0, from) + removeDotSegments(url.substring(from, to)) +
        url.substring(to)
    }
  }

  /** RFC 3986 §5.2.4 over an absolute path, as a segment stack: `.`
    * drops, `..` pops its parent (never above the root), and a
    * trailing `.`/`..` leaves the path ending in `/`. */
  private[gdl] def removeDotSegments(path: String): String = {
    val segs = path.split("/", -1).drop(1)
    val out = mutable.ArrayBuffer.empty[String]
    segs.iterator.zipWithIndex.foreach { case (seg, i) =>
      val last = i == segs.length - 1
      seg match {
        case "."  => if (last) out += ""
        case ".." =>
          if (out.nonEmpty) out.remove(out.size - 1)
          if (last) out += ""
        case _    => out += seg
      }
    }
    out.mkString("/", "/", "")
  }
}

class StacCrawler(reader: UrlReader,
                  maxDocs: Int = StacCrawler.DefaultMaxDocs) {

  private class Abort extends RuntimeException

  def run(datasetId: String, versionId: String, metadataUrl: String): CrawlOutput = {
    // LinkedHashSet: O(1) membership (the cycle guard runs once per link)
    // while preserving discovery order, unlike the reference's O(n) list
    val traversed = mutable.LinkedHashSet.empty[String]
    val metadataUrls = mutable.ArrayBuffer.empty[String]
    val assets = mutable.ArrayBuffer.empty[(String, String)] // (url, multihash)
    val validations = mutable.ArrayBuffer.empty[ValidationRow]

    def record(url: String, check: String, result: String,
               details: Map[String, String] = Map.empty): Unit =
      validations += ValidationRow(datasetId, versionId, check, url, result, details)

    // O-16: scheme gate (utils.py:67-76)
    if (!metadataUrl.startsWith("s3://")) {
      record(metadataUrl, Check.NonS3Url, Result.Failed,
        Map("message" -> s"URL doesn't start with “s3://”: “$metadataUrl”"))
      return CrawlOutput(Nil, Nil, validations.toSeq, aborted = true)
    }

    import StacCrawler.resolve

    def getObject(url: String): JsonNode = { // utils.py:132-152
      val text =
        try reader.readString(url)
        catch {
          case e: Exception =>
            record(url, Check.StagingAccess, Result.Failed,
              Map("message" -> String.valueOf(e.getMessage)))
            throw new Abort
        }
      val out = StrictJson.parse(text)
      out.duplicateKeys.foreach { key => // recorded, parse continues (first wins)
        record(url, Check.DuplicateObjectKey, Result.Failed,
          Map("message" -> s"Found duplicate object name “$key” in “$url”"))
      }
      out.parseError.foreach { msg =>
        record(url, Check.JsonParse, Result.Failed, Map("message" -> msg))
        throw new Abort
      }
      out.node.get
    }

    // One frame per document whose links are still being walked:
    // (links array, cursor, the doc's own URL for href resolution).
    // LIFO stack + per-frame cursor replays the reference recursion's
    // order exactly — visit node, then its links left to right, each
    // unvisited link visited depth-first before the next sibling.
    final class Frame(val links: JsonNode, val parentUrl: String) {
      var i: Int = 0
    }
    val stack = mutable.ArrayDeque.empty[Frame]

    def visit(url: String): Unit = { // utils.py:99-124, sans recursion
      if (traversed.size >= maxDocs) {
        record(url, Check.TraversalCap, Result.Failed,
          Map("message" -> (s"Metadata graph exceeds $maxDocs documents; " +
            "validate it with the distributed path (StacSource + GraphBfs)")))
        throw new Abort
      }
      traversed += url
      val doc = getObject(url)
      val stacType = StacValidator.typeOf(doc).getOrElse("")
      StacValidator.validate(doc, stacType) match {
        case Some(error) =>
          record(url, Check.JsonSchema, Result.Failed, Map("message" -> error))
          throw new Abort
        case None =>
          record(url, Check.JsonSchema, Result.Passed)
      }
      metadataUrls += url
      val assetsNode = doc.get("assets")
      if (assetsNode != null && assetsNode.isObject) {
        val it = assetsNode.properties().iterator()
        while (it.hasNext) {
          val a = it.next().getValue
          assets += ((resolve(a.get("href").asText, url), a.get("file:checksum").asText))
        }
      }
      val links = doc.get("links")
      if (links != null && links.isArray && links.size() > 0)
        stack.append(new Frame(links, url))
    }

    val aborted =
      try {
        visit(metadataUrl)
        while (stack.nonEmpty) { // utils.py:126-130, iterative
          val top = stack.last
          if (top.i >= top.links.size()) { stack.removeLast(); () }
          else {
            val next = resolve(top.links.get(top.i).get("href").asText,
              top.parentUrl)
            top.i += 1
            if (!traversed(next)) visit(next)
          }
        }
        false
      } catch { case _: Abort => true }

    if (aborted) CrawlOutput(Nil, Nil, validations.toSeq, aborted = true)
    else CrawlOutput(
      metadataUrls.zipWithIndex.map { case (u, i) =>
        ProcessingAssetRow(datasetId, versionId, "METADATA", i.toLong, u, None)
      }.toSeq,
      assets.zipWithIndex.map { case ((u, mh), i) =>
        ProcessingAssetRow(datasetId, versionId, "DATA", i.toLong, u, Some(mh))
      }.toSeq,
      validations.toSeq,
      aborted = false)
  }
}
