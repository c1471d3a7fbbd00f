package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.{SparkEntry, Tables}
import graft.gdl.ImportStatus
import graft.gdl.StoreProbe
import graft.gdl.api.{Api, Response}
import org.apache.spark.perfbench.SparkBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Drives one workload through the engine's public entry points
  * (`Api.*Endpoint`, whose dataset-versions POST runs `ImportPipeline.run`,
  * `ImportStatus.get` and `SparkEntry.queries`) and writes the raw record — per-op latencies,
  * failures, set-up times and, when traced, spans and Spark job/stage
  * metrics — as JSON. `perfbench/run.py` turns the record into metrics.
  *
  * Usage: perfbench.Harness <config.json>
  */
object Harness {
  private[perfbench] val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val cfg = mapper.readTree(new File(args(0)))
    val out = new Harness(cfg).run()
    Files.writeString(Paths.get(cfg.get("result").asText), mapper.writeValueAsString(out))
  }
}

/** Thrown by an op whose response or output is not the expected one. */
final class WrongOutput(msg: String) extends RuntimeException(msg)

class Harness(cfg: JsonNode) {
  import Harness.mapper

  private val workload = cfg.get("workload").asText
  private val seed = cfg.get("seed").asLong
  private val seconds = cfg.get("seconds").asDouble
  private val traced = cfg.get("trace").asBoolean
  private val work = cfg.get("work").asText
  private val setups = cfg.get("setups").asInt
  private val budgetS = cfg.get("measure_budget_s").asDouble
  private val started = System.nanoTime()
  private def str(k: String): String = cfg.get(k).asText

  private val rng = new Random(seed)
  private val out = mapper.createObjectNode()
  private val ops = out.putArray("ops")
  private val failures = out.putArray("failures")
  private val setupS = out.putArray("setup_s")
  private val lookups = out.putArray("lookups")

  private var spark: SparkSession = _
  private val listener = new EngineListener
  private var nextReq = 0L
  private var units = 0
  private val kindSeen = mutable.Map.empty[String, Int].withDefaultValue(0)
  private var lastTraced = false
  private var liveStore: BenchStore = _

  // deterministic wall clock for the engine: one second per call
  private val epoch = Instant.parse("2024-05-01T00:00:00Z")
  private var ticks = 0L
  private val clock: () => Instant = () => { ticks += 1; epoch.plusSeconds(ticks) }

  def run(): ObjectNode = {
    val t0 = System.nanoTime()
    spark = SparkSession.builder()
      .master(s"local[${cfg.get("cores").asInt}]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    out.put("session_s", (System.nanoTime() - t0) / 1e9)
    out.put("base_ns", System.nanoTime())
    out.put("base_ms", System.currentTimeMillis())
    spark.sparkContext.addSparkListener(listener)
    if (traced) {
      Trace.onDriverTop = id => spark.sparkContext.setLocalProperty(
        EngineListener.SpanKey, if (id == 0L) null else id.toString)
    }
    workload match {
      case "api_mixed" => apiWorkload()
      case "operator_queries" => queryWorkload()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (traced) writeTrace()
    if (liveStore != null) writeGenerations(liveStore)
    out.put("peak_rss_kb", peakRssKb())
    spark.stop()
    out
  }

  // ---- ops ----------------------------------------------------------------

  /** Runs one op: times it, records it, and turns an exception or a
    * wrong output into a failure entry instead of ending the workload.
    * A traced run traces the measured ops of each kind in the order
    * traced, untraced, untraced, traced (repeating), so traced and
    * untraced ops of a kind sit at the same mean position: the tracing
    * overhead it states is not mixed with warm-up or with the store
    * growing from op to op. */
  private def op(kind: String, measured: Boolean = true)(body: => Unit): Boolean = {
    nextReq += 1
    val req = nextReq
    val on = measured && traced && {
      val k = kindSeen(kind)
      kindSeen(kind) = k + 1
      k % 4 == 0 || k % 4 == 3
    }
    lastTraced = on
    if (on) {
      Trace.beginRequest(req)
      spark.sparkContext.setLocalProperty(EngineListener.ReqKey, req.toString)
      Trace.enabled = true
    }
    val t0 = System.nanoTime()
    var error: String = null
    try Trace.span(s"op.$kind")(body)
    catch { case NonFatal(e) => error = s"${e.getClass.getName}: ${e.getMessage}" }
    val ms = (System.nanoTime() - t0) / 1e6
    if (on) {
      Trace.enabled = false
      Trace.endRequest()
      spark.sparkContext.setLocalProperty(EngineListener.ReqKey, null)
    }
    val o = ops.addObject()
    o.put("req", req).put("kind", kind).put("ms", ms)
      .put("measured", measured).put("traced", on).put("ok", error == null)
    if (error != null)
      failures.addObject().put("req", req).put("op", kind).put("error", error)
    error == null
  }

  private def expect(cond: Boolean, what: => String): Unit =
    if (!cond) throw new WrongOutput(what)

  /** Repeats a measured unit (a block of API requests, a pass over the
    * queries) until `seconds` have passed. A traced run goes on to a
    * multiple of four units, so an op that comes once per unit completes
    * its traced/untraced group, unless the run's time budget
    * (`measure_budget_s` from the JVM's start) is spent first. */
  private def untilElapsed(unit: => Unit): Unit = {
    val threadCpu = java.lang.management.ManagementFactory.getThreadMXBean
    val t0 = System.nanoTime()
    val (ms0, cpu0) = (System.currentTimeMillis(), threadCpu.getCurrentThreadCpuTime)
    do {
      units += 1
      unit
    } while ((System.nanoTime() - t0) / 1e9 < seconds ||
      (traced && units % 4 != 0 && (System.nanoTime() - started) / 1e9 < budgetS))
    val (ms1, cpu1) = (System.currentTimeMillis(), threadCpu.getCurrentThreadCpuTime)
    SparkBus.drain(spark.sparkContext)
    val taskCpuNs = listener.stages.asScala
      .filter(st => st.doneMs >= ms0 && st.doneMs <= ms1).map(_.cpuNs).sum
    out.put("measure_s", (System.nanoTime() - t0) / 1e9).put("units", units)
      .put("measure_client_cpu_s", (cpu1 - cpu0) / 1e9)
      .put("measure_task_cpu_s", taskCpuNs / 1e9)
    ()
  }

  private def setup(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    setupS.add((System.nanoTime() - t0) / 1e9)
  }

  private def json(r: Response): JsonNode = mapper.readTree(r.body)

  /** (files a status lookup of `executionId` reads, live files), taken
    * outside any timed region. */
  private def recordLookup(store: BenchStore, executionId: String): Unit = {
    val (read, total) = store.scanFileCounts("import_executions",
      col("execution_id") === executionId)
    lookups.addArray().add(read).add(total)
    ()
  }

  // ---- api_mixed -----------------------------------------------------------

  /** Client-side model of the catalog, used to pick request targets and
    * to state each response's expected outcome. */
  private final class Model {
    val titles = mutable.LinkedHashMap.empty[String, String] // id -> title
    var fresh: Option[String] = None                         // this block's POST
    val executions = mutable.ArrayBuffer.empty[String]
    var latest: Option[String] = None                        // this block's version
    var titleSeq = 0
    def freshTitle(): String = { titleSeq += 1; s"api_${titleSeq}_${rng.nextInt(1000000)}" }
    def pick[A](xs: collection.Seq[A]): A = xs(rng.nextInt(xs.size))
  }

  private def apiWorkload(): Unit = {
    val reader = new BenchReader(str("bucket"), str("staging"))
    var api: Api = null
    var store: BenchStore = null
    var model: Model = null
    for (k <- 1 to setups) setup {
      store = new BenchStore(spark, s"$work/tables-$k")
      api = new Api(spark, store, reader, s"$work/storage-$k", clock)
      model = new Model
      for (i <- 1 to cfg.get("datasets").asInt) {
        val title = s"seed_$i"
        val r = api.datasetsEndpoint("POST", s"""{"title": "$title"}""")
        require(r.statusCode == 201, s"dataset create failed: ${r.body}")
        model.titles(json(r).get("id").asText) = title
      }
    }
    out.put("tables", s"$work/tables-$setups").put("storage", s"$work/storage-$setups")
    liveStore = store
    val status = new ImportStatus(spark, store)
    // every version is imported into the first seeded dataset, which no
    // request renames or deletes
    val (datasetId, datasetTitle) = model.titles.head
    val clean = mutable.ArrayBuffer.empty[String]
    def postVersion(graph: String): String = {
      val r = api.datasetVersionsEndpoint("POST",
        s"""{"id": "$datasetId", "metadata-url": "${str(s"${graph}_url")}"}""")
      expect(r.statusCode == 201, s"status ${r.statusCode}: ${r.body}")
      json(r).get("execution_arn").asText
    }

    def datasetBody(r: Response, code: Int, id: String, title: String): Unit = {
      expect(r.statusCode == code, s"status ${r.statusCode}: ${r.body}")
      val b = json(r)
      expect(b.get("id").asText == id && b.get("title").asText == title,
        s"body ${r.body}, expected $id/$title")
    }
    def request(kind: String): Unit = kind match {
      case "datasets.get_id" =>
        val id = model.pick(model.titles.keys.toSeq)
        op(kind) {
          datasetBody(api.datasetsEndpoint("GET", s"""{"id": "$id"}"""), 200, id,
            model.titles(id))
        }
      case "datasets.get_title" =>
        val (id, title) = model.pick(model.titles.toSeq)
        op(kind) {
          datasetBody(api.datasetsEndpoint("GET", s"""{"title": "$title"}"""), 200,
            id, title)
        }
      case "datasets.list" =>
        op(kind) {
          val r = api.datasetsEndpoint("GET", "{}")
          expect(r.statusCode == 200, s"status ${r.statusCode}")
          val got = json(r).elements().asScala.map(_.get("id").asText).toSet
          expect(got == model.titles.keySet, s"listed ${got.size} datasets, " +
            s"expected ${model.titles.size}")
        }
      case "import_status.get" =>
        // the block's first status read polls the version it just imported,
        // so every clean version's status is checked; later ones pick any
        val arn = model.latest.orElse(
          if (model.executions.isEmpty) None else Some(model.pick(model.executions)))
        model.latest = None
        op(kind) {
          if (arn.isEmpty) throw new WrongOutput("no version imported yet")
          val r = api.importStatusEndpoint("GET", s"""{"execution_arn": "${arn.get}"}""")
          expect(r.statusCode == 200, s"status ${r.statusCode}: ${r.body}")
          val b = json(r)
          def st(section: String) = b.get(section).get("status").asText
          expect(st("step function") == "Succeeded" && st("validation") == "Passed" &&
            st("metadata upload") == "Complete" && st("asset upload") == "Complete",
            s"import status ${r.body}")
        }
        if (lastTraced) arn.foreach(recordLookup(store, _))
      case "datasets.post" =>
        val title = model.freshTitle()
        var id = ""
        val ok = op(kind) {
          val r = api.datasetsEndpoint("POST", s"""{"title": "$title"}""")
          expect(r.statusCode == 201, s"status ${r.statusCode}: ${r.body}")
          id = json(r).get("id").asText
          datasetBody(r, 201, id, title)
        }
        model.fresh = if (ok) { model.titles(id) = title; Some(id) } else None
      case "datasets.patch" =>
        val title = model.freshTitle()
        val ok = op(kind) {
          val id = model.fresh.getOrElse(throw new WrongOutput("the block's POST failed"))
          datasetBody(api.datasetsEndpoint("PATCH",
            s"""{"id": "$id", "title": "$title"}"""), 200, id, title)
        }
        if (ok) model.titles(model.fresh.get) = title
      case "datasets.delete" =>
        val ok = op(kind) {
          val id = model.fresh.getOrElse(throw new WrongOutput("the block's POST failed"))
          val r = api.datasetsEndpoint("DELETE", s"""{"id": "$id"}""")
          expect(r.statusCode == 204, s"status ${r.statusCode}: ${r.body}")
        }
        if (ok) model.titles.remove(model.fresh.get)
        model.fresh = None
      case "dataset_versions.post" =>
        var exec = ""
        val ok = op(kind) { exec = postVersion("clean") }
        if (ok) { model.executions += exec; model.latest = Some(exec); clean += exec }
    }

    // the seeded-defect versions first, which also warm the JIT: failed
    // validation and skipped uploads; run.py compares the per-check
    // failure counts with what was injected
    val defects = out.putObject("defects")
    for (name <- Seq("defect", "schema")) {
      op(s"warmup.$name", measured = false) {
        val exec = postVersion(name)
        val r = status.get(exec).fold(e => throw new WrongOutput(e), identity)
        val d = defects.putObject(name)
        d.put("execution", exec).put("validation", r.validation.status)
          .put("metadata_upload", r.metadataUpload.status)
          .put("asset_upload", r.assetUpload.status)
        val counts = d.putObject("failed_checks")
        r.validation.errors.groupBy(_.check).foreach { case (c, es) =>
          counts.put(c, es.size) }
      }
    }
    // one block = a version import, 26 reads and 3 dataset writes in a
    // fixed order: the block imports a version of the seeded graph and
    // reads its status (which must be Succeeded/Passed/Complete/Complete),
    // POSTs a dataset, PATCHes it and DELETEs it, then reads. Each write
    // adds a table generation that later reads pay for, so the writes come
    // first and every read of a block sees the same store. The seed picks
    // the titles and which datasets and versions the reads name. 24 of the
    // 30 requests are single-row reads or lists of similar cost, so the
    // median request sits inside that group rather than at its edge.
    val cheap = Seq("datasets.get_id", "datasets.get_title", "datasets.get_id",
      "datasets.list", "datasets.get_title", "datasets.get_id")
    val block = Seq("dataset_versions.post", "import_status.get", "datasets.post",
      "datasets.patch", "datasets.delete") ++ cheap ++ cheap ++
      Seq("import_status.get") ++ cheap ++ cheap
    untilElapsed(block.foreach(request))
    out.put("dataset_id", datasetId).put("title", datasetTitle)
    val versions = out.putArray("clean_versions")
    clean.foreach(e => versions.add(e.stripPrefix("execution-")))
    writeIo()
  }

  // ---- operator_queries ----------------------------------------------------

  private val modules: Seq[(String, Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame])] = Seq(
    "RelationalOps" -> graft.queries.RelationalOps.queries,
    "TextOps" -> graft.queries.TextOps.queries,
    "VectorOps" -> graft.queries.VectorOps.queries,
    "EventOps" -> graft.queries.EventOps.queries,
    "JsonOps" -> graft.queries.JsonOps.queries,
    "CurationOps" -> graft.queries.CurationOps.queries,
    "HtmlOps" -> graft.queries.HtmlOps.queries,
    "NormalizeOps" -> graft.queries.NormalizeOps.queries,
    "GeoOps" -> graft.queries.GeoOps.queries)

  /** Drops cached data and persisted RDDs and collects garbage between
    * queries, so each one starts from the same session state. */
  private def scrub(gc: Boolean): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    if (gc) System.gc()
  }

  private def queryWorkload(): Unit = {
    val dataDir = str("data")
    val names = cfg.get("queries").elements().asScala.map(_.asText).toIndexedSeq
    val all = SparkEntry.queries
    val missing = names.filterNot(all.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(", ")}")
    val mods = out.putObject("query_modules")
    names.foreach(n => mods.put(n, modules.find(_._2.contains(n)).map(_._1).getOrElse("?")))

    // set-up: pull every table's bytes through the page cache
    for (_ <- 1 to setups) setup {
      Tables.names.foreach(n =>
        Tables.load(spark, dataDir, n).write.format("noop").mode("overwrite").save())
    }
    // untimed pass that also warms the JIT: each output goes to parquet,
    // and run.py checks it against the query's pinned oracle result
    val v0 = System.nanoTime()
    names.foreach { n =>
      scrub(gc = false)
      op(s"verify.$n", measured = false) {
        all(n)(spark, dataDir).write.mode("overwrite").parquet(s"${str("qout")}/$n")
      }
    }
    out.put("verify_s", (System.nanoTime() - v0) / 1e9)
    untilElapsed {
      names.foreach { n =>
        scrub(gc = true)
        op(n) { all(n)(spark, dataDir).write.format("noop").mode("overwrite").save() }
      }
    }
  }

  // ---- trace record --------------------------------------------------------

  private def writeIo(): Unit = {
    val io = out.putObject("io")
    for ((k, c) <- Seq("driver" -> Trace.driverIo, "task" -> Trace.taskIo))
      io.putObject(k).put("opens", c.opens.get).put("bytes", c.bytes.get)
        .put("busy_ns", c.busyNs.get)
  }

  /** Every table's live generation count, by the store's own rules. */
  private def writeGenerations(store: BenchStore): Unit = {
    val gens = out.putObject("generations")
    Option(new File(out.get("tables").asText).listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).map(_.getName).sorted
      .foreach(t => gens.put(t, StoreProbe.liveGenerations(store, t)))
  }

  private def writeTrace(): Unit = {
    val spans = out.putArray("spans")
    Trace.drain().sortBy(_.id).foreach { s =>
      spans.addArray().add(s.id).add(s.parent).add(s.name).add(s.req)
        .add(s.start).add(s.end).add(s.task)
    }
    val jobs = out.putArray("jobs")
    listener.jobs.asScala.foreach { j =>
      val a = jobs.addArray().add(j.id).add(j.span).add(j.req)
      val st = a.addArray()
      j.stages.foreach(st.add(_))
    }
    val stages = out.putArray("stages")
    listener.stages.asScala.foreach { s =>
      stages.addArray().add(s.id).add(s.submitMs).add(s.doneMs).add(s.tasks)
        .add(s.runMs).add(s.cpuNs).add(s.gcMs).add(s.shuffleRead)
        .add(s.shuffleWrite).add(s.spill).add(s.input)
    }
  }

  private def peakRssKb(): Long =
    try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    } catch { case NonFatal(_) => 0L }
}
