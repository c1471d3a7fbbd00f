package perfbench

import java.io.{FilterInputStream, InputStream}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import graft.gdl.{HadoopUrlReader, TableStore, UrlReader}
import org.apache.spark.TaskContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** One timed interval. `parent` is the innermost open driver-thread span
  * when this one started (for task-thread spans: the driver span that was
  * open while the task ran); `req` is the benchmark op it belongs to. */
final case class Span(id: Long, parent: Long, name: String, req: Long,
                      start: Long, end: Long, task: Boolean)

/** In-memory span recorder. Spans are kept only while `enabled`; the
  * harness writes them out once the workload has finished. Spans opened
  * on a Spark task thread (local mode runs tasks inside this JVM) take
  * the driver's innermost open span as their parent. */
object Trace {
  @volatile var enabled: Boolean = false
  @volatile private var request: Long = 0L
  @volatile private var driverTop: Long = 0L
  /** Called with the driver's innermost open span id whenever it changes,
    * so the harness can tag Spark jobs with the span that submitted them. */
  @volatile var onDriverTop: Long => Unit = _ => ()

  private val ids = new AtomicLong(1L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[java.util.ArrayDeque[java.lang.Long]](
    () => new java.util.ArrayDeque[java.lang.Long]())

  def beginRequest(id: Long): Unit = request = id
  def endRequest(): Unit = request = 0L

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val task = TaskContext.get() != null
      val id = ids.getAndIncrement()
      val st = stack.get()
      val parent = if (task) driverTop else if (st.isEmpty) 0L else st.peek().longValue
      if (!task) { st.push(id); setTop(id) }
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        if (!task) { st.pop(); setTop(if (st.isEmpty) 0L else st.peek().longValue) }
        spans.add(Span(id, parent, name, request, t0, t1, task))
      }
    }

  private def setTop(id: Long): Unit = { driverTop = id; onDriverTop(id) }

  def drain(): Seq[Span] = {
    val out = Seq.newBuilder[Span]
    var s = spans.poll()
    while (s != null) { out += s; s = spans.poll() }
    out.result()
  }

  /** Reader counters, split by the thread that did the IO. */
  final class IoCounters {
    val opens = new AtomicLong
    val bytes = new AtomicLong
    val busyNs = new AtomicLong
  }
  val driverIo = new IoCounters
  val taskIo = new IoCounters
  def io: IoCounters = if (TaskContext.get() != null) taskIo else driverIo
}

/** Maps the staging bucket `s3://<bucket>/…` onto a local directory and
  * reads through [[HadoopUrlReader]]; with tracing on, every open is a
  * span and every stream counts its bytes and the time spent in reads. */
class BenchReader(bucket: String, localRoot: String) extends UrlReader {
  private val inner = new HadoopUrlReader(null)
  private val prefix = s"s3://$bucket/"

  private def local(url: String): String =
    if (url.startsWith(prefix)) s"file:$localRoot/${url.stripPrefix(prefix)}" else url

  override def open(url: String): InputStream =
    if (!Trace.enabled) inner.open(local(url))
    else {
      val c = Trace.io
      val t0 = System.nanoTime()
      val in = Trace.span("reader.open")(inner.open(local(url)))
      c.opens.incrementAndGet()
      c.busyNs.addAndGet(System.nanoTime() - t0)
      new CountingStream(in, c)
    }

  override def exists(url: String): Boolean = inner.exists(local(url))
}

final class CountingStream(in: InputStream, c: Trace.IoCounters)
    extends FilterInputStream(in) {
  override def read(): Int = {
    val t0 = System.nanoTime()
    val b = super.read()
    c.busyNs.addAndGet(System.nanoTime() - t0)
    if (b >= 0) c.bytes.incrementAndGet()
    b
  }
  override def read(buf: Array[Byte], off: Int, len: Int): Int = {
    val t0 = System.nanoTime()
    val n = super.read(buf, off, len)
    c.busyNs.addAndGet(System.nanoTime() - t0)
    if (n > 0) c.bytes.addAndGet(n.toLong)
    n
  }
}

/** [[TableStore]] whose public table operations are spans. */
class BenchStore(spark: SparkSession, root: String) extends TableStore(spark, root) {
  override def append(table: String, df: DataFrame): Unit =
    Trace.span(s"store.append:$table")(super.append(table, df))
  override def overwrite(table: String, df: DataFrame): Unit =
    Trace.span(s"store.overwrite:$table")(super.overwrite(table, df))
  override def read(table: String): Option[DataFrame] =
    Trace.span(s"store.read:$table")(super.read(table))
  override def scan(table: String, predicate: Column): Option[DataFrame] =
    Trace.span(s"store.scan:$table")(super.scan(table, predicate))
  override def merge(table: String, updates: DataFrame, keyCols: Seq[String]): Unit =
    Trace.span(s"store.merge:$table")(super.merge(table, updates, keyCols))
  override def deleteWhere(table: String, predicate: Column): Unit =
    Trace.span(s"store.delete:$table")(super.deleteWhere(table, predicate))
  override def foldDeltas(table: String): Boolean =
    Trace.span(s"store.fold:$table")(super.foldDeltas(table))
  override def compact(table: String): Unit =
    Trace.span(s"store.compact:$table")(super.compact(table))
}

final case class JobRec(id: Int, span: Long, req: Long, stages: Seq[Int])
final case class StageRec(id: Int, submitMs: Long, doneMs: Long, tasks: Int,
                          runMs: Long, cpuNs: Long, gcMs: Long,
                          shuffleRead: Long, shuffleWrite: Long, spill: Long,
                          input: Long)

/** Job → (span, op) attribution and per-stage task metrics. */
class EngineListener extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String): Long =
      Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        .map(_.toLong).getOrElse(0L)
    jobs.add(JobRec(e.jobId, prop(EngineListener.SpanKey),
      prop(EngineListener.ReqKey), e.stageIds))
    ()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) {
      stages.add(StageRec(i.stageId, i.submissionTime.getOrElse(0L),
        i.completionTime.getOrElse(0L), i.numTasks, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead))
    }
    ()
  }
}

object EngineListener {
  val SpanKey = "perfbench.span"
  val ReqKey = "perfbench.req"
}
