package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.ops.TableIO

/** In-memory tracing from the benchmark's side of the public API: spans
  * around calls into each layer, Spark's public listeners, and a
  * counting [[TableIO]] delegate. When enabled, instrumentation is
  * switched on for every other op of each kind (and of each query), so
  * one run yields both the per-layer numbers and the instrumented minus
  * uninstrumented op time — the tracing overhead.
  */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  @volatile var on: Boolean = enabled
  @volatile private var current: Int = -1
  private val t0 = System.nanoTime()
  // spans come from the driving thread only; engine-internal threads
  // (the streaming executor) are measured through the listeners instead
  private val owner = Thread.currentThread()
  private val spans = mutable.ArrayBuffer[Array[Any]]()
  private val stack = mutable.Stack[Int]()
  private val perOp = mutable.Map[Int, mutable.Map[String, Double]]()
  private val io = mutable.Map[String, Array[Double]]()     // method -> (calls, ms, bytes)
  private val listings = mutable.ArrayBuffer[Map[String, Long]]()

  private def add(op: Int, k: String, v: Double): Unit = synchronized {
    if (op >= 0) {
      val m = perOp.getOrElseUpdate(op, mutable.Map())
      m(k) = m.getOrElse(k, 0.0) + v
    }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = add(current, "spark.jobs", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      add(current, "spark.task_ms", m.executorRunTime.toDouble)
      add(current, "spark.shuffle_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add(current, "spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
    }
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      add(current, "spark.sql_executions", 1)
      val phases = qe.tracker.phases
      add(current, "spark.planning_ms",
        Seq("analysis", "optimization", "planning").flatMap(phases.get).map(_.durationMs.toDouble).sum)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      add(current, "spark.sql_executions", 1)
  }
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      e.progress.durationMs.asScala.foreach { case (k, v) => add(current, s"stream.$k", v.doubleValue) }
      add(current, "stream.rows", e.progress.numInputRows.toDouble)
    }
  }

  private var registered = false
  private def register(want: Boolean): Unit = if (want != registered) {
    if (want) {
      spark.sparkContext.addSparkListener(sparkListener)
      spark.listenerManager.register(qeListener)
      spark.streams.addListener(streamListener)
    } else {
      spark.sparkContext.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(qeListener)
      spark.streams.removeListener(streamListener)
    }
    registered = want
  }
  register(enabled)

  /** Switch instrumentation for the next op. */
  def set(want: Boolean): Unit = if (enabled) { on = want; register(want) }

  def stop(): Unit = register(false)

  /** Record `body` as a span (name, start, end, parent, op) when on. */
  def span[A](name: String, op: Int = -1)(body: => A): A = {
    if (!on || (Thread.currentThread() ne owner)) return body
    val idx = synchronized {
      spans += Array[Any](name, System.nanoTime() - t0, 0L, stack.headOption.getOrElse(-1),
        if (op >= 0) op else current)
      spans.size - 1
    }
    if (stack.isEmpty) current = op
    stack.push(idx)
    try body
    finally {
      stack.pop()
      spans(idx)(2) = System.nanoTime() - t0
    }
  }

  /** After a timed op: let the listener bus deliver its events (outside
    * the timed region) before the next op claims them.
    */
  def endOp(): Unit = if (on) { Thread.sleep(40); current = -1 }

  /** Drop what set-up recorded: the layer numbers describe timed ops. */
  def resetCounters(): Unit = synchronized {
    spans.clear(); perOp.clear(); io.clear(); listings.clear()
  }

  def countIo(method: String, ms: Double, bytes: Long): Unit = synchronized {
    val a = io.getOrElseUpdate(method, Array(0.0, 0.0, 0.0))
    a(0) += 1; a(1) += ms; a(2) += bytes
  }

  /** Files a commit added to a table directory, from listings taken just
    * before and after it.
    */
  def listingDelta(before: Listing, after: Listing): Unit = {
    val added = after.files.filter { case (p, n) => !before.files.get(p).contains(n) }
    val data = added.filter(_._1.endsWith(".parquet"))
    listings += Map("bytes" -> added.values.sum, "data_files" -> data.size.toLong,
      "meta_files" -> (added.size - data.size).toLong,
      "versions" -> after.files.keys.map(_.split('/')(1)).count(_.matches("v\\d{8}")).toLong)
  }

  def report(): Map[String, Any] = synchronized {
    Map(
      "spans" -> spans.map(_.toSeq).toSeq,
      "per_op" -> perOp.map { case (k, v) => k.toString -> v.toMap }.toMap,
      "io" -> io.map { case (k, a) => k -> a.toSeq }.toMap,
      "listings" -> listings.toSeq)
  }
}

object Trace {
  def heapAfterGcMb(): Double = {
    System.gc()
    val r = Runtime.getRuntime
    (r.totalMemory() - r.freeMemory()) / 1048576.0
  }
}

/** [[TableIO]] delegate that counts and times every commit-protocol call
  * while tracing is on, and records each as an `ops.TableIO` span.
  */
final class CountingIO(inner: TableIO, trace: Trace) extends TableIO {
  import TableIO.Entry
  private def c[A](method: String, bytes: Long = 0L)(body: => A): A =
    if (!trace.on) body
    else {
      val t = System.nanoTime()
      try trace.span(s"ops.TableIO.$method")(body)
      finally trace.countIo(method, (System.nanoTime() - t) / 1e6, bytes)
    }
  def exists(p: String): Boolean = c("exists")(inner.exists(p))
  def readString(p: String): String = c("readString")(inner.readString(p))
  def readLines(p: String): Seq[String] = c("readLines")(inner.readLines(p))
  def writeString(p: String, s: String): Unit = c("writeString", s.length.toLong)(inner.writeString(p, s))
  def writeAtomic(p: String, s: String): Unit = c("writeAtomic", s.length.toLong)(inner.writeAtomic(p, s))
  def mkdirs(p: String): Unit = c("mkdirs")(inner.mkdirs(p))
  def createDirExclusive(p: String): Boolean = c("createDirExclusive")(inner.createDirExclusive(p))
  def list(p: String): Seq[Entry] = c("list")(inner.list(p))
  def lastModified(p: String): Long = c("lastModified")(inner.lastModified(p))
  def linkOrCopy(s: String, d: String): Unit = c("linkOrCopy")(inner.linkOrCopy(s, d))
  def copy(s: String, d: String): Unit = c("copy")(inner.copy(s, d))
  def deleteRecursively(p: String): Unit = c("deleteRecursively")(inner.deleteRecursively(p))
}
