package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

/** Spans and counters the harness records around its calls into the
  * engine. A disabled tracer runs bodies untouched and records nothing,
  * so untraced runs pay only a boolean test per span. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicInteger(0)
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
  private val counters = new ConcurrentHashMap[String, java.lang.Double]
  private val samples = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, name, t0, System.nanoTime()))
        stack.set(stack.get.tail)
      }
    }

  def add(k: String, v: Double): Unit =
    if (enabled) counters.merge(k, v, (a, b) => a + b)
  def max(k: String, v: Double): Unit =
    if (enabled) counters.merge(k, v, (a, b) => math.max(a, b))
  def sample(k: String, v: Double): Unit =
    if (enabled) samples.computeIfAbsent(k, _ => new ConcurrentLinkedQueue[Double]).add(v)

  def get(k: String): Double = Option(counters.get(k)).map(_.doubleValue).getOrElse(0.0)
  def samplesOf(k: String): Seq[Double] =
    Option(samples.get(k)).map(_.asScala.toSeq).getOrElse(Nil)

  /** Spans as JSON lines: id, parent (0 = root), name, start/end ns. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.asScala.toSeq.sortBy(_.startNs).map { s =>
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    }
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

object Stats {
  /** Linear-interpolated percentile, q in [0, 1]. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
}

/** Live heap after a full collection, sampled where the harness asks
  * (the end of each CDC pass, after each catalog query): the retained
  * footprint of sink, state, broker and cached blocks, without the
  * garbage a raw used-heap reading would mostly measure. */
object HeapWatch {
  @volatile private var peakBytes = 0L

  def sample(): Unit = {
    // the second collection frees what the first one's reference
    // processing released (Spark's ContextCleaner drops cached blocks
    // and broadcasts when their owners become unreachable)
    System.gc()
    Thread.sleep(100)
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    if (used > peakBytes) peakBytes = used
  }
  def reset(): Unit = peakBytes = 0L
  def peakMb: Double = peakBytes / (1024.0 * 1024.0)

  def gcTotals: (Double, Double) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionTime.max(0L)).sum.toDouble,
      beans.map(_.getCollectionCount.max(0L)).sum.toDouble)
  }
}

/** The three listeners a traced run registers: streaming progress per
  * hop, task metrics per tag, and the planning phases of every
  * QueryExecution. Jobs are tagged by the `perfbench.tag` local property
  * the harness sets on its own threads, or by the streaming query that
  * ran them (stream threads inherit their starter's properties, so the
  * query id wins when present). */
final class Listeners(spark: SparkSession, tr: Tracer) {
  private val queryNames = new ConcurrentHashMap[String, String]
  private val stageTags = new ConcurrentHashMap[Int, String]
  /** hop name → (topic label, FakeKafka topic) it reads, for ingest lag. */
  val hopTopics = new ConcurrentHashMap[String, (String, String)]
  /** planning phases (ms) and function name of each finished QueryExecution */
  val qeEvents = new ConcurrentLinkedQueue[(String, Map[String, Double])]

  def nameQuery(id: java.util.UUID, name: String): Unit =
    queryNames.put(id.toString, name)

  private def tagOf(props: java.util.Properties): String =
    if (props == null) "other"
    else Option(props.getProperty("sql.streaming.queryId"))
      .flatMap(id => Option(queryNames.get(id)))
      .map(n => s"streaming.$n")
      .orElse(Option(props.getProperty("perfbench.tag")))
      .getOrElse("other")

  val tasks: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tag = tagOf(e.properties)
      e.stageIds.foreach(s => stageTags.put(s, tag))
      tr.add(s"$tag.jobs", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val tag = Option(stageTags.get(e.stageId)).getOrElse("other")
        tr.add(s"$tag.cpu_ms", m.executorCpuTime / 1e6)
        tr.add(s"$tag.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        tr.add(s"$tag.bytes_written", m.outputMetrics.bytesWritten.toDouble)
        tr.add(s"$tag.bytes_read", m.inputMetrics.bytesRead.toDouble)
        tr.add(s"$tag.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }
      if (p.name != null && d.contains("addBatch")) {
        val h = s"streaming.${p.name}"
        tr.add(s"$h.batches", 1)
        tr.add(s"$h.rows_in", p.numInputRows.toDouble)
        tr.sample(s"$h.trigger_ms", d.getOrElse("triggerExecution", 0.0))
        Seq("latestOffset" -> "latest_offset_ms", "getBatch" -> "get_batch_ms",
          "queryPlanning" -> "query_planning_ms", "addBatch" -> "add_batch_ms",
          "walCommit" -> "wal_commit_ms", "commitOffsets" -> "commit_offsets_ms")
          .foreach { case (k, n) => tr.add(s"$h.$n", d.getOrElse(k, 0.0)) }
        p.stateOperators.foreach { so =>
          val st = s"state.${p.name}"
          tr.max(s"$st.rows_max", so.numRowsTotal.toDouble)
          tr.max(s"$st.bytes_max", so.memoryUsedBytes.toDouble)
          tr.add(s"$st.commit_ms", so.commitTimeMs.toDouble)
          tr.add(s"$st.rows_dropped_late", so.numRowsDroppedByWatermark.toDouble)
        }
        Option(hopTopics.get(p.name)).foreach { case (label, topic) =>
          // the fakekafka offset is a bare number; file-source offsets are objects
          p.sources.flatMap(s => scala.util.Try(s.endOffset.trim.toLong).toOption)
            .headOption.foreach { end =>
              tr.max(s"ingest.$label.lag_records_max",
                (graft.streaming.FakeKafka.endOffset(topic) - end).toDouble)
            }
        }
      }
    }
  }

  val qe: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qeEvents.add(funcName -> qe.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble })
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      qeEvents.add(funcName -> qe.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble })
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(tasks)
    spark.streams.addListener(streaming)
    spark.listenerManager.register(qe)
  }
  def unregister(): Unit = {
    spark.sparkContext.removeSparkListener(tasks)
    spark.streams.removeListener(streaming)
    spark.listenerManager.unregister(qe)
  }
}

/** Minimal JSON rendering for the harness's own result files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
