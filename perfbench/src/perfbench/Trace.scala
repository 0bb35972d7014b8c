package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import graft.embed.Embedder
import graft.rag.CompletionClient
import graft.search.VectorSearcher
import graft.store.DocumentStore

/** In-memory span recorder. Spans come from the benchmark's own wrappers
  * around engine objects and from the Spark listeners below; nothing is
  * written until the run ends. All times are on the `System.nanoTime`
  * axis; listener times (epoch ms) are mapped onto it.
  *
  * `n` carries a count measured at the same boundary (texts embedded,
  * prompt tokens, rows, bytes). */
object Trace {
  final case class Span(id: Long, parent: Long, name: String, thread: Long,
                        start: Long, end: Long, n: Long = 0L, detail: String = "") {
    def dur: Long = end - start
  }

  /** Spans are recorded only while `on`; wrappers cost one volatile read otherwise. */
  @volatile var on: Boolean = false

  private val ids = new AtomicLong()
  private val buf = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()

  def fromEpochMs(ms: Long): Long = baseNs + (ms - baseMs) * 1000000L

  def span[T](name: String)(body: => T): T = spanN(name)(body)(_ => 0L)

  def spanN[T](name: String)(body: => T)(count: T => Long): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try {
        val out = body
        buf.add(Span(id, parents.headOption.getOrElse(0L), name,
          Thread.currentThread().getId, t0, System.nanoTime(), count(out)))
        out
      } finally stack.set(parents)
    }

  /** A span observed from outside any thread of ours (listener events). */
  def record(name: String, start: Long, end: Long, n: Long = 0L, detail: String = ""): Unit =
    buf.add(Span(ids.incrementAndGet(), 0L, name, -1L, start, end, n, detail))

  def spans: Vector[Span] = buf.asScala.toVector
  def clear(): Unit = buf.clear()
}

/** The store handed to the engine in a traced run: every mutation and
  * snapshot read is a span. */
final class TracedStore(spark: SparkSession, root: String) extends DocumentStore(spark, root) {
  override def create(table: String, df: DataFrame, partitionCol: Option[String],
                      sortBy: Seq[String]): Unit =
    Trace.span("store.create")(super.create(table, df, partitionCol, sortBy))
  override def upsert(table: String, updates: DataFrame, keys: Seq[String]): Unit =
    Trace.span("store.upsert")(super.upsert(table, updates, keys))
  override def delete(table: String, predicate: Column, touchedParts: Option[Seq[String]]): Unit =
    Trace.span("store.delete")(super.delete(table, predicate, touchedParts))
  override def delete(table: String, keysDf: DataFrame, keys: Seq[String]): Unit =
    Trace.span("store.delete")(super.delete(table, keysDf, keys))
  override def read(table: String): DataFrame =
    Trace.span("store.read")(super.read(table))
}

/** Embedder wrapper. Tasks deserialize their own copy, but in local mode
  * they share this JVM, so `Trace` counts embeds JVM-wide. */
final class TracedEmbedder(inner: Embedder) extends Embedder {
  override def dims: Int = inner.dims
  override def embed(batch: Seq[String]): Seq[Array[Float]] =
    Trace.spanN("embed.embed")(inner.embed(batch))(_ => batch.size.toLong)
}

final class TracedCompletion(inner: CompletionClient) extends CompletionClient {
  override def complete(systemPrompt: String, userPrompt: String): (String, Int, Int) =
    Trace.spanN("llm.complete")(inner.complete(systemPrompt, userPrompt))(_._2.toLong)
}

/** Times plan construction of the k-NN; the scan itself runs in the
  * caller's action and is attributed by [[Listeners]]. */
final class TracedSearcher(inner: VectorSearcher) extends VectorSearcher {
  override def topK(corpus: DataFrame, vecCol: String, idCol: String,
                    probe: Array[Float], k: Int): DataFrame =
    Trace.span("search.topk")(inner.topK(corpus, vecCol, idCol, probe, k))
  override def topKWhere(corpus: DataFrame, vecCol: String, idCol: String,
                         probe: Array[Float], k: Int, pred: Column): DataFrame =
    Trace.span("search.topk")(inner.topKWhere(corpus, vecCol, idCol, probe, k, pred))
}

/** The three listeners a traced run registers:
  *  - jobs, tasks, shuffle and spill from the scheduler;
  *  - SQL executions (start/end), labelled with the store tables their
  *    plan scans, which the query-execution listener resolves exactly
  *    from the analyzed plan;
  *  - streaming progress: one span per trigger with its addBatch time.
  *
  * `tableGroup` maps a scanned path to a table group (`corpus`,
  * `completions`, `index`, ...). Listener spans are recorded while the
  * listeners are registered; analysis keeps those inside operations. */
final class Listeners(spark: SparkSession, tableGroup: String => Option[String]) {
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val jobTasks = new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val sqlStart = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  /** execution id → (table groups its plan scans, is a write command). */
  val actions = new java.util.concurrent.ConcurrentHashMap[Long, (Set[String], Boolean)]()

  private val MarkerKey = "perfbench.marker"
  private val markerDone = new java.util.concurrent.CountDownLatch(1)
  @volatile private var markerJob = -1

  private val scheduler = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      if (e.properties != null && e.properties.getProperty(MarkerKey) != null) markerJob = e.jobId
      jobStart.put(e.jobId, e.time)
      jobTasks.put(e.jobId, new Array[Long](3))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val acc = Option(stageJob.get(e.stageId)).flatMap(j => Option(jobTasks.get(j)))
      acc.foreach { a =>
        val m = e.taskMetrics
        a.synchronized {
          a(0) += 1
          if (m != null) {
            a(1) += m.shuffleWriteMetrics.bytesWritten
            a(2) += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == markerJob) markerDone.countDown()
      else Option(jobStart.remove(e.jobId)).foreach { t0 =>
        val a = Option(jobTasks.remove(e.jobId)).getOrElse(new Array[Long](3))
        Trace.record("spark.job", Trace.fromEpochMs(t0), Trace.fromEpochMs(e.time),
          n = a(0), detail = s"${a(1)},${a(2)}")
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => sqlStart.put(s.executionId, s.time)
      case x: SparkListenerSQLExecutionEnd =>
        pending.foreach(actions.put(x.executionId, _))
        pending = None
        Option(sqlStart.remove(x.executionId)).foreach { t0 =>
          Trace.record("sql.exec", Trace.fromEpochMs(t0), Trace.fromEpochMs(x.time),
            n = x.executionId)
        }
      case _ =>
    }
  }

  // The session's query-execution listeners are driven by a listener on
  // the same queue as ours; `register` adds ours after it, so for each
  // SQLExecutionEnd the query-execution listener runs just before the
  // scheduler listener, on the same thread.
  private var pending: Option[(Set[String], Boolean)] = None

  private val executions = new QueryExecutionListener {
    private def seen(funcName: String, qe: QueryExecution): Unit = {
      val groups = qe.analyzed.collect {
        case l: LogicalRelation => l.relation match {
          case r: HadoopFsRelation => r.location.rootPaths.flatMap(p => tableGroup(p.toUri.getPath))
          case _ => Nil
        }
      }.flatten.toSet
      pending = Some((groups, funcName == "command"))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      seen(funcName, qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      seen(funcName, qe)
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      val trigger = Option(d.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      if (p.numInputRows > 0) {
        val end = Trace.fromEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli + trigger)
        val addBatch = Option(d.get("addBatch")).map(_.longValue).getOrElse(0L)
        Trace.record(s"streaming.trigger.${p.id}", end - trigger * 1000000L, end,
          n = p.numInputRows, detail = addBatch.toString)
      }
    }
  }

  def register(): Unit = {
    spark.listenerManager.register(executions)
    spark.sparkContext.addSparkListener(scheduler)
    spark.streams.addListener(streams)
  }

  /** Blocks until every scheduler and SQL event posted so far has been
    * delivered: a marker job's end arrives after all of them. Stream
    * progress has its own queue, so it waits for `triggers` spans. */
  def drain(triggers: Int): Unit = {
    val sc = spark.sparkContext
    sc.setLocalProperty(MarkerKey, "1")
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(MarkerKey, null)
    markerDone.await(30, java.util.concurrent.TimeUnit.SECONDS)
    val deadline = System.nanoTime() + 10000000000L
    while (Trace.spans.count(_.name.startsWith("streaming.trigger.")) < triggers &&
           System.nanoTime() < deadline) Thread.sleep(20)
  }

  def unregister(): Unit = {
    spark.sparkContext.removeSparkListener(scheduler)
    spark.listenerManager.unregister(executions)
    spark.streams.removeListener(streams)
  }
}
