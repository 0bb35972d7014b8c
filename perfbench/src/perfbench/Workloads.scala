package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.embed.{Embedder, HashProjectionEmbedder}
import graft.model.CompletionRow
import graft.rag.{ChatEngine, CompletionClient, EchoCompletionClient}
import graft.search.{ExactSearcher, InvertedIndex, VectorSearcher}
import graft.sources.JsonIngest
import graft.store.DocumentStore
import graft.streaming.{IndexIngest, VectorIngest}

/** Engine objects for one run. In a traced run they are the wrappers of
  * `Trace.scala`, which record only while `Trace.on`. */
final class Engine(val spark: SparkSession, val traced: Boolean, val corpusDocs: Int) {
  val reference = HashProjectionEmbedder(dims = Engine.Dims)
  val embedder: Embedder = if (traced) new TracedEmbedder(reference) else reference
  val completion: CompletionClient =
    if (traced) new TracedCompletion(new EchoCompletionClient) else new EchoCompletionClient
  val searcher: VectorSearcher = if (traced) new TracedSearcher(ExactSearcher) else ExactSearcher

  def store(root: String): DocumentStore =
    if (traced) new TracedStore(spark, root) else new DocumentStore(spark, root)

  /** The engine with every setting at its default except the embedder
    * width (ChatEngine defaults to 64-d; the reference is 1536-d). */
  def chat(store: DocumentStore): ChatEngine =
    new ChatEngine(spark, store, embedder, completion, searcher = searcher)
}

object Engine {
  val Dims = 1536 // the reference's ada-002 width
}

/** What one measured phase saw: one latency and one time window per
  * operation, operations attempted and failed, store bytes added and the
  * user text bytes that caused them. */
final class Phase {
  val lat = ArrayBuffer.empty[Double]
  val opWindows = ArrayBuffer.empty[(Long, Long)]
  var attempted = 0L
  var failed = 0L
  var textBytes = 0L
  var promptTokens = -1L
  val fs = new Disk.Delta

  def timed[T](name: String)(body: => T): T = {
    attempted += 1
    val t0 = System.nanoTime()
    try Trace.span(name)(body)
    finally {
      val t1 = System.nanoTime()
      lat += (t1 - t0) / 1e6
      opWindows += ((t0, t1))
    }
  }

  /** Runs an operation; an exception or a failed check marks it failed. */
  def attempt(body: => Boolean): Unit = {
    val ok = try body catch {
      case e: Exception =>
        System.err.println(s"[perfbench] operation failed: $e"); false
    }
    if (!ok) failed += 1
  }
}

trait Workload {
  /** Builds the state the timed phase starts from, under `dir`. */
  def setup(dir: String): Unit
  /** Checks the state the last setup built; runs outside set-up time. */
  def setupCheck(): Boolean
  def warmup(): Unit
  /** Runs operations until `seconds` of wall time have passed. */
  def run(seconds: Double, p: Phase): Unit
  /** Output check over the whole run; false fails the run. */
  def finalCheck(): Boolean
  /** Dir prefix → table group, for attributing scans. */
  def tableGroup(path: String): Option[String]
  /** Streaming query id → short name. */
  def streams: Map[String, String] = Map.empty
  /** One (JsonIngest read ms, docs/s) per corpus load made in setup. */
  val loads = ArrayBuffer.empty[(Double, Double)]
}

object Workload {
  def apply(name: String, e: Engine, gen: Gen): Workload = name match {
    case "chat" => new Chat(e, gen)
    case "feed" => new Feed(e, gen)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def groupOf(roots: Seq[(String, String)], path: String): Option[String] =
    roots.collectFirst { case (prefix, g) if path.startsWith(prefix) => g }
}

/** The corpus load both workloads set up with: the reference's
  * IngestAndVectorize. The generator writes JSON-array blobs; the engine
  * reads them with `JsonIngest.readJsonArray` and ingests them with
  * `ChatEngine.ingest` (batched 1536-d embed + one bulk create). */
final class Corpus(e: Engine, gen: Gen, w: Workload) {
  val Blobs = 5
  val docs: IndexedSeq[(Long, String)] = gen.corpus(e.corpusDocs)
  private var blobDir = ""

  /** Loads the corpus into `table` of `store`, timing the read and the whole load. */
  def load(dir: String, store: DocumentStore, table: String,
           partitionCol: Option[String] = None): Unit = {
    if (blobDir.isEmpty) {
      blobDir = Paths.get(dir).getParent.resolve("blobs").toString
      Files.createDirectories(Paths.get(blobDir))
      gen.jsonBlobs(docs, Blobs).zipWithIndex.foreach { case (json, i) =>
        Files.write(Paths.get(blobDir, f"blob-$i%02d.json"), json.getBytes(UTF_8))
      }
    }
    val t0 = System.nanoTime()
    val df = JsonIngest.readJsonArray(e.spark, blobDir)
    val t1 = System.nanoTime()
    e.chat(store).ingest(table, df, "text", partitionCol)
    val t2 = System.nanoTime()
    w.loads += (((t1 - t0) / 1e6, docs.size / ((t2 - t0) / 1e9)))
  }

  /** Row count, vector width, and a seeded sample against the reference embedder. */
  def check(root: String, table: String): Boolean = {
    val got = new DocumentStore(e.spark, root).read(table)
    val n = got.count()
    val widths = got.select(size(col("vector"))).distinct().collect().map(_.getInt(0)).toSeq
    val sample = (1 to 3).map(i => math.floorMod(gen.seed * 7919L + i * 104729L, docs.size.toLong))
    val rows = got.filter(col("id").isin(sample: _*)).select("id", "text", "vector").collect()
    val good = n == docs.size && widths == Seq(Engine.Dims) && rows.length == sample.size &&
      rows.forall { r =>
        r.getString(1) == docs(r.getLong(0).toInt)._2 &&
          r.getSeq[Float](2) == e.reference.embedOne(r.getString(1)).toSeq
      }
    if (!good) System.err.println(s"[perfbench] corpus check failed: rows=$n widths=$widths")
    good
  }
}

/** Closed loop, one client: rounds of `Sessions` sessions × `Turns`
  * turns, round-robin over sessions, each session renamed after its
  * first turn. Every round starts from an empty `completions` table
  * (the previous round's sessions are deleted before it starts, outside
  * the timed turns), so per-turn cost does not drift with run length. */
final class Chat(e: Engine, gen: Gen) extends Workload {
  val Sessions = 5
  val Turns = 3

  private val corpus = new Corpus(e, gen, this)
  private var root = ""
  private var store: DocumentStore = _
  private var round = 0
  private var stale = Seq.empty[String]
  private var ok = true

  override def setup(dir: String): Unit = {
    root = dir
    store = e.store(dir)
    corpus.load(dir, store, "docs")
  }

  override def setupCheck(): Boolean = corpus.check(root, "docs")

  /** Two sessions of two turns: the first turns of a run are 2-4× slower.
    * A full round of warm-up did not make `op_p50_ms` steadier. */
  override def warmup(): Unit = oneRound(new Phase, sessions = 2, turns = 2)

  override def run(seconds: Double, p: Phase): Unit = {
    val t0 = System.nanoTime()
    while (p.attempted == 0 || (System.nanoTime() - t0) / 1e9 < seconds)
      oneRound(p, Sessions, Turns)
  }

  private def oneRound(p: Phase, sessions: Int, turns: Int): Unit = {
    round += 1
    val engine = e.chat(store)
    stale.foreach(engine.deleteSession)
    val ids = (0 until sessions).map(i => engine.createSession(id = s"r$round-s$i"))
    stale = ids
    val names = scala.collection.mutable.Map.empty[String, String]
    val before = Disk.snapshot(Seq(root), e.spark)
    val tokens0 = Trace.spans.iterator.filter(_.name == "llm.complete").map(_.n).sum
    for (t <- 0 until turns; (sid, i) <- ids.zipWithIndex) {
      val prompt = gen.prompt(i, t)
      p.textBytes += prompt.getBytes(UTF_8).length
      p.attempt {
        val reply = p.timed("rag.turn")(engine.complete(sid, "docs", prompt))
        if (t == 0) names(sid) = engine.summarizeSessionName(sid)
        reply.SessionId == sid
      }
    }
    p.fs.add(before, Disk.snapshot(Seq(root), e.spark))
    if (Trace.on && p.promptTokens < 0)
      p.promptTokens = Trace.spans.iterator.filter(_.name == "llm.complete").map(_.n).sum - tokens0
    if (!checkRound(ids, turns, names.toMap)) { p.failed += 1; ok = false }
  }

  /** Each session holds its session row plus two messages per turn, its
    * name is the rename's result, and its TokensUsed is the sum of its
    * messages' tokens (A1). */
  private def checkRound(ids: Seq[String], turns: Int, names: Map[String, String]): Boolean = {
    val rows = {
      val spark = e.spark
      import spark.implicits._
      new DocumentStore(e.spark, root).read("completions")
        .filter(col("SessionId").isin(ids: _*)).as[CompletionRow].collect().toSeq
    }
    ids.forall { sid =>
      val mine = rows.filter(_.SessionId == sid)
      val sessions = mine.filter(_.Type == CompletionRow.TypeSession)
      val msgs = mine.filter(_.Type == CompletionRow.TypeMessage)
      val good = sessions.size == 1 && msgs.size == 2 * turns &&
        sessions.head.Name == names.get(sid) &&
        sessions.head.TokensUsed.contains(
          msgs.map(m => m.Tokens.getOrElse(0) + m.PromptTokens.getOrElse(0)).sum)
      if (!good) System.err.println(s"[perfbench] chat check failed for session $sid")
      good
    }
  }

  override def finalCheck(): Boolean = ok

  override def tableGroup(path: String): Option[String] =
    Workload.groupOf(Seq(s"$root/docs" -> "corpus", s"$root/completions" -> "completions"), path)
}

/** AddRemoveData as a change stream, closed loop with one client: each
  * micro-batch of a seeded change log goes through VectorIngest (embed
  * + keyed upsert), a keyed delete on the store, and IndexIngest; then a
  * vector probe and a keyword probe must both find one changed doc. */
final class Feed(e: Engine, gen: Gen) extends Workload {
  val BatchSize = 40

  private val corpus = new Corpus(e, gen, this)
  private var dir = ""
  private var store: DocumentStore = _
  private var log: gen.ChangeLog = _
  private var vecIn: MemoryStream[(Long, String, String)] = _
  private var idxIn: MemoryStream[(String, Long, String)] = _
  private var vq: StreamingQuery = _
  private var iq: StreamingQuery = _
  private var ok = true
  var probes = 0L
  var hits = 0L

  private def storeRoot = s"$dir/store"
  private def indexDir = s"$dir/index"

  /** Loads the corpus partitioned by category; the keyword index and the
    * two streams are built once, after the last load, by [[warmup]]. */
  override def setup(d: String): Unit = {
    dir = d
    store = e.store(storeRoot)
    corpus.load(d, store, "docs", partitionCol = Some("source"))
  }

  /** Indexes the corpus, starts both streams and runs one batch: the
    * first batch runs ~1.5× slower than the next. */
  override def setupCheck(): Boolean = corpus.check(storeRoot, "docs")

  override def warmup(): Unit = {
    InvertedIndex.build(new DocumentStore(e.spark, storeRoot).read("docs"),
      "id", "text", indexDir)
    log = new gen.ChangeLog(corpus.docs, BatchSize)
    implicit val sq: org.apache.spark.sql.SQLContext = e.spark.sqlContext
    import e.spark.implicits._
    vecIn = MemoryStream[(Long, String, String)]
    idxIn = MemoryStream[(String, Long, String)]
    vq = VectorIngest.start(vecIn.toDF().toDF("id", "source", "text"), store, "docs",
      e.embedder, "id", "text", s"$dir/ckpt-vector")
    iq = IndexIngest.start(idxIn.toDF().toDF("change", "id", "text"), indexDir,
      "id", "text", "change", s"$dir/ckpt-index")
    oneBatch(new Phase)
    probes = 0; hits = 0
  }

  override def run(seconds: Double, p: Phase): Unit = {
    val t0 = System.nanoTime()
    val before = Disk.snapshot(Seq(storeRoot, indexDir), e.spark)
    while (p.attempted == 0 || (System.nanoTime() - t0) / 1e9 < seconds) oneBatch(p)
    p.fs.add(before, Disk.snapshot(Seq(storeRoot, indexDir), e.spark))
  }

  private def oneBatch(p: Phase): Unit = {
    val changes = log.next()
    val ups = changes.filter(_.kind != Gen.Remove)
    val removes = changes.filter(_.kind == Gen.Remove).map(c => (c.category, c.id))
    val probe = ups.head
    p.textBytes += ups.iterator.map(_.text.getBytes(UTF_8).length.toLong).sum
    p.attempt {
      p.timed("feed.batch") {
        vecIn.addData(ups.map(c => (c.id, c.category, c.text)))
        idxIn.addData(changes.map(c => (c.kind, c.id, c.text)))
        vq.processAllAvailable()
        if (removes.nonEmpty) {
          val spark = e.spark
          import spark.implicits._
          store.delete("docs", removes.toDF("source", "id"), Seq("source", "id"))
        }
        iq.processAllAvailable()
        val qv = e.embedder.embed(Seq(probe.text)).head
        val knn = Trace.span("search.knn") {
          e.searcher.topK(store.read("docs"), "vector", "id", qv, 10)
            .select("id").collect().map(_.getLong(0))
        }
        val kw = Trace.span("search.keyword") {
          InvertedIndex.search(e.spark, indexDir, Seq(probe.term), 10)
            .select("doc_id").collect().map(_.getLong(0))
        }
        probes += 2
        hits += Seq(knn, kw).count(_.contains(probe.id))
        knn.contains(probe.id) && kw.contains(probe.id)
      }
    }
  }

  /** The vector table equals the generator's net-effect replay of the log. */
  override def finalCheck(): Boolean = {
    Seq(vq, iq).foreach(q => if (q != null) q.stop())
    val got = new DocumentStore(e.spark, storeRoot).read("docs")
      .select("id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val good = got == log.state.toMap
    if (!good) System.err.println(
      s"[perfbench] feed check failed: ${got.size} rows vs ${log.state.size} expected")
    ok && good
  }

  override def streams: Map[String, String] =
    Map(vq.id.toString -> "vector", iq.id.toString -> "index")

  override def tableGroup(path: String): Option[String] =
    Workload.groupOf(Seq(s"$storeRoot/docs" -> "corpus", indexDir -> "index"), path)
}

/** Bytes and commits under store roots, read from outside the engine. */
object Disk {
  final case class Snapshot(files: Map[String, Long], versions: Map[String, Int])

  final class Delta {
    var files = 0L
    var bytes = 0L
    var commits = 0L
    def add(a: Snapshot, b: Snapshot): Unit = {
      b.files.foreach { case (f, n) =>
        a.files.get(f) match {
          case None => files += 1; bytes += n
          case Some(m) => if (n > m) bytes += n - m
        }
      }
      commits += b.versions.iterator.map { case (t, v) => v - a.versions.getOrElse(t, 0) }.sum
    }
  }

  private def walk(dir: Path): Map[String, Long] =
    if (!Files.exists(dir)) Map.empty
    else {
      val s = Files.walk(dir)
      try s.iterator.asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
      finally s.close()
    }

  /** Every file's size, and the committed version of every table. */
  def snapshot(roots: Seq[String], spark: SparkSession): Snapshot = {
    val files = roots.flatMap(r => walk(Paths.get(r))).toMap
    val versions = roots.flatMap { r =>
      val dir = Paths.get(r)
      if (!Files.isDirectory(dir)) Nil
      else {
        val s = Files.list(dir)
        val tables = try s.iterator.asScala.filter(t => Files.exists(t.resolve("_CURRENT")))
          .map(_.getFileName.toString).toList finally s.close()
        val st = new DocumentStore(spark, r)
        tables.map(t => s"$r/$t" -> st.version(t))
      }
    }.toMap
    Snapshot(files, versions)
  }
}
