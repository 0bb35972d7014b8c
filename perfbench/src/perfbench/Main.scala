package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.GraftSession

/** Outside-in benchmark of the RAG engine.
  *
  * {{{
  * perfbench.Main --workload chat|feed --seed N --seconds S --trace 0|1 --work DIR
  * perfbench.Main --train DIR
  * }}}
  *
  * Prints a `bench_env` line, then, as the last line, one JSON object
  * with `correct`, `attempted`, `failed` and `metrics`. `--trace 0`
  * reports the end-to-end metrics; `--trace 1` runs half the time
  * untraced and half traced, reports the per-layer metrics, prints the
  * layer table on stderr and writes it with the spans to `DIR/trace.json`.
  *
  * `--train` runs a short chat workload on a 200-doc corpus and prints
  * nothing; the build runs it once to record the JVM's class-data archive. */
object Main {
  /** Corpus loads per run; `setup_s` takes their median. */
  val SetupRepeats = 3
  val CorpusDocs = 5000

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val cpus = Runtime.getRuntime.availableProcessors
    val startLoad = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val t0 = System.nanoTime()
    val spark = GraftSession.local(cpus.toString, "perfbench")
    val sessionS = (System.nanoTime() - t0) / 1e9
    try opts.get("train") match {
      case Some(dir) =>
        measure(spark, "chat", 0L, 0.0, traced = false, dir, docs = 200, repeats = 1)
      case None =>
        val workload = opts("workload")
        val seed = opts("seed").toLong
        val r = measure(spark, workload, seed, opts("seconds").toDouble, opts("trace") == "1",
          opts("work"), CorpusDocs, SetupRepeats)
        println(Json.obj(Seq("bench_env" -> Json.obj(Seq(
          "workload" -> Json.str(workload), "seed" -> seed.toString,
          "cpus" -> cpus.toString, "start_loadavg" -> Json.num(startLoad),
          "not_idle" -> (startLoad >= 2.0).toString,
          "spark" -> Json.str(spark.version), "dims" -> Engine.Dims.toString, "corpus_docs" -> CorpusDocs.toString,
          "session_start_s" -> Json.num(sessionS),
          "corpus_loads_s" -> r.loads.map(Json.num).mkString("[", ",", "]"),
          "warmup_s" -> Json.num(r.warmS),
          "latencies_ms" -> r.lat.map(Json.num).mkString("[", ",", "]"))))))
        val metrics = r.metrics.map { case (k, (v, u)) => k -> (if (k == "setup_s") v + sessionS else v, u) }
        println(Json.obj(Seq(
          "correct" -> (r.failed == 0).toString,
          "attempted" -> r.attempted.toString,
          "failed" -> r.failed.toString,
          "metrics" -> Json.obj(metrics.map { case (k, (v, u)) =>
            k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
          }))))
    } finally spark.stop()
  }

  final case class Result(metrics: Seq[(String, (Double, String))], attempted: Long, failed: Long,
                          loads: Seq[Double], warmS: Double, lat: Seq[Double])

  /** Sets up, warms up and measures one workload. `setup_s` in the
    * result excludes session start, which the caller adds. */
  def measure(spark: SparkSession, workload: String, seed: Long, seconds: Double,
              traced: Boolean, work: String, docs: Int, repeats: Int): Result = {
    val engine = new Engine(spark, traced, docs)
    val w = Workload(workload, engine, new Gen(seed))
    val loads = (1 to repeats).map { i =>
      val s0 = System.nanoTime()
      w.setup(s"$work/setup-$i")
      (System.nanoTime() - s0) / 1e9
    }
    val setupOk = w.setupCheck()
    val w0 = System.nanoTime()
    w.warmup()
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = Stats.median(loads) + warmS

    val p = new Phase
    val metrics =
      if (!traced) {
        w.run(seconds, p)
        endToEnd(p, setupS)
      } else {
        val plain = new Phase
        w.run(seconds / 2, plain)
        val listeners = new Listeners(spark, w.tableGroup)
        listeners.register()
        val gc0 = gcMs()
        Trace.on = true
        try w.run(seconds / 2, p) finally Trace.on = false
        val gc = gcMs() - gc0
        listeners.drain(p.opWindows.size * w.streams.size)
        listeners.unregister()
        val layers = new Layers(Trace.spans, listeners.actions.asScala.toMap, p, w)
        Trace.clear()
        Files.write(Paths.get(work, "trace.json"), layers.dump().getBytes(UTF_8))
        System.err.println(layers.table())
        p.attempted += plain.attempted
        p.failed += plain.failed
        layers.metrics(gc, Stats.median(plain.lat.toSeq)) ++ Seq(
          "sources.parse_ms" -> (Stats.median(w.loads.map(_._1).toSeq), "ms"),
          "sources.ingest_docs_per_s" -> (Stats.median(w.loads.map(_._2).toSeq), "1/s"))
      }
    val good = w.finalCheck()
    Result(metrics, p.attempted + 2, p.failed + Seq(setupOk, good).count(!_),
      loads, warmS, p.lat.toSeq)
  }

  def endToEnd(p: Phase, setupS: Double): Seq[(String, (Double, String))] = Seq(
    "op_p50_ms" -> (Stats.median(p.lat.toSeq), "ms"),
    "write_amp" -> (p.fs.bytes.toDouble / p.textBytes, "ratio"),
    "setup_s" -> (setupS, "s"))

  def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear interpolation between closest ranks. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
