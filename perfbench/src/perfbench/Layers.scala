package perfbench

import perfbench.Trace.Span

/** Per-layer metrics and the layer table of one traced phase.
  *
  * Every figure is taken over the spans that fall inside an operation
  * (a chat turn or a change batch) and given per operation.
  * A SQL execution is labelled with the store tables its plan scans
  * (from the query-execution listener), or with the store mutation
  * whose span encloses it. */
final class Layers(all: Vector[Span], actions: Map[Long, (Set[String], Boolean)],
                   p: Phase, w: Workload) {
  private val ops = p.opWindows.toVector.sortBy(_._1)
  private val nOps = ops.size.toDouble
  private val roots = all.filter(s =>
    (s.name == "rag.turn" || s.name == "feed.batch") && opOf(s) >= 0)
  private val rootIds = roots.map(_.id).toSet
  private def mid(s: Span) = s.start + (s.end - s.start) / 2
  private def opOf(s: Span): Int = ops.indexWhere(o => o._1 <= mid(s) && mid(s) <= o._2)
  private val spans = all.filter(s => !rootIds.contains(s.id) && opOf(s) >= 0)

  private def named(n: String) = spans.filter(_.name == n)
  private def ms(ss: Iterable[Span]) = ss.iterator.map(_.dur).sum / 1e6
  private def contains(outer: Span, s: Span) = outer.start <= mid(s) && mid(s) <= outer.end

  private val jobs = named("spark.job")
  private val execs = named("sql.exec")
  private val mutations = spans.filter(s =>
    s.name == "store.upsert" || s.name == "store.create" || s.name == "store.delete")
  private def groups(exec: Span): Set[String] = actions.get(exec.n).map(_._1).getOrElse(Set.empty)
  private def isWrite(exec: Span): Boolean = actions.get(exec.n).exists(_._2)
  private val readExecs = execs.filter(x =>
    groups(x).nonEmpty && !isWrite(x) && !mutations.exists(contains(_, x)))

  /** Total length of the union of `ss`, clipped to [lo, hi]. */
  private def union(ss: Seq[Span], lo: Long, hi: Long): Long = {
    val iv = ss.map(s => (math.max(s.start, lo), math.min(s.end, hi))).filter(i => i._2 > i._1).sortBy(_._1)
    var total = 0L; var cs = Long.MinValue; var ce = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > ce) { if (ce > cs) total += ce - cs; cs = a; ce = b } else ce = math.max(ce, b)
    }
    if (ce > cs) total += ce - cs
    total
  }

  def metrics(gcMs: Double, untracedP50: Double): Seq[(String, (Double, String))] = {
    val knnProbes = named("search.knn")
    val inProbe = (s: Span) => knnProbes.exists(contains(_, s))
    val streamSpans = spans.filter(_.name.startsWith("streaming.trigger."))
    val perQuery = Seq("vector", "index").flatMap { q =>
      val ids = w.streams.collect { case (id, name) if name == q => s"streaming.trigger.$id" }.toSet
      val ts = streamSpans.filter(s => ids.contains(s.name))
      val addBatch = ts.map(_.detail.toDouble).sum
      Seq(s"streaming.batches.$q" -> (ts.size / nOps, "count/op"),
        s"streaming.input_rows.$q" -> (ts.map(_.n).sum / nOps, "count/op"),
        s"streaming.add_batch_ms.$q" -> (addBatch / nOps, "ms/op"),
        s"streaming.trigger_overhead_ms.$q" -> ((ms(ts) - addBatch) / nOps, "ms/op"))
    }
    val (probes, hits) = w match {
      case f: Feed => (f.probes, f.hits)
      case _ => (0L, 0L)
    }
    val turns = roots.filter(_.name == "rag.turn")
    val perGroup = Seq("corpus", "completions", "index").map { g =>
      s"store.read_ms.$g" -> (ms(readExecs.filter(groups(_).contains(g))) / nOps, "ms/op")
    }
    Seq(
      "spark.jobs" -> (jobs.size / nOps, "count/op"),
      "spark.job_ms" -> (ms(jobs) / nOps, "ms/op"),
      "spark.tasks" -> (jobs.map(_.n).sum / nOps, "count/op"),
      "spark.shuffle_bytes" -> (jobs.map(_.detail.split(',')(0).toDouble).sum / nOps, "B/op"),
      "spark.spill_bytes" -> (jobs.map(_.detail.split(',')(1).toDouble).sum / nOps, "B/op"),
      "spark.driver_ms" -> (ops.map { case (a, b) => b - a - union(jobs, a, b) }.sum / 1e6 / nOps, "ms/op"),
      "store.upsert_calls" -> (named("store.upsert").size / nOps, "count/op"),
      "store.upsert_ms" -> (ms(named("store.upsert")) / nOps, "ms/op"),
      "store.create_ms" -> (ms(named("store.create")) / nOps, "ms/op"),
      "store.delete_ms" -> (ms(named("store.delete")) / nOps, "ms/op"),
      "store.read_ms" -> ((ms(readExecs) + ms(named("store.read"))) / nOps, "ms/op"),
    ) ++ perGroup ++ Seq(
      "store.commits" -> (p.fs.commits / nOps, "count/op"),
      "store.files_written" -> (p.fs.files / nOps, "count/op"),
      "store.bytes_written" -> (p.fs.bytes / nOps, "B/op"),
      "search.knn_calls" -> (named("search.topk").size / nOps, "count/op"),
      "search.knn_ms" -> ((ms(knnProbes) + ms(named("search.topk").filterNot(inProbe)) +
        ms(readExecs.filter(x => groups(x).contains("corpus") && !inProbe(x)))) / nOps, "ms/op"),
      "search.keyword_ms" -> (ms(named("search.keyword")) / nOps, "ms/op"),
      "search.probe_hit_ratio" -> (if (probes == 0) 0.0 else hits.toDouble / probes, "ratio"),
      "embed.texts" -> (named("embed.embed").map(_.n).sum / nOps, "count/op"),
      "embed.busy_ms" -> (ms(named("embed.embed")) / nOps, "ms/op"),
    ) ++ perQuery ++ Seq(
      "llm.calls" -> (named("llm.complete").size / nOps, "count/op"),
      "llm.busy_ms" -> (ms(named("llm.complete")) / nOps, "ms/op"),
      "llm.prompt_tokens" -> (math.max(p.promptTokens, 0L).toDouble, "count/round"),
      "rag.turn_self_ms" -> (if (turns.isEmpty) 0.0 else
        turns.map(t => t.dur - union(children(t), t.start, t.end)).sum / 1e6 / turns.size, "ms/op"),
      "proc.gc_ms" -> (gcMs / nOps, "ms/op"),
      "proc.peak_rss_mb" -> (peakRssMb, "MB"),
      "proc.trace_overhead_pct" -> ((Stats.median(p.lat.toSeq) - untracedP50) / untracedP50 * 100, "%"),
    )
  }

  /** Spans that can block `root`: wrappers on its thread, SQL executions, jobs. */
  private def children(root: Span): Seq[Span] =
    spans.filter(s => contains(root, s) &&
      (s.thread == root.thread || s.name == "sql.exec" || s.name == "spark.job"))

  private def label(s: Span, wrappers: Seq[Span]): String =
    if (s.name != "sql.exec") s.name
    else wrappers.filter(wr => wr.name.startsWith("store.") && wr.name != "store.read" && contains(wr, s))
      .sortBy(-_.start).headOption.map(_.name).getOrElse {
        val g = groups(s)
        if (isWrite(s)) "spark.sql.write"
        else if (g.contains("corpus")) (if (w.isInstanceOf[Chat]) "search.knn" else "store.read.corpus")
        else if (g.contains("completions")) "store.read.completions"
        else if (g.contains("index")) "store.read.index"
        else "spark.sql"
      }

  /** Layer → (driver-side ns, ns under a Spark job), summed over ops.
    * Each instant of an op goes to its innermost span, so the rows add
    * up to the ops' wall time. */
  private lazy val rows: Map[String, (Long, Long)] = {
    val acc = scala.collection.mutable.Map.empty[String, (Long, Long)]
    roots.foreach { root =>
      val kids = children(root)
      val wrappers = kids.filter(s => s.name != "sql.exec" && s.name != "spark.job")
      val js = kids.filter(_.name == "spark.job")
      val named = kids.filter(_.name != "spark.job").map(s => (s, label(s, wrappers)))
      val cuts = (kids.flatMap(s => Seq(s.start, s.end)) ++ Seq(root.start, root.end))
        .filter(t => t >= root.start && t <= root.end).distinct.sorted
      cuts.zip(cuts.tail).foreach { case (a, b) =>
        val m = a + (b - a) / 2
        val inner = named.filter { case (s, _) => s.start <= m && m < s.end }
          .sortBy { case (s, _) => (-s.start, s.end) }.headOption.map(_._2)
        val l = inner.getOrElse(root.name + ".self")
        val inJob = js.exists(j => j.start <= m && m < j.end)
        val (d, j) = acc.getOrElse(l, (0L, 0L))
        acc(l) = if (inJob) (d, j + b - a) else (d + b - a, j)
      }
    }
    acc.toMap
  }

  def table(): String = {
    val wall = roots.map(_.dur).sum
    val n = math.max(roots.size, 1)
    val sum = rows.valuesIterator.map { case (d, j) => d + j }.sum
    val lines = rows.toSeq.sortBy { case (_, (d, j)) => -(d + j) }.map { case (l, (d, j)) =>
      f"$l%-28s ${d / 1e6 / n}%10.2f ${j / 1e6 / n}%10.2f ${100.0 * (d + j) / math.max(wall, 1)}%7.1f%%"
    }
    (Seq(f"layer table: ${roots.size} ops, wall ${wall / 1e6 / n}%.2f ms/op, rows sum to " +
      f"${100.0 * sum / math.max(wall, 1)}%.1f%% of wall",
      f"${"layer"}%-28s ${"driver_ms"}%10s ${"jobs_ms"}%10s ${"share"}%8s") ++ lines).mkString("\n")
  }

  /** Spans with their operation ids, the layer table and its rows, as JSON. */
  def dump(): String = {
    val ss = (roots ++ spans).sortBy(_.start).map { s =>
      Json.obj(Seq("name" -> Json.str(s.name), "start_ns" -> s.start.toString,
        "end_ns" -> s.end.toString, "parent" -> s.parent.toString, "id" -> s.id.toString,
        "op" -> opOf(s).toString, "thread" -> s.thread.toString, "n" -> s.n.toString,
        "detail" -> Json.str(s.detail)))
    }
    val rs = rows.toSeq.sortBy(_._1).map { case (l, (d, j)) =>
      Json.obj(Seq("layer" -> Json.str(l), "driver_ms" -> Json.num(d / 1e6 / math.max(roots.size, 1)),
        "jobs_ms" -> Json.num(j / 1e6 / math.max(roots.size, 1))))
    }
    Json.obj(Seq("layer_table" -> rs.mkString("[", ",", "]"),
      "table_text" -> Json.str(table()), "spans" -> ss.mkString("[\n", ",\n", "]")))
  }

  private def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0) finally src.close()
  }
}
