package graft.store

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** The r20 driver-local keyed-upsert fast path must be semantically
  * invisible: same merged content as the generic Spark path (SQL
  * anti-join semantics, null keys never matching, batch duplicates
  * surviving), same COW locality (untouched partitions carried by
  * manifest reference), and a clean fall-back whenever any gate fails
  * (schema evolution, distributed updates, oversized partitions). */
class LocalUpsertSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def newStore() = new DocumentStore(spark,
    java.nio.file.Files.createTempDirectory("lu-spec").toString)

  private def localFiles(store: DocumentStore, table: String): Seq[String] =
    store.layout(table).values.flatMap { d =>
      new java.io.File(new java.net.URI(d).getPath).listFiles()
        .map(_.getName).filter(_.endsWith(".parquet"))
    }.toSeq

  test("tiny keyed upsert takes the driver-local path and merges exactly") {
    val store = newStore()
    val df = Seq(("s1", "m1", 1L), ("s1", "m2", 2L), ("s2", "m3", 3L))
      .toDF("sid", "id", "v")
    store.create("t", df, partitionCol = Some("sid"))
    val v1Layout = store.layout("t")
    store.upsert("t", Seq(("s1", "m2", 20L), ("s1", "m4", 4L)).toDF("sid", "id", "v"),
      keys = Seq("sid", "id"))
    // merged content: m2 replaced, m4 inserted, everything else intact
    val got = store.read("t").orderBy(col("id"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq(("s1", "m1", 1L), ("s1", "m2", 20L),
      ("s2", "m3", 3L), ("s1", "m4", 4L)).sortBy(_._2))
    // COW locality: the untouched partition's segment dir is CARRIED
    assert(store.layout("t")("s2") == v1Layout("s2"))
    assert(store.layout("t")("s1") != v1Layout("s1"))
    // the rewritten partition holds exactly one driver-written file
    // (LocalParquet naming: part-00000-<token>.parquet, no Spark suffix)
    val f = localFiles(store, "t")
    assert(f.forall(_.matches("part-00000-[0-9a-f]{8}\\.parquet")), f.toString)
  }

  test("null key components never match; update duplicates all survive") {
    val store = newStore()
    store.create("t", Seq((Some("k1"), "a", 1L), (None, "b", 2L))
      .toDF("k", "part", "v"), partitionCol = Some("part"))
    // an update keyed on a NULL k must not drop the null-keyed row;
    // two update rows with the same key both land (generic-path parity)
    val upd = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(Seq(Row(null, "b", 20L), Row("k2", "b", 30L),
          Row("k2", "b", 31L))).asJava),
      store.read("t").schema)
    store.upsert("t", upd, keys = Seq("part", "k"))
    val got = store.read("t").orderBy(col("v")).collect()
      .map(r => (Option(r.getString(0)), r.getLong(2))).toSeq
    // null-keyed kept row (2) survives; null-keyed update row (20) lands;
    // both k2 duplicates land
    assert(got == Seq((Some("k1"), 1L), (None, 2L), (None, 20L),
      (Some("k2"), 30L), (Some("k2"), 31L)))
  }

  test("schema-evolution upsert falls back to the generic path and still merges") {
    val store = newStore()
    store.create("t", Seq(("s1", "m1", 1L)).toDF("sid", "id", "v"),
      partitionCol = Some("sid"))
    store.upsert("t", Seq(("s1", "m2", 2L, "extra")).toDF("sid", "id", "v", "note"),
      keys = Seq("sid", "id"))
    val got = store.read("t").orderBy(col("id")).collect()
      .map(r => (r.getString(1), Option(r.getAs[String]("note")))).toSeq
    assert(got == Seq(("m1", None), ("m2", Some("extra"))))
  }

  test("oversized touched partitions decline the fast path (byte gate)") {
    val store = newStore()
    store.create("t", (1L to 500L).map(i => ("p", s"id$i", i)).toDF("sid", "id", "v"),
      partitionCol = Some("sid"))
    spark.conf.set("spark.graft.store.localUpsertMaxBytes", "64")
    try {
      store.upsert("t", Seq(("p", "id1", 100L)).toDF("sid", "id", "v"),
        keys = Seq("sid", "id"))
      // merged correctly through the generic path (Spark writer naming)
      assert(store.read("t").count() == 500)
      assert(store.read("t").filter(col("id") === "id1")
        .head().getLong(2) == 100L)
      val f = localFiles(store, "t")
      assert(f.exists(!_.matches("part-00000-[0-9a-f]{8}\\.parquet")), f.toString)
    } finally spark.conf.unset("spark.graft.store.localUpsertMaxBytes")
  }

  test("fast path composes with time travel, changeFeed and vacuum") {
    val store = newStore()
    store.create("t", Seq(("s1", "m1", 1L)).toDF("sid", "id", "v"),
      partitionCol = Some("sid"))
    store.upsert("t", Seq(("s1", "m1", 2L)).toDF("sid", "id", "v"),
      keys = Seq("sid", "id"))
    store.upsert("t", Seq(("s1", "m2", 3L)).toDF("sid", "id", "v"),
      keys = Seq("sid", "id"))
    assert(store.version("t") == 3)
    assert(store.readVersion("t", 1).head().getLong(2) == 1L)
    val feed = store.changeFeed("t", 1, 2, keys = Seq("sid", "id")).collect()
    assert(feed.length == 1 && feed.head.getAs[String]("change") == "update")
    store.vacuum("t", keepVersions = 1)
    assert(store.read("t").count() == 2)
  }

  test("NaN keys: the local and generic paths give the same table") {
    def upserted(generic: Boolean): Seq[String] = {
      val store = newStore()
      store.create("t", Seq(("a", Double.NaN, 1L)).toDF("p", "k", "v"),
        partitionCol = Some("p"))
      val upd = Seq(("a", Double.NaN, 2L)).toDF("p", "k", "v")
      store.upsert("t", if (generic) upd.localCheckpoint() else upd, keys = Seq("p", "k"))
      store.read("t").collect().map(_.toString).toSeq.sorted
    }
    // Spark's anti-join matches NaN to NaN: the old row is replaced
    assert(upserted(generic = true) == Seq("[a,NaN,2]"))
    assert(upserted(generic = false) == upserted(generic = true))
  }

  test("a new chat session and a 3-row turn commit launch no Spark job") {
    import graft.model.CompletionRow
    val store = newStore()
    val eng = new graft.rag.ChatEngine(spark, store)
    val now = new java.sql.Timestamp(0L)
    val jobs = graft.SparkJobs.count(spark) {
      eng.createSession(id = "s1") // creates the table
      eng.createSession(id = "s2") // upserts into a fresh partition
      store.upsert(eng.CompletionsTable, Seq(
        CompletionRow.session("s1", "New Chat", 12),
        CompletionRow.message("s1", CompletionRow.SenderUser, "hi", 1, 0, now, "m1"),
        CompletionRow.message("s1", CompletionRow.SenderAssistant, "hello", 2, 9, now, "m2"))
        .toDS().toDF(), keys = Seq("Type", "SessionId", "Id"))
    }
    assert(jobs == 0, s"$jobs Spark jobs: the driver-local upsert path was not taken")
    assert(store.read(eng.CompletionsTable).count() == 4)
  }
}
