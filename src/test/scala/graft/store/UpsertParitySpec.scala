package graft.store

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkJobs, SparkSuite}

/** Differential spec for the keyed upsert's two executors: for every
  * generated table and update batch, the driver-local path and the
  * Spark path must leave the same rows under the same partition keys.
  * The Spark side is forced with `updates.localCheckpoint()` — an
  * RDD-backed plan the local gate never accepts. Inputs are adversarial:
  * null key and partition values, NaN and ±0.0 (as payload and as key),
  * duplicate keys within a batch, empty batches, insert-only batches
  * into fresh partitions, and keys without the partition column.
  * Twelve cases (about 2 s each on a 4-CPU box) keep the suite under
  * 30 s of Tier-1 time. */
class UpsertParitySpec extends AnyFunSuite with SparkSuite {

  private val schema = StructType(Seq(
    StructField("p", StringType), StructField("k", StringType),
    StructField("d", DoubleType), StructField("v", LongType)))

  private def rowGen(parts: Seq[String]): Gen[Row] = for {
    p <- Gen.oneOf(parts)
    k <- Gen.frequency(4 -> Gen.oneOf("k1", "k2", "k3"), 1 -> Gen.const(null))
    d <- Gen.frequency[Any](1 -> Gen.const(0.0), 1 -> Gen.const(-0.0),
      2 -> Gen.const(Double.NaN), 1 -> Gen.const(1.5), 1 -> Gen.const(null))
    v <- Gen.chooseNum(0L, 9L)
  } yield Row(p, k, d, v)

  // the table spans a, b and the null partition; c and d are fresh
  private val tableParts = Seq("a", "b", null)
  private val freshParts = Seq("c", "d")

  private val tableGen: Gen[Seq[Row]] =
    Gen.choose(1, 6).flatMap(Gen.listOfN(_, rowGen(tableParts)))

  /** A table row restated with a new value: same (p, k), and its d
    * with the sign of a zero flipped — so NaN and ±0.0 keys collide. */
  private def restated(table: Seq[Row]): Gen[Row] = for {
    r <- Gen.oneOf(table)
    v <- Gen.chooseNum(10L, 19L)
  } yield Row(r.get(0), r.get(1), r.get(2) match {
    case z: Double if z == 0.0 => -z
    case d => d
  }, v)

  private def batchGen(table: Seq[Row]): Gen[Seq[Row]] = Gen.frequency(
    1 -> Gen.const(Seq.empty),
    2 -> Gen.choose(1, 3).flatMap(Gen.listOfN(_, rowGen(freshParts))),
    5 -> Gen.choose(1, 5).flatMap(Gen.listOfN(_,
      Gen.oneOf(restated(table), rowGen(tableParts ++ freshParts)))))

  // (p, k) is local-eligible; a double key and a key without the
  // partition column must decline to the Spark path on both sides
  private val LocalKeys = Seq("p", "k")
  private val keysGen: Gen[Seq[String]] = Gen.frequency(
    3 -> Gen.const(LocalKeys), 2 -> Gen.const(Seq("p", "k", "d")), 1 -> Gen.const(Seq("k")))

  private val caseGen = for {
    table <- tableGen; batch <- batchGen(table); keys <- keysGen
  } yield (table, batch, keys)

  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** (sorted rows, partition keys) after the upsert, and the Spark jobs
    * the upsert itself launched (counted only when `countJobs`). */
  private def upserted(table: Seq[Row], batch: Seq[Row], keys: Seq[String],
                       generic: Boolean,
                       countJobs: Boolean = false): ((Seq[String], Set[String]), Int) = {
    val store = new DocumentStore(spark,
      Files.createTempDirectory("upsert-parity").toString)
    store.create("t", frame(table), partitionCol = Some("p"))
    val updates = if (generic) frame(batch).localCheckpoint() else frame(batch)
    val jobs =
      if (countJobs) SparkJobs.count(spark)(store.upsert("t", updates, keys))
      else { store.upsert("t", updates, keys); 0 }
    ((store.read("t").collect().map(_.toString).toSeq.sorted, store.layout("t").keySet), jobs)
  }

  test("local and Spark upserts leave the same table over adversarial batches") {
    val prop = Prop.forAllNoShrink(caseGen) { case (table, batch, keys) =>
      val (local, localJobs) =
        upserted(table, batch, keys, generic = false, countJobs = keys == LocalKeys)
      val (viaSpark, _) = upserted(table, batch, keys, generic = true)
      // the local side must really have run on the driver when eligible
      Prop(local == viaSpark) :| s"local $local != spark $viaSpark" &&
        Prop(keys != LocalKeys || localJobs == 0) :| s"local path launched $localJobs jobs"
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }
}
