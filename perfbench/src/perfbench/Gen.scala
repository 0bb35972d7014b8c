package perfbench

import scala.util.Random

/** Seeded input generator. Everything the engine receives is made here
  * from `seed`; the engine never sees the generator or its random state.
  *
  * The corpus has the shape of the sf0.1 `documents` table: 5 000 docs,
  * words drawn uniformly from a 30-word vocabulary, 10 to 100 words per
  * doc (mean ~54).
  */
final class Gen(val seed: Long) {
  import Gen._

  private def rng(stream: Long*): Random =
    new Random(stream.foldLeft(seed * 0x9e3779b97f4a7c15L)((h, s) => (h ^ s) * 0x100000001b3L))

  private def words(r: Random, n: Int): String =
    Iterator.fill(n)(Vocab(r.nextInt(Vocab.length))).mkString(" ")

  /** `n` docs as (id, text), ids 0 until n. */
  def corpus(n: Int): IndexedSeq[(Long, String)] = {
    val r = rng(1)
    (0 until n).map(i => (i.toLong, words(r, 10 + r.nextInt(91))))
  }

  /** The chat prompt of `session`'s `turn`-th turn; the same in every round. */
  def prompt(session: Int, turn: Int): String = {
    val r = rng(2, session, turn)
    s"Which ${words(r, 8)} items match?"
  }

  /** Docs as JSON arrays, one string per blob (the reference's blob layout). */
  def jsonBlobs(docs: Seq[(Long, String)], blobs: Int): Seq[String] = {
    val per = (docs.size + blobs - 1) / blobs
    docs.grouped(per).map(_.map { case (id, text) =>
      s"""{"id":$id,"source":"${categoryOf(id)}","text":"$text"}"""
    }.mkString("[", ",\n", "]")).toSeq
  }

  /** Change log over `base`: an endless sequence of batches of `size`
    * changes on distinct ids of one category (the reference's data is
    * category-keyed), mostly updates, some inserts and removes. Every
    * insert and update carries a term no other doc has, so a probe can
    * find exactly that doc. `state` is the net-effect replay. */
  final class ChangeLog(base: Seq[(Long, String)], size: Int) {
    val state = scala.collection.mutable.LinkedHashMap.from(base)
    private val r = rng(3)
    private var nextId = base.map(_._1).maxOption.getOrElse(-1L) + 1
    private var batchNo = 0

    def next(): Seq[Change] = {
      val cat = category(r.nextInt(Categories))
      val live = state.keysIterator.filter(id => categoryOf(id) == cat).toIndexedSeq
      val nRemove = size / 20 + 1
      val nInsert = size / 10 + 1
      val ids = r.shuffle(live).take(size - nInsert)
      val changes = ids.zipWithIndex.map { case (id, j) =>
        if (j < nRemove) Change(Remove, id, cat, "")
        else Change(Update, id, cat, s"${words(r, 10 + r.nextInt(91))} ${freshTerm(j)}")
      } ++ (0 until nInsert).map { j =>
        while (categoryOf(nextId) != cat) nextId += 1
        val id = nextId; nextId += 1
        Change(Insert, id, cat, s"${words(r, 10 + r.nextInt(91))} ${freshTerm(size + j)}")
      }
      changes.foreach { c =>
        if (c.kind == Remove) state.remove(c.id) else state(c.id) = c.text
      }
      batchNo += 1
      changes
    }

    private def freshTerm(j: Int): String = s"s${seed}b${batchNo}c$j"
  }
}

object Gen {
  val Vocab: Array[String] = Array(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")

  /** Docs fall into 20 categories by id, as `source` does in the sf0.1 table. */
  val Categories = 20
  def category(i: Int): String = s"src$i"
  def categoryOf(id: Long): String = category((id % Categories).toInt)

  val Insert = "insert"
  val Update = "update"
  val Remove = "delete"

  final case class Change(kind: String, id: Long, category: String, text: String) {
    /** The doc's fresh term (last word of an insert or update). */
    def term: String = text.substring(text.lastIndexOf(' ') + 1)
  }
}
