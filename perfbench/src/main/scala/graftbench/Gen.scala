package graftbench

import java.util.SplittableRandom
import graft.model._

/** Seeded input generators. Everything the program under test reads is
  * made here from `--seed`: the same seed gives the same inputs, another
  * seed gives different ones. The shapes follow the sf0.1 test tables
  * (30-word vocabulary, 10–100 words per document, five languages, 20
  * sources, 64-dim embeddings in 10 labelled clusters); the sizes and
  * mixes are the constants in [[Params]]. */
object Gen {

  val Vocab: IndexedSeq[String] = IndexedSeq(
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch")
  val Langs: IndexedSeq[String] = IndexedSeq("en", "de", "es", "fr", "zh")

  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
  final case class Emb(vec_id: Long, embedding: Seq[Float], label: Int)
  final case class LineItem(
      l_orderkey: Long, l_partkey: Long, l_suppkey: Long, l_linenumber: Int,
      l_quantity: Double, l_extendedprice: Double, l_discount: Double, l_tax: Double,
      l_returnflag: String, l_linestatus: String, l_shipdate: java.time.LocalDateTime)
  final case class Request(route: String, query: String)

  def rng(seed: Long, salt: Long) = new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt)

  private def words(r: SplittableRandom, n: Int): Array[String] =
    Array.fill(n)(Vocab(r.nextInt(Vocab.size)))

  /** Text of document `i` of the seed's corpus. Each document is made
    * from its own random stream, so any document can be generated alone
    * (and in parallel). A share are exact or near copies (a few words
    * changed) of an earlier document, so the dedup families have pairs
    * to find. */
  def text(seed: Long, i: Long): String = {
    val r = rng(seed, 1000003L * i + 1)
    val u = r.nextDouble()
    if (i > 10 && u < Params.exactDupShare) text(seed, r.nextLong(i))
    else if (i > 10 && u < Params.exactDupShare + Params.nearDupShare) perturb(text(seed, r.nextLong(i)), r, 2)
    else words(r, 10 + r.nextInt(91)).mkString(" ")
  }

  def doc(seed: Long, i: Long, id: Long): Doc = {
    val r = rng(seed, 1000003L * i + 2)
    val t = text(seed, i)
    Doc(id, t, Langs(r.nextInt(Langs.size)), s"src${r.nextInt(20)}", t.length.toLong)
  }

  /** A document corpus like sf0.1 `documents`. */
  def docs(seed: Long, n: Int, firstId: Long = 0L): IndexedSeq[Doc] =
    (0 until n).map(i => doc(seed, i, firstId + i))

  /** Replace up to `k` words at random positions. */
  def perturb(text: String, r: SplittableRandom, k: Int): String = {
    val ws = text.split(" ", -1)
    for (_ <- 0 until 1 + r.nextInt(k)) ws(r.nextInt(ws.length)) = Vocab(r.nextInt(Vocab.size))
    ws.mkString(" ")
  }

  def embeddings(seed: Long, n: Int): IndexedSeq[Emb] = {
    val r = rng(seed, 2)
    val centers = Array.fill(10, 64)(r.nextDouble() * 2 - 1)
    (0 until n).map { i =>
      val label = r.nextInt(10)
      val v = Array.tabulate(64)(d => centers(label)(d) * 0.2 + (r.nextDouble() * 2 - 1) * 0.15)
      Emb(i.toLong, v.map(_.toFloat).toSeq, label)
    }
  }

  def lineitem(seed: Long, n: Int): IndexedSeq[LineItem] = {
    val r = rng(seed, 3)
    val day0 = java.time.LocalDateTime.of(1998, 1, 1, 0, 0)
    (0 until n).map { i =>
      val qty = (1 + r.nextInt(50)).toDouble
      LineItem(i / 4L + 1, 1L + r.nextInt(n / 10 + 1), 1L + r.nextInt(100), i % 4 + 1,
        qty, math.round(qty * (900 + r.nextInt(100000)) ) / 100.0,
        r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
        Seq("A", "N", "R")(r.nextInt(3)), Seq("F", "O")(r.nextInt(2)),
        day0.plusDays(r.nextInt(1500).toLong))
    }
  }

  private def createEv(d: Doc, ts: Long, seq: Long) =
    DataRecordEvent.create(d.doc_id, s"doc-${d.doc_id}", DocumentRepresentation(d.text, "inline"), ts, seq)
  private def metaEv(id: Long, m: Metadata, ts: Long, seq: Long) =
    DataRecordEvent.upsertMeta(id, m, ts, seq)
  private def reprEv(id: Long, n: Int, ts: Long, seq: Long) =
    DataRecordEvent.upsertRepresentation(id, DocumentRepresentation(s"/renditions/$id/$n.txt", "tika-txt"), ts, seq)

  /** Fisher–Yates shuffle with the given stream. */
  def shuffle[T](xs: Seq[T], r: SplittableRandom): Seq[T] = {
    val a = scala.collection.mutable.ArrayBuffer.from(xs)
    for (i <- a.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  /** The `stream` feed: `nFiles` release files of `perFile` events each.
    * Every event carries its file's due offset (ms after the schedule
    * start) as its timestamp. A share of the events CREATE new
    * keys; the rest upsert keys created in earlier files, so the state
    * store is both read and written. */
  def streamFiles(seed: Long, nFiles: Int, firstId: Long,
      perFile: Int = Params.streamEventsPerFile): IndexedSeq[IndexedSeq[DataRecordEvent]] = {
    val r = rng(seed, 5 + firstId)
    val texts = docs(seed ^ firstId, nFiles * perFile, firstId)
    var created = 0
    var seq = 0L
    (0 until nFiles).map { f =>
      val due = f * Params.streamIntervalMs
      (0 until perFile).map { _ =>
        seq += 1
        if (created == 0 || r.nextDouble() < Params.streamNewKeyShare) {
          created += 1
          createEv(texts(created - 1), due, seq)
        } else {
          val id = firstId + r.nextInt(created)
          if (r.nextDouble() < 0.7)
            metaEv(id, Metadata(Map("rev" -> (seq % 8).toString), "editor"), due, seq)
          else reprEv(id, (seq % 4).toInt, due, seq)
        }
      }
    }
  }

  /** The requests of warm or cold pass `pass`, by route: one lexical
    * `/search` with 1–3 corpus terms and one `/similar` for a probe
    * document. */
  def requests(seed: Long, pass: Int, nVecs: Int): Map[String, Request] = {
    val r = rng(seed, 6 + 1000003L * pass)
    Map(
      "search" -> Request("search", "q=" + words(r, 1 + r.nextInt(3)).distinct.mkString("+")),
      "similar" -> Request("similar", s"probeDoc=${r.nextInt(nVecs)}&k=${Seq(5, 10, 20)(r.nextInt(3))}"))
  }
}
