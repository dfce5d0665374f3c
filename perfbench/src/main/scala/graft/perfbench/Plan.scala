package graft.perfbench

import scala.util.Random

/** Every seed-driven input of the three workloads, as pure functions of
  * the seed and the fixed id universes of the generated tables. The
  * program under test receives only what these produce. */
object Plan {

  private def rng(seed: Long, stream: String): Random =
    new Random(seed * 0x9E3779B97F4A7C15L ^ stream.hashCode.toLong)

  // ---------------------------------------------------------------- warehouse

  /** The warehouse slice: every 8th `Relational` query and every 6th
    * `Sinks` query by name, so one warm-up pass, one timed pass and the
    * oracle gate fit the run's time budget. */
  def warehouseSlice(
      reads: Seq[String], writes: Seq[String]): (Seq[String], Seq[String]) =
    (every(reads.sorted, 8), every(writes.sorted, 6))

  private def every(xs: Seq[String], k: Int): Seq[String] =
    xs.zipWithIndex.collect { case (x, i) if i % k == 0 => x }

  /** The query order of pass `pass`: a seed-shuffle of the slice. */
  def queryOrder(seed: Long, queries: Seq[String], pass: Int): Seq[String] =
    rng(seed, s"order-$pass").shuffle(queries.sorted)

  // ------------------------------------------------------------- layout_churn

  /** The serve calls of one probe mix, with their seed-chosen inputs. */
  final case class Probes(
      lexicalTextDoc: Long, bm25Doc: Long, bandTextDoc: Long,
      canonDocs: Seq[Long], ivfVec: Long, chunkDoc: Long)

  /** One churn round: the delta batch (docs and their vectors), the probe
    * inputs served after it lands, and the ids forgotten afterwards. */
  final case class Round(
      batchDocs: Seq[Long], batchVecs: Seq[Long], probes: Probes,
      forget: Seq[Long])

  /** `rounds` rounds over the held-out docs (`doc_id % 3 == 0`), which
    * split into `batches` seed-shuffled delta batches. A vector travels
    * with the doc of the same id, so no vector is ever served before its
    * doc. Probes and forget sets draw from the ids served at that point. */
  def churn(
      seed: Long, nDocs: Long, nVecs: Long, rounds: Int,
      batches: Int = 8, forgetSize: Int = 24): Seq[Round] = {
    val r = rng(seed, "churn")
    val held = r.shuffle((0L until nDocs).filter(_ % 3 == 0))
    val size = math.ceil(held.size.toDouble / batches).toInt
    val deltas = held.grouped(size).toSeq
    require(rounds <= deltas.size, s"$rounds rounds > ${deltas.size} batches")
    var served = (0L until nDocs).filter(_ % 3 != 0).toVector
    var servedVecs = (0L until nVecs).filter(_ % 3 != 0).toSet
    (0 until rounds).map { k =>
      val docs = deltas(k).sorted
      val vecs = docs.filter(_ < nVecs)
      served = served ++ docs
      servedVecs = servedVecs ++ vecs
      def pick(): Long = served(r.nextInt(served.size))
      val withVec = served.filter(servedVecs.contains)
      val probes = Probes(
        lexicalTextDoc = pick(), bm25Doc = pick(), bandTextDoc = pick(),
        canonDocs = Seq.fill(5)(pick()).distinct.sorted,
        ivfVec = withVec(r.nextInt(withVec.size)), chunkDoc = pick())
      val forget = r.shuffle(served).take(forgetSize).sorted
      served = served.filterNot(forget.toSet)
      servedVecs = servedVecs -- forget
      Round(docs, vecs, probes, forget)
    }
  }

  /** The first words of a served doc: the text of a point probe. */
  def probeText(text: String, words: Int = 8): String =
    text.split(" ").take(words).mkString(" ")

  // ------------------------------------------------------------- corpus_batch

  /** The decontamination benchmark: a seed-chosen subset of doc ids. */
  def evalSubset(seed: Long, nDocs: Long, size: Int = 50): Seq[Long] =
    rng(seed, "eval").shuffle((0L until nDocs).toVector).take(size).sorted
}
