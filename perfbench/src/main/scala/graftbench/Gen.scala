package graftbench

import java.util.SplittableRandom

/** Seeded input generators. Every input the program sees comes from here;
  * the same seed gives byte-identical inputs, and any seed runs.
  * Planted truth (duplicate pairs, write schedules) is returned beside the
  * inputs so the checks never ask the program what the answer is. */
object Gen {

  /** Independent stream for (seed, purpose, rep): a change to one stream's
    * consumption never shifts another's values. */
  def rng(seed: Long, stream: String, rep: Int = 0): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ stream.hashCode.toLong * 0xBF58476D1CE4E5B9L ^ rep)

  private def gaussian(r: SplittableRandom): Double = {
    var u1 = r.nextDouble()
    while (u1 <= 1e-300) u1 = r.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * r.nextDouble())
  }

  // ------------------------------------------------------------- vectors

  /** A Gaussian mixture: `centres` centres drawn N(0, centreScale²) per
    * dimension, each point a centre plus N(0, spread²) noise. Embeddings
    * cluster; uniform data would make every ANN recall figure moot. */
  final case class Mixture(centres: Array[Array[Float]], spread: Double) {
    def dim: Int = centres.head.length
    def sample(r: SplittableRandom): Array[Float] = {
      val c = centres(r.nextInt(centres.length))
      Array.tabulate(dim)(j => (c(j) + spread * gaussian(r)).toFloat)
    }
  }

  def mixture(seed: Long, centres: Int, dim: Int, centreScale: Double,
      spread: Double): Mixture = {
    val r = rng(seed, "mixture")
    Mixture(Array.fill(centres, dim)((centreScale * gaussian(r)).toFloat), spread)
  }

  def vectors(m: Mixture, n: Int, r: SplittableRandom): Array[Array[Float]] =
    Array.fill(n)(m.sample(r))

  /** A version-4 UUID from the seeded stream: fresh ids without
    * `UUID.randomUUID`'s global entropy source. */
  def uuid(r: SplittableRandom): String = {
    val hi = (r.nextLong() & ~0xF000L) | 0x4000L
    val lo = (r.nextLong() & 0x3FFFFFFFFFFFFFFFL) | Long.MinValue
    new java.util.UUID(hi, lo).toString
  }

  // --------------------------------------------------------- write schedule

  sealed trait Op
  final case class Search(q: Array[Float]) extends Op
  final case class Add(id: String, v: Array[Float]) extends Op
  final case class Update(id: String, v: Array[Float]) extends Op
  final case class Delete(id: String) extends Op

  /** A mixed read/write schedule over `ids`: every `writeEvery`-th op,
    * starting with the first, is a write, cycling AddVector, UpdateVector,
    * DELETE; so no read finds the indexes warm, and every seed sees the
    * same op mix. Updates and deletes pick live ids (never one deleted
    * earlier in the schedule), adds carry fresh UUIDs, so no op is
    * expected to fail. */
  def schedule(m: Mixture, ids: IndexedSeq[String], n: Int, writeEvery: Int,
      r: SplittableRandom): Vector[Op] = {
    val live = scala.collection.mutable.ArrayBuffer(ids: _*)
    Vector.tabulate(n) { i =>
      if (i % writeEvery != 0) Search(m.sample(r))
      else (i / writeEvery) % 3 match {
        case 0 =>
          val id = uuid(r); live += id; Add(id, m.sample(r))
        case 1 => Update(live(r.nextInt(live.size)), m.sample(r))
        case _ =>
          val j = r.nextInt(live.size)
          val id = live(j); live(j) = live.last; live.remove(live.size - 1)
          Delete(id)
      }
    }
  }

  // --------------------------------------------------------------- corpus

  /** A document corpus with planted duplicates. Ids 0 until `originals`
    * are independent documents; the ids after them are planted copies of
    * an original: exact copies, and near copies with `replaceShare` of
    * their tokens replaced by a different word. Copies always carry a
    * larger id than their original, so exact dedup keeps the original. */
  final case class Corpus(docs: Array[(Long, String)],
      exactPairs: Array[(Long, Long)], nearPairs: Array[(Long, Long)])

  def corpus(seed: Long, rep: Int, n: Int, exactShare: Double, nearShare: Double,
      replaceShare: Double, minTokens: Int, maxTokens: Int, vocabSize: Int): Corpus = {
    val vr = rng(seed, "vocab")
    val vocab = Array.fill(vocabSize) {
      val len = 2 + vr.nextInt(8)
      new String(Array.fill(len)(('a' + vr.nextInt(26)).toChar))
    }
    // Zipf-like word frequencies: a few words (the stopword-like head)
    // dominate, as in natural text
    val cdf = {
      val w = Array.tabulate(vocabSize)(i => 1.0 / (i + 1))
      val s = w.sum
      w.scanLeft(0.0)(_ + _ / s).tail
    }
    val r = rng(seed, "corpus", rep)
    def word(): String = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      vocab(math.min(vocabSize - 1, if (i >= 0) i else -i - 1))
    }
    val nExact = (n * exactShare).toInt
    val nNear = (n * nearShare).toInt
    val originals = n - nExact - nNear
    val base = Array.fill(originals) {
      val len = minTokens + r.nextInt(maxTokens - minTokens + 1)
      Array.fill(len)(word())
    }
    val exact = Array.fill(nExact)(r.nextInt(originals).toLong)
    val near = Array.fill(nNear)(r.nextInt(originals).toLong)
    val nearDocs = near.map { src =>
      val toks = base(src.toInt).clone()
      val swaps = math.max(1, math.round(toks.length * replaceShare).toInt)
      val at = scala.util.Random.javaRandomToRandom(new java.util.Random(r.nextLong()))
        .shuffle(toks.indices.toVector).take(swaps)
      at.foreach { i =>
        var w = word()
        while (w == toks(i)) w = word()
        toks(i) = w
      }
      toks
    }
    val docs = base.indices.map(i => (i.toLong, base(i).mkString(" "))) ++
      exact.indices.map(j => ((originals + j).toLong, base(exact(j).toInt).mkString(" "))) ++
      nearDocs.indices.map(j => ((originals + nExact + j).toLong, nearDocs(j).mkString(" ")))
    Corpus(docs.toArray,
      exact.indices.map(j => (exact(j), (originals + j).toLong)).toArray,
      near.indices.map(j => (near(j), (originals + nExact + j).toLong)).toArray)
  }
}
