package graftbench

/** Ground truth for the vector checks, computed in the benchmark by brute force
  * with the program's documented numerics (double fold over float inputs,
  * `round(dist, 6)` half-up, ties broken by id). */
object Truth {
  val Eps = 1e-5

  def dist(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
    math.sqrt(s)
  }

  def round6(d: Double): Double =
    java.math.BigDecimal.valueOf(d).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Exact top-k over rows with ids 0 until n, for every query (ids 0 until q). */
  def topK(table: Array[Array[Float]], queries: Array[Array[Float]], k: Int): Array[IndexedSeq[(Long, Double)]] =
    queries.map(q => topKOf(table.indices.iterator.map(i => (i.toLong, table(i))), q, k, Double.MaxValue))

  /** Exact top-k of (id, vector) pairs with `dist <= maxDist`, ordered by
    * (rounded distance, id). */
  def topKOf[I](rows: Iterator[(I, Array[Float])], q: Array[Float], k: Int, maxDist: Double)
      (implicit ord: Ordering[I]): IndexedSeq[(I, Double)] = {
    val byDistId = Ordering.Tuple2(Ordering.Double.TotalOrdering, ord)
    val heap = scala.collection.mutable.PriorityQueue.empty[(Double, I)](byDistId)
    rows.foreach { case (id, v) =>
      val d = round6(dist(v, q))
      if (d <= maxDist && (heap.size < k || byDistId.lt((d, id), heap.head))) {
        heap.enqueue((d, id))
        if (heap.size > k) heap.dequeue()
      }
    }
    heap.dequeueAll[(Double, I)].reverse.map { case (d, id) => (id, d) }.toIndexedSeq
  }

  /** The answer matches the truth: same distances at every rank, and every
    * returned id really sits at its reported distance (ids may differ only
    * inside a tie). */
  def agrees(got: BatchAnn.Answer, truth: Array[IndexedSeq[(Long, Double)]],
      table: Array[Array[Float]], queries: Array[Array[Float]]): Boolean =
    truth.indices.forall { q =>
      val g = got.getOrElse(q.toLong, IndexedSeq.empty)
      g.size == truth(q).size &&
        g.zip(truth(q)).forall { case ((_, gd), (_, td)) => math.abs(gd - td) <= Eps } &&
        honest(g, table, queries(q))
    }

  /** Every query answered with at most k rows, in non-decreasing distance,
    * each at its true distance. */
  def wellFormed(got: BatchAnn.Answer, nQueries: Int, k: Int,
      table: Array[Array[Float]], queries: Array[Array[Float]]): Boolean =
    got.size == nQueries && got.forall { case (q, g) =>
      q >= 0 && q < nQueries && g.nonEmpty && g.size <= k &&
        g.map(_._2).sliding(2).forall(p => p.size < 2 || p(0) <= p(1)) &&
        honest(g, table, queries(q.toInt))
    }

  private def honest(g: IndexedSeq[(Long, Double)], table: Array[Array[Float]], q: Array[Float]): Boolean =
    g.forall { case (id, d) => id >= 0 && id < table.length && math.abs(round6(dist(table(id.toInt), q)) - d) <= Eps }

  /** Mean recall@k of `got` against `exact`. */
  def recall(got: BatchAnn.Answer, exact: BatchAnn.Answer, k: Int): Double = {
    val per = exact.map { case (q, e) =>
      val g = got.getOrElse(q, IndexedSeq.empty).map(_._1).toSet
      e.map(_._1).count(g.contains).toDouble / math.min(k, e.size)
    }
    if (per.isEmpty) 0.0 else per.sum / per.size
  }
}
