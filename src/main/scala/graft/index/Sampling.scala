package graft.index

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic bounded sampling for index training (PQ / IVF codebooks).
  *
  * At 100 TB a codebook fit must never funnel the whole table to the
  * driver; standard practice is to train on a few hundred thousand rows.
  * The sample must also be deterministic across sessions, cluster sizes
  * and input split orders, because the fitted centers feed
  * oracle-checked query results.
  */
object Sampling {

  /** When the table exceeds `cap` rows, keep the `cap` rows ranked first
    * by `xxhash64(vector, seed)` (ties broken by a second seeded hash) —
    * a pseudo-random but fully deterministic choice, independent of
    * partitioning. Spark plans `orderBy(...).limit(cap)` as a
    * TakeOrderedAndProject: each input task keeps a local top-`cap` heap
    * and only `cap` rows ever reach a single JVM, so the driver-side
    * fit is bounded no matter the table size. Tables at or under the cap
    * pass through untouched. */
  def seededSample(vectors: DataFrame, vecCol: String, n: Long, cap: Int, seed: Long): DataFrame =
    if (cap > 0 && n > cap)
      vectors.orderBy(xxhash64(col(vecCol), lit(seed)), xxhash64(col(vecCol), lit(seed + 1)))
        .limit(cap)
    else vectors

  /** [[seededSample]] collected to the driver in a partition-independent
    * order: rows sorted by the same two seeded hashes, then by value, so
    * an in-process fit ([[LocalKMeans]]) sees the same input at any
    * parallelism. One job; at most `cap` rows reach the driver. */
  def collectSample(vectors: DataFrame, vecCol: String, n: Long, cap: Int,
      seed: Long): Array[Array[Float]] =
    seededSample(vectors, vecCol, n, cap, seed)
      .select(xxhash64(col(vecCol), lit(seed)), xxhash64(col(vecCol), lit(seed + 1)),
        col(vecCol))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Float](2).toArray))
      .sortWith { case ((a1, a2, av), (b1, b2, bv)) =>
        if (a1 != b1) a1 < b1
        else if (a2 != b2) a2 < b2
        else java.util.Arrays.compare(av, bv) < 0
      }
      .map(_._3)
}
