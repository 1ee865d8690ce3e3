package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{AdcLookupExpr, ArgMinDistExpr, Distances, LshCodesExpr, MinHashBandKeysExpr, ShingleHashExpr}
import graft.index.LshParams

/** Rows per second of single `graft.functions` kernels, each through its
  * public Column factory, over the workload's own generated rows
  * (replicated so a pass takes well over a job's fixed cost). A pass
  * writes the kernel's output column to the `noop` sink, which evaluates
  * every row and keeps none. One warm-up pass, then the median of three. */
object Kernels {
  val Passes = 3

  private def rate(ctx: Ctx, input: DataFrame, rows: Long, kernel: Column): Double = {
    def pass(): Double = ctx.timed(
      input.select(kernel.as("_k")).write.format("noop").mode("overwrite").save())._2
    pass()
    val s = new Samples
    (0 until Passes).foreach(_ => s.add(pass()))
    rows / s.median
  }

  private def replicated(df: DataFrame, times: Int): (DataFrame, Long) = {
    val r = df.withColumn("_rep", explode(sequence(lit(1), lit(times)))).drop("_rep").cache()
    (r, r.count())
  }

  /** euclidean, argmin_dist, adc_lookup and lsh_codes over the batch table. */
  def vectors(ctx: Ctx, vs: DataFrame, ix: BatchAnn.Index, query: Array[Float]): Unit = {
    val (in, n) = replicated(vs.select("vec"), 8)
    ctx.metric("functions.euclidean.rows_per_s",
      rate(ctx, in, n, Distances.euclidean(col("vec"), typedLit(query))), "rows/s")
    ctx.metric("functions.argmin_dist.rows_per_s",
      rate(ctx, in, n, ArgMinDistExpr(col("vec"), ix.ivf.centers)), "rows/s")
    ctx.metric("functions.lsh_codes.rows_per_s",
      rate(ctx, in, n, LshCodesExpr(col("vec"), LshParams.adaptive(query.length))), "rows/s")
    in.unpersist(true)
    val (codes, m) = replicated(ix.coded.select("codes"), 8)
    val cell = ix.ivf.probes(query, 1).head
    val residual = Array.tabulate(query.length)(j => query(j) - ix.ivf.centers(cell)(j))
    val tables = ix.pq.adcTables(residual).map(_.toSeq).toSeq
    ctx.metric("functions.adc_lookup.rows_per_s",
      rate(ctx, codes, m, AdcLookupExpr(col("codes"), typedLit(tables))), "rows/s")
    codes.unpersist(true)
  }

  /** shingle_hash and minhash_band_keys over the corpus. */
  def text(ctx: Ctx, docs: DataFrame, shingle: Int, numHashes: Int, bands: Int): Unit = {
    val (in, n) = replicated(docs.select("text"), 2)
    ctx.metric("functions.shingle_hash.rows_per_s",
      rate(ctx, in, n, ShingleHashExpr(col("text"), shingle)), "rows/s")
    val (sh, m) = replicated(in.select(ShingleHashExpr(col("text"), shingle).as("sh")), 1)
    ctx.metric("functions.minhash_band_keys.rows_per_s",
      rate(ctx, sh, m, MinHashBandKeysExpr(col("sh"), numHashes, bands)), "rows/s")
    sh.unpersist(true); in.unpersist(true)
  }
}
