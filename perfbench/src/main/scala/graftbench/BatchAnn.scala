package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.index.{Ivf, IvfModel, Lsh, LshParams, PqModel}
import graft.ops.Knn

/** batch_ann: the analytics user answering a query set over a clustered
  * vector table. One index build per run, then repetitions of one fresh
  * query set answered exact (`Knn.batch`), with IVF-PQ
  * (`Ivf.searchPqBatch` over a cached `Ivf.codedTable`) and with LSH
  * (`Lsh.searchBatch`, adaptive parameters). */
object BatchAnn {
  val Rows = 16384
  val Queries = 48
  val Dim = 64
  val K = 10
  // centres, centre scale, spread; the centres are fixed (seed 0), so a
  // seed draws a sample of one distribution and every seed asks the index
  // for the same amount of work
  val Mixture = (64, 1.0, 0.7)
  // Index parameters. The library defaults for the residual PQ fit (16
  // blocks x 50 MLlib k-means iterations) take minutes per build on a
  // 4-core host, so the build uses explicit public parameters: k-means on
  // a 4,096-row sample, 5 iterations, 2 PQ blocks of 64 centroids. The
  // ADC re-rank pool is 16 x k.
  val NList = 64
  val TrainSample = 4096
  val KMeansIter = 5
  val PqBlocks = 2
  val PqCentroids = 64
  val NProbe = 4
  val CandidateFactor = 16
  // In a fresh JVM the first repetition runs two to three times slower
  // than where the repetitions level off, the second still about 1.5
  // times, and LSH keeps falling through the third; all three are warm-up.
  val WarmReps = 3

  private val vecSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("vec", ArrayType(FloatType, containsNull = false), nullable = false)))
  private val qSchema = StructType(Seq(
    StructField("qid", LongType, nullable = false),
    StructField("qvec", ArrayType(FloatType, containsNull = false), nullable = false)))

  def frame(spark: SparkSession, vs: Array[Array[Float]], schema: StructType): DataFrame = {
    val rows = new java.util.ArrayList[Row](vs.length)
    vs.indices.foreach(i => rows.add(Row(i.toLong, vs(i).toSeq)))
    spark.createDataFrame(rows, schema)
  }

  /** Load a table: partitioned to the session width, cached, counted. */
  def load(spark: SparkSession, vs: Array[Array[Float]], schema: StructType): DataFrame = {
    val df = frame(spark, vs, schema).repartition(4).cache()
    df.count()
    df
  }

  final case class Index(ivf: IvfModel, pq: PqModel, coded: DataFrame)

  def build(ctx: Ctx, vs: DataFrame, iter: Int, blocks: Int, centroids: Int,
      sample: Int): (Index, Seq[Double]) = {
    val (ivf, tIvf) = ctx.timed(Ivf.fit(vs, "vec", nlist = NList, maxIter = iter, trainSample = sample))
    val (pq, tPq) = ctx.timed(Ivf.fitResidualPq(ivf, vs, "vec", numSubVectors = Some(blocks),
      numCentroids = centroids, maxIter = iter, trainSample = sample))
    val (coded, tCoded) = ctx.timed {
      val c = Ivf.codedTable(ivf, pq, vs, "id", "vec").cache()
      c.count()
      c
    }
    (Index(ivf, pq, coded), Seq(tIvf, tPq, tCoded))
  }

  type Answer = Map[Long, IndexedSeq[(Long, Double)]]

  def answers(rows: Array[Row]): Answer =
    rows.groupBy(_.getAs[Long]("qid")).map { case (q, rs) =>
      q -> rs.sortBy(_.getAs[Long]("rank")).map(r => (r.getAs[Long]("id"), r.getAs[Double]("dist"))).toIndexedSeq
    }

  def exact(vs: DataFrame, qs: DataFrame): Array[Row] =
    Knn.batch(vs, "id", "vec", qs, "qid", "qvec", K).collect()
  def ivfpq(ix: Index, vs: DataFrame, qs: DataFrame): Array[Row] =
    Ivf.searchPqBatch(ix.ivf, ix.pq, vs, "id", "vec", qs, "qid", "qvec", K,
      nprobe = NProbe, candidateFactor = CandidateFactor, coded0 = Some(ix.coded)).collect()
  def lsh(vs: DataFrame, qs: DataFrame): Array[Row] =
    Lsh.searchBatch(vs, "id", "vec", qs, "qid", "qvec", K, LshParams.adaptive(Dim)).collect()

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val (centres, scale, spread) = Mixture
    val mix = Gen.mixture(0L, centres, Dim, scale, spread)

    // set-up, three times: generate and load the table (the last copy is kept)
    val setups = new Samples
    var table: Array[Array[Float]] = null
    var vs: DataFrame = null
    for (_ <- 0 until 3) {
      if (vs != null) vs.unpersist(true)
      val ((t, df), s) = ctx.timed {
        val t = Gen.vectors(mix, Rows, Gen.rng(ctx.seed, "table"))
        (t, load(spark, t, vecSchema))
      }
      table = t; vs = df; setups.add(s)
    }
    Setup.loaded(ctx, setups)
    ctx.log(s"set-up done: ${setups.values}")

    // warm-up, excluded: one small build with cheap parameters, so class
    // loading and JIT of the k-means and coding paths land here
    locally {
      val small = load(spark, table.take(2048), vecSchema)
      val (ix, _) = build(ctx, small, 1, 1, 16, 2048)
      ix.coded.unpersist(true); small.unpersist(true)
    }

    val (ix, buildTimes) = ctx.span("ann_build")(build(ctx, vs, KMeansIter, PqBlocks, PqCentroids, TrainSample))._1
    ctx.log(s"build $buildTimes")
    ctx.op(ix.coded.count() == Rows, "coded table row count")
    ctx.metric("index_build_s", buildTimes.sum, "s")

    val tExact, tIvfpq, tLsh, tRep, recIvfpq, recLsh, traced, untraced = new Samples
    ctx.repetitions(WarmReps, 3) { (rep, measured, tracing) =>
      // a fresh query set each repetition, so no cached plan repeats
      val qv = Gen.vectors(mix, Queries, Gen.rng(ctx.seed, "queries", rep))
      val qs = load(spark, qv, qSchema)
      val truth = Truth.topK(table, qv, K)
      // exact twice: it is the shortest call, so it gets twice the samples
      val (ex, te) = ctx.span("knn_batch")(exact(vs, qs))
      val exA = answers(ex)
      ctx.op(Truth.agrees(exA, truth, table, qv), s"exact Knn.batch answer, rep $rep")
      val (ex2, te2) = ctx.span("knn_batch")(exact(vs, qs))
      ctx.op(Truth.agrees(answers(ex2), truth, table, qv), s"repeated exact Knn.batch answer, rep $rep")
      val (ap, ta) = ctx.span("ivfpq_search")(ivfpq(ix, vs, qs))
      val apA = answers(ap)
      ctx.op(Truth.wellFormed(apA, qv.length, K, table, qv), s"IVF-PQ answer, rep $rep")
      val (ls, tl) = ctx.span("lsh_search")(lsh(vs, qs))
      val lsA = answers(ls)
      ctx.op(Truth.wellFormed(lsA, qv.length, K, table, qv), s"LSH answer, rep $rep")
      qs.unpersist(true)
      ctx.log(s"rep $rep measured $measured: exact $te $te2 ivfpq $ta lsh $tl")
      if (measured) {
        tExact.add(te); tExact.add(te2); tIvfpq.add(ta); tLsh.add(tl); tRep.add(te + ta + tl)
        (if (tracing) traced else untraced).add(te + ta + tl)
        recIvfpq.add(Truth.recall(apA, exA, K)); recLsh.add(Truth.recall(lsA, exA, K))
      }
    }

    ctx.metric("exact_per_s", Queries / tExact.median, "1/s")
    ctx.metric("index_per_s", Queries / tIvfpq.median, "1/s")
    ctx.metric("aux_per_s", Queries / tLsh.median, "1/s")
    ctx.metric("index_p50_ms", tIvfpq.median * 1e3, "ms")
    ctx.metric("index_recall", recIvfpq.mean, "ratio")
    ctx.metric("aux_recall", recLsh.mean, "ratio")
    ctx.metric("chain_per_s", 3 * Queries / tRep.median, "1/s")

    if (ctx.trace) {
      ctx.metric("index.ivf_fit.s", buildTimes(0), "s")
      ctx.metric("index.pq_fit.s", buildTimes(1), "s")
      ctx.metric("index.coded_table.s", buildTimes(2), "s")
      ctx.metric("ops.knn_batch.s", tExact.median, "s")
      ctx.metric("ops.knn_batch.distance_evals_per_s", Rows.toDouble * Queries / tExact.median, "1/s")
      ctx.metric("index.ivfpq_search.s", tIvfpq.median, "s")
      ctx.metric("index.lsh_search.s", tLsh.median, "s")
      ctx.metric("trace.overhead_pct", (traced.median / untraced.median - 1) * 100, "%")
      val qv = Gen.vectors(mix, Queries, Gen.rng(ctx.seed, "queries", 0))
      // rows the IVF-PQ probes score: the population of each query's probed cells
      val cells = Ivf.assign(ix.ivf, vs, "vec").groupBy("cluster").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      ctx.metric("index.ivfpq.scored_rows_per_query",
        qv.map(q => ix.ivf.probes(q, NProbe).map(c => cells.getOrElse(c, 0L)).sum).sum.toDouble / Queries, "count")
      // LSH candidates: distinct (query, row) pairs sharing a bucket in any table
      val params = LshParams.adaptive(Dim)
      val qCodes = spark.createDataFrame(qv.indices.flatMap(i =>
        params.codesLocal(qv(i)).map(c => (i.toLong, c)))).toDF("qid", "code")
      val cand = Lsh.withCodes(vs, "vec", params).select(col("id"), explode(col("codes")).as("code"))
        .join(broadcast(qCodes), "code").select("qid", "id").distinct().count().toDouble / Queries
      ctx.metric("index.lsh.candidates_per_query", cand, "count")
      ctx.metric("index.lsh.useful_ratio", if (cand > 0) recLsh.mean * K / cand else 0.0, "ratio")
      Kernels.vectors(ctx, vs, ix, qv.head)
    }
    ix.coded.unpersist(true)
    vs.unpersist(true)
    if (ctx.trace) CorpusDedup.layers(ctx)
  }
}
