package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{Dedup, TextStats}

/** The LLM-data user cleaning a generated corpus, for the per-layer
  * metrics of `graft.pipeline`. Each pass regenerates the corpus and runs
  * the chain stage by stage, each stage's output cached and counted so
  * stages time apart: `TextStats.qualityScore` → `Dedup.exact` → the
  * MinHash band index (`Dedup.minHashRepBands`) → verified pairs
  * (`Dedup.minHashPairsFromBands`) → `Dedup.connectedComponents`.
  * The band index plus pair mining is `Dedup.minHashNearDuplicates`
  * split at its public seam; the member expansion it would add is empty
  * once exact duplicates are gone. */
object CorpusDedup {
  val Docs = 6000
  val ExactShare = 0.05
  val NearShare = 0.05
  val ReplaceShare = 0.03
  val MinTokens = 60
  val MaxTokens = 260
  val Vocab = 5000
  val Threshold = 0.7
  val Shingle = 3
  val NumHashes = 128
  val Bands = 32
  val Measured = 3

  def load(spark: SparkSession, c: Gen.Corpus): DataFrame = {
    import spark.implicits._
    val df = c.docs.toSeq.toDF("id", "text").repartition(4).cache()
    df.count()
    df
  }

  final case class Stages(profile: Double, exact: Double, bands: Double, pairs: Double,
      components: Double, verified: Long, rounds: Int)

  /** One pass of the chain over `docs`, with its checks. Returns the
    * stage times, the planted near-duplicate recall, and the exact-deduped
    * docs and band index, which are left cached for the caller. */
  def chain(ctx: Ctx, c: Gen.Corpus, docs: DataFrame): (Stages, Double, DataFrame, DataFrame) = {
    val n = c.docs.length
    val (profiled, tProfile) = ctx.span("profile") {
      val p = docs.withColumn("quality", TextStats.qualityScore(col("text"))).cache()
      p.count(); p
    }
    ctx.op(profiled.filter(col("quality").between(0.0, 1.0)).count() == n,
      "quality scores in [0, 1] for every document")
    val (kept, tExact) = ctx.span("exact_dedup") {
      val k = Dedup.exact(profiled, "id", "text").cache()
      k.count(); k
    }
    val keptIds = kept.select("id").collect().map(_.getLong(0)).toSet
    val copies = c.exactPairs.map(_._2).toSet
    ctx.op(keptIds == c.docs.map(_._1).filterNot(copies).toSet,
      "exact dedup keeps every document but the planted exact copies")
    val ((bands, tBands, pairs, tPairs), _) = ctx.span("minhash_pairs") {
      val (b, tb) = ctx.timed {
        val b = Dedup.minHashRepBands(kept, "id", "text", Shingle, NumHashes, Bands).cache()
        b.count(); b
      }
      val (p, tp) = ctx.timed {
        val p = Dedup.minHashPairsFromBands(b, kept, "id", "text", Threshold, Shingle).cache()
        p.count(); p
      }
      (b, tb, p, tp)
    }
    val found = pairs.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val nearRecall = c.nearPairs.count(found.contains).toDouble / c.nearPairs.length
    ctx.op(nearRecall >= 0.9, f"planted near-duplicate recall $nearRecall%.3f >= 0.9")
    val (labels, tComp) = ctx.span("components")(
      Dedup.connectedComponents(pairs, "id_a", "id_b").collect()
        .map(r => r.getAs[Long]("id") -> r.getAs[Long]("comp")).toMap)
    val rounds = Dedup.lastComponentRounds
    ctx.op(found.forall { case (a, b) => labels.get(a).exists(l => labels.get(b).contains(l) && l <= a) },
      "every verified pair shares one component, labelled by its smallest id")
    val stages = Stages(tProfile, tExact, tBands, tPairs, tComp, found.size.toLong, rounds)
    pairs.unpersist(true); profiled.unpersist(true)
    (stages, nearRecall, kept, bands)
  }

  /** The chain's per-layer metrics, measured at the end of `batch_ann`'s
    * traced run: the corpus is not an end-to-end workload of its own (see
    * the README). One warm-up chain, then `Measured` traced ones, each
    * over a freshly generated corpus, so no cached plan repeats, and each
    * with its correctness checks. */
  def layers(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val st = scala.collection.mutable.ArrayBuffer.empty[Stages]
    val nearRec = new Samples
    for (rep <- 0 to Measured) {
      val corpus = Gen.corpus(ctx.seed, rep, Docs, ExactShare, NearShare, ReplaceShare,
        MinTokens, MaxTokens, Vocab)
      val docs = load(spark, corpus)
      ctx.setTracing(rep > 0)
      val (s, nr, kept, bands) = chain(ctx, corpus, docs)
      ctx.log(s"corpus chain $rep: $s")
      if (rep > 0) { st += s; nearRec.add(nr) }
      if (rep == 1) {
        // MinHash funnel: candidate pairs are distinct row pairs sharing a band bucket
        val cand = bands.join(bands.withColumnRenamed("id", "_b"), Seq("band", "bucket"))
          .filter(col("id") < col("_b")).select("id", "_b").distinct().count()
        ctx.metric("pipeline.minhash.candidate_pairs", cand.toDouble, "count")
        ctx.metric("pipeline.minhash.verified_pairs", s.verified.toDouble, "count")
        ctx.metric("pipeline.minhash.verify_yield", if (cand > 0) s.verified.toDouble / cand else 0.0, "ratio")
        ctx.metric("pipeline.components.rounds", s.rounds.toDouble, "count")
        Kernels.text(ctx, docs, Shingle, NumHashes, Bands)
      }
      bands.unpersist(true); kept.unpersist(true); docs.unpersist(true)
    }
    ctx.setTracing(true)

    def med(f: Stages => Double): Double = { val s = new Samples; st.foreach(x => s.add(f(x))); s.median }
    ctx.metric("pipeline.profile.s", med(_.profile), "s")
    ctx.metric("pipeline.exact.s", med(_.exact), "s")
    ctx.metric("pipeline.minhash_pairs.s", med(s => s.bands + s.pairs), "s")
    ctx.metric("pipeline.components.s", med(_.components), "s")
    ctx.metric("pipeline.neardup_recall", nearRec.mean, "ratio")
  }
}
