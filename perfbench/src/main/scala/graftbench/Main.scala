package graftbench

import java.lang.management.ManagementFactory

/** Set-up time: JVM start to a ready session, plus the median of the
  * workload's repeated generate-and-load. */
object Setup {
  def loaded(ctx: Ctx, loads: Samples): Unit =
    ctx.metric("setup_s", ctx.sessionSeconds + loads.median, "s")
}

/** Entry point of one benchmark run. Prints one result line,
  * `GRAFTBENCH {...}`, on stdout; everything else goes to stderr.
  *
  * Arguments: `--workload <name> --seed <n> --seconds <n> --trace <0|1>
  * --work-dir <dir>`; Spark's local and warehouse directories live
  * under the work dir. */
object Main {
  val Workloads: Map[String, Ctx => Unit] = Map(
    "batch_ann" -> BatchAnn.run,
    "serve_mixed" -> ServeMixed.run)

  /** Per-layer metrics each workload must report in a traced run; the
    * layers it does not exercise are reported as 0 by the runner.
    * `batch_ann`'s traced run also measures the corpus chain of
    * `graft.pipeline`. */
  val PerLayer: Map[String, Seq[String]] = Map(
    "batch_ann" -> (Seq("euclidean", "argmin_dist", "adc_lookup", "lsh_codes").map(k => s"functions.$k.rows_per_s") ++
      Seq("ops.knn_batch.s", "ops.knn_batch.distance_evals_per_s", "index.ivf_fit.s", "index.pq_fit.s",
        "index.coded_table.s", "index.ivfpq_search.s", "index.ivfpq.scored_rows_per_query",
        "index.lsh_search.s", "index.lsh.candidates_per_query", "index.lsh.useful_ratio",
        "functions.shingle_hash.rows_per_s", "functions.minhash_band_keys.rows_per_s",
        "pipeline.profile.s", "pipeline.exact.s", "pipeline.minhash_pairs.s", "pipeline.components.s",
        "pipeline.components.rounds", "pipeline.minhash.candidate_pairs", "pipeline.minhash.verified_pairs",
        "pipeline.minhash.verify_yield", "pipeline.neardup_recall")),
    "serve_mixed" -> (Seq("rest", "grpcweb", "h2").map(t => s"api.$t.search_p50_ms") ++
      Seq("api.search_p95_ms", "api.facade.search_ms", "api.facade.cold_search_ms", "api.transport_ms",
        "api.serve_jobs_per_search", "api.first_search_ms", "api.add_p50_ms", "api.update_p50_ms",
        "api.delete_p50_ms", "index.serve_pq_fit.s", "index.local_ann_build.s", "index.hnsw_build.s")))

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val run = opts.get("workload").flatMap(Workloads.get).getOrElse {
      System.err.println(s"unknown workload ${opts.get("workload")}; one of ${Workloads.keys.mkString(", ")}")
      sys.exit(2)
    }
    val workDir = opts.getOrElse("work-dir", ".")
    System.setProperty("spark.local.dir", s"$workDir/spark-local")
    System.setProperty("spark.sql.warehouse.dir", s"$workDir/warehouse")
    // a fixed width: local[*] would track the host and measure its scheduler
    val spark = graft.core.GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionSeconds = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val ledger = if (opts.get("trace").contains("1")) Some(new Ledger) else None
    ledger.foreach { l => spark.sparkContext.addSparkListener(l); spark.listenerManager.register(l) }
    val ctx = new Ctx(spark, opts("seed").toLong, opts("seconds").toInt, ledger, sessionSeconds)
    try run(ctx)
    catch {
      case scala.util.control.NonFatal(e) =>
        e.printStackTrace()
        ctx.op(ok = false, s"workload aborted: $e")
    }
    ledger.foreach { l =>
      val have = ctx.reported.map(_._1).toSet
      (PerLayer(opts("workload")) :+ "trace.overhead_pct").filterNot(have).foreach(n =>
        ctx.op(ok = false, s"per-layer metric $n was not measured"))
      l.report(spark.sparkContext, Ledger.Spans).foreach { case (n, v, u) => ctx.metric(n, v, u) }
      ctx.metric("op_error_rate", ctx.failed.toDouble / math.max(1L, ctx.attempted), "ratio")
    }
    val metrics = ctx.reported.map { case (n, v, u) =>
      if (v.isNaN || v.isInfinite) ctx.op(ok = false, s"metric $n is not finite")
      val value = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$n":{"value":$value,"unit":"$u"}"""
    }.mkString("{", ",", "}")
    println(s"""GRAFTBENCH {"attempted":${ctx.attempted},"failed":${ctx.failed},"metrics":$metrics}""")
    System.out.flush()
    spark.stop()
    // no thread the program left behind may keep the process alive
    sys.exit(0)
  }
}
