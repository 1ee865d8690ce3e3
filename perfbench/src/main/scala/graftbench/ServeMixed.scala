package graftbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.{GrpcHttp2Client, GrpcHttp2Server, GrpcWeb, NeighborlySpark, VectorBinary, VectorHttpServer, VectorProto}
import graft.core.VectorRecord
import graft.index.{LocalAnn, LocalHnsw, ProductQuantization}

/** serve_mixed: the online user of the served facade. One `NeighborlySpark`
  * (built with `autoRebuild = false`, so no timer-driven rebuild lands
  * mid-run) behind `VectorHttpServer` (REST and gRPC-Web) and
  * `GrpcHttp2Server` (native HTTP/2).
  *  - Phase W (warm): two closed-loop clients send SearchNearest k=10,
  *    round-robin across the three transports.
  *  - Phase M (mixed): one client runs a seeded schedule with about one
  *    write in four ops (AddVector and UpdateVector over gRPC-Web, DELETE
  *    over REST); every write drops the warm indexes, so reads take the
  *    cold path. */
object ServeMixed {
  val WorkingSet = 4096
  val Dim = 64
  val K = 10
  // Tight clusters: the facade keeps only neighbours within its default
  // similarity threshold (euclidean distance 0.5), so a query needs ten
  // rows that close for a full answer. The centres are fixed (seed 0); a
  // seed draws the sample.
  val Mixture = (64, 1.0, 0.03)
  val Threshold = 0.5
  val QueryPool = 12
  val WriteEvery = 4
  val Clients = 2
  val WarmShare = 0.5 // of the measure window; phase M gets the rest

  private val mapper = new ObjectMapper()

  /** One client: its own HTTP/1.1 client and its own HTTP/2 connection. */
  final class Client(port: Int, h2Port: Int) {
    private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    private val h2 = new GrpcHttp2Client("127.0.0.1", h2Port)
    private def uri(p: String) = URI.create(s"http://127.0.0.1:$port$p")

    private def send(req: HttpRequest): HttpResponse[Array[Byte]] =
      http.send(req, HttpResponse.BodyHandlers.ofByteArray())

    private def grpcWeb(method: String, msg: Array[Byte]): Array[Byte] = {
      val r = send(HttpRequest.newBuilder(uri(s"/Vector/$method"))
        .header("Content-Type", "application/grpc-web+proto")
        .POST(HttpRequest.BodyPublishers.ofByteArray(GrpcWeb.messageFrame(msg))).build())
      require(r.statusCode() == 200, s"gRPC-Web $method: HTTP ${r.statusCode()}")
      val (msgs, trailers) = GrpcWeb.readFrames(r.body())
      require(trailers.get("grpc-status").contains("0"), s"gRPC-Web $method: grpc-status ${trailers.get("grpc-status")}")
      msgs.headOption.getOrElse(Array.emptyByteArray)
    }

    private def searchMsg(q: Array[Float]) =
      VectorProto.encodeSearchNearestRequest(VectorBinary.toBinary(VectorRecord("00000000-0000-0000-0000-000000000000", q)), K)

    private def ids(list: Array[Byte]): Seq[String] =
      VectorProto.decodeVectorList(list).map(b => VectorBinary.fromBinary(b).id)

    def rest(q: Array[Float]): Seq[String] = {
      val r = send(HttpRequest.newBuilder(uri(s"/vectors/searchNearest?k=$K"))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(q.mkString("{\"values\":[", ",", "]}"))).build())
      require(r.statusCode() == 200, s"REST search: HTTP ${r.statusCode()}")
      val arr = mapper.readTree(r.body())
      (0 until arr.size()).map(i => arr.get(i).get("id").asText())
    }

    def grpcWebSearch(q: Array[Float]): Seq[String] = ids(grpcWeb("SearchNearest", searchMsg(q)))

    def h2Search(q: Array[Float]): Seq[String] = {
      val (payload, trailers, _) = h2.call("SearchNearest", searchMsg(q))
      require(trailers.get("grpc-status").contains("0"), s"h2 search: grpc-status ${trailers.get("grpc-status")}")
      ids(payload)
    }

    def search(transport: Int, q: Array[Float]): Seq[String] = transport match {
      case 0 => rest(q)
      case 1 => grpcWebSearch(q)
      case _ => h2Search(q)
    }

    def add(id: String, v: Array[Float]): Boolean =
      VectorProto.decodeResponse(grpcWeb("AddVector",
        VectorProto.encodeAddVectorRequest(VectorBinary.toBinary(VectorRecord(id, v)))))._1

    def update(id: String, v: Array[Float]): Boolean =
      VectorProto.decodeResponse(grpcWeb("UpdateVector",
        VectorProto.encodeUpdateVectorRequest(id, VectorBinary.toBinary(VectorRecord(id, v)))))._1

    def delete(id: String): Boolean =
      send(HttpRequest.newBuilder(uri(s"/vector/$id")).DELETE().build()).statusCode() == 204

    def close(): Unit = h2.close()
  }

  val Transports = Seq("rest", "grpcweb", "h2")

  /** The exact answer over the current table: ids within the threshold,
    * top k by (rounded distance, id). */
  def expected(mirror: mutable.LinkedHashMap[String, Array[Float]], q: Array[Float]): IndexedSeq[(String, Double)] =
    Truth.topKOf(mirror.iterator, q, K, Threshold)

  /** Same ids, or ids that differ only inside a distance tie. */
  def sameAnswer(got: Seq[String], want: IndexedSeq[(String, Double)],
      mirror: mutable.LinkedHashMap[String, Array[Float]], q: Array[Float]): Boolean =
    got == want.map(_._1) || (got.size == want.size && got.forall(mirror.contains) &&
      got.map(id => Truth.round6(Truth.dist(mirror(id), q))).sorted
        .zip(want.map(_._2)).forall { case (a, b) => math.abs(a - b) <= Truth.Eps })

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val (centres, scale, spread) = Mixture
    val mix = Gen.mixture(0L, centres, Dim, scale, spread)

    // set-up, three times: generate the working set and load it into a
    // fresh facade (the last one is kept)
    val setups = new Samples
    var db: NeighborlySpark = null
    var ids: IndexedSeq[String] = null
    var vecs: Array[Array[Float]] = null
    for (_ <- 0 until 3) {
      if (db != null) db.close()
      val ((d, i, v), s) = ctx.timed {
        val r = Gen.rng(ctx.seed, "working-set")
        val v = Gen.vectors(mix, WorkingSet, r)
        val i = IndexedSeq.fill(WorkingSet)(Gen.uuid(r))
        val d = new NeighborlySpark(spark, Dim, autoRebuild = false)
        d.addVectorRecords(i.indices.map(j => VectorRecord(i(j), v(j))))
        d.count
        (d, i, v)
      }
      db = d; ids = i; vecs = v; setups.add(s)
    }
    Setup.loaded(ctx, setups)
    ctx.log(s"set-up done: ${setups.values}")
    val mirror = mutable.LinkedHashMap(ids.zip(vecs): _*)

    // servers start outside any span: their threads must not inherit one
    val http = new VectorHttpServer(db)
    val h2 = new GrpcHttp2Server(db)
    val clients = mutable.ArrayBuffer.empty[Client]
    try {
      val port = http.start()
      val h2Port = h2.start()
      (0 until Clients).foreach(_ => clients += new Client(port, h2Port))
      val pool = Gen.vectors(mix, QueryPool, Gen.rng(ctx.seed, "query-pool"))

      // index build: buildAllIndexes, then the first warm search, whose
      // request materialises the lazily persisted local indexes
      val (_, tBuild) = ctx.span("serve_build")(db.buildAllIndexes())
      val (first, tFirst) = served(ctx, "serve_build")(clients(0).rest(pool(0)))
      ctx.op(db.hasWarmIndexes && sameAnswer(first, expected(mirror, pool(0)), mirror, pool(0)),
        "first warm search after the build")
      ctx.metric("index_build_s", tBuild + tFirst, "s")
      ctx.log(s"build $tBuild first search $tFirst")

      // the facade's own exact search for every pool query, outside timing;
      // it must itself match the brute-force answer
      val want = pool.map { q =>
        val got = db.search(q, K).collect().map(_.getAs[String]("id")).toIndexedSeq
        ctx.op(sameAnswer(got, expected(mirror, q), mirror, q), "facade exact search vs brute force")
        got.map(id => (id, mirror.get(id).map(v => Truth.round6(Truth.dist(v, q))).getOrElse(Double.NaN)))
      }
      ctx.log("build and expected answers done")
      // warm-up, excluded: three rounds of four pool queries on each transport
      for (_ <- 0 until 3; t <- 0 until 3; i <- 0 until 4) clients(0).search(t, pool(i))

      val m0 = (db.metrics.searchCount.get, db.metrics.searchNanos.get, db.metrics.serveJobs.get)
      ctx.log("warm-up done")
      val warm = warmPhase(ctx, clients.toSeq, pool, want, mirror)
      val m1 = (db.metrics.searchCount.get, db.metrics.searchNanos.get, db.metrics.serveJobs.get)
      ctx.log("phase W done")
      val cold = mixedPhase(ctx, clients(0), db, mix, ids, mirror)
      val m2 = (db.metrics.searchCount.get, db.metrics.searchNanos.get, db.metrics.serveJobs.get)
      ctx.log("phase M done")
      ctx.op(db.count == mirror.size, s"table size after phase M (expected ${mirror.size})")

      val all = new Samples
      warm.byTransport.foreach(all addAll _)
      ctx.metric("exact_per_s", cold.reads.size / cold.reads.sum, "1/s")
      ctx.metric("index_per_s", all.size / warm.seconds, "1/s")
      ctx.metric("aux_per_s", cold.writes.size / cold.writes.sum, "1/s")
      ctx.metric("index_p50_ms", all.median * 1e3, "ms")
      ctx.metric("index_recall", warm.matched.toDouble / math.max(1, all.size), "ratio")
      ctx.metric("aux_recall", cold.matched.toDouble / math.max(1, cold.reads.size), "ratio")
      ctx.metric("chain_per_s", (all.size + cold.ops) / (warm.seconds + cold.seconds), "1/s")

      if (ctx.trace) {
        Transports.indices.foreach(t =>
          ctx.metric(s"api.${Transports(t)}.search_p50_ms", warm.byTransport(t).median * 1e3, "ms"))
        ctx.metric("api.search_p95_ms", all.quantile(0.95) * 1e3, "ms")
        val facadeWarmMs = (m1._2 - m0._2) / 1e6 / math.max(1L, m1._1 - m0._1)
        ctx.metric("api.facade.search_ms", facadeWarmMs, "ms")
        ctx.metric("api.facade.cold_search_ms", (m2._2 - m1._2) / 1e6 / math.max(1L, m2._1 - m1._1), "ms")
        ctx.metric("api.transport_ms", all.mean * 1e3 - facadeWarmMs, "ms")
        ctx.metric("api.serve_jobs_per_search", (m2._3 - m0._3).toDouble / math.max(1L, m2._1 - m0._1), "count")
        ctx.metric("api.first_search_ms", tFirst * 1e3, "ms")
        ctx.metric("api.add_p50_ms", cold.byKind("add").median * 1e3, "ms")
        ctx.metric("api.update_p50_ms", cold.byKind("update").median * 1e3, "ms")
        ctx.metric("api.delete_p50_ms", cold.byKind("delete").median * 1e3, "ms")
        ctx.metric("trace.overhead_pct", warm.overheadPct, "%")
        forcedBuilds(ctx, ids, vecs)
      }
    } finally {
      clients.foreach(_.close())
      h2.stop(); http.stop(); db.close()
    }
  }

  /** Time a request whose Spark work runs on the server's threads; the
    * ledger attributes it by the request's time window. */
  def served[T](ctx: Ctx, span: String)(body: => T): (T, Double) = {
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = body
    val ns = System.nanoTime() - t0
    ctx.ledger.foreach(_.window(span, ms0, System.currentTimeMillis() + 1, ns))
    (r, ns / 1e9)
  }

  final case class Warm(byTransport: Seq[Samples], matched: Long, seconds: Double, overheadPct: Double)

  /** Phase W: closed loop, two clients, round-robin transports. A traced
    * run traces only the middle half of the phase, so the ledger's overhead
    * is the middle half's latency over the outer quarters'. */
  def warmPhase(ctx: Ctx, clients: Seq[Client], pool: Array[Array[Float]],
      want: Array[IndexedSeq[(String, Double)]], mirror: mutable.LinkedHashMap[String, Array[Float]]): Warm = {
    val seconds = ctx.seconds * WarmShare
    val byTransport = Seq.fill(3)(new Samples)
    val inner, outer = new Samples
    val matched = new java.util.concurrent.atomic.AtomicLong
    ctx.setTracing(false)
    val t0 = System.nanoTime()
    val open = ctx.deadline(t0, seconds)
    val (q1, q3) = (t0 + (seconds / 4 * 1e9).toLong, t0 + (seconds * 3 / 4 * 1e9).toLong)
    def epochMs(ns: Long) = System.currentTimeMillis() + (ns - System.nanoTime()) / 1000000L
    val (q1Ms, q3Ms) = (epochMs(q1), epochMs(q3))
    val threads = clients.indices.map { c =>
      new Thread(() => {
        val r = Gen.rng(ctx.seed, s"warm-client-$c")
        var i = c
        while (open()) {
          val qi = r.nextInt(pool.length)
          val t = i % 3
          val s0 = System.nanoTime()
          ctx.attempt(s"warm ${Transports(t)} search")(clients(c).search(t, pool(qi))).foreach { got =>
            val s = (System.nanoTime() - s0) / 1e9
            val ok = sameAnswer(got, want(qi), mirror, pool(qi))
            ctx.op(ok, s"warm ${Transports(t)} answer for pool query $qi")
            if (ok) matched.incrementAndGet()
            byTransport(t).add(s)
            (if (s0 >= q1 && s0 < q3) inner else outer).add(s)
          }
          i += 1
        }
      })
    }
    val switcher = new Thread(() => {
      def sleepUntil(ns: Long): Unit = Thread.sleep(math.max(0L, (ns - System.nanoTime()) / 1000000L))
      sleepUntil(q1); ctx.ledger.foreach(_.enabled = true)
      sleepUntil(q3); ctx.ledger.foreach(_.enabled = false)
    })
    if (ctx.trace) switcher.start()
    threads.foreach(_.start()); threads.foreach(_.join())
    if (ctx.trace) switcher.join()
    val total = (System.nanoTime() - t0) / 1e9
    ctx.ledger.foreach { l =>
      l.enabled = true
      l.window("warm_search", q1Ms, q3Ms, (total / 2 * 1e9).toLong)
      l.addWall("warm_search", 0L, math.max(0, inner.size - 1))
    }
    Warm(byTransport, matched.get, total,
      if (inner.size > 0 && outer.size > 0) (inner.mean / outer.mean - 1) * 100 else 0.0)
  }

  final case class Mixed(reads: Samples, writes: Samples, byKind: Map[String, Samples],
      matched: Long, ops: Int, seconds: Double)

  /** Phase M: one client runs the seeded read/write schedule. */
  def mixedPhase(ctx: Ctx, client: Client, db: NeighborlySpark, mix: Gen.Mixture,
      ids: IndexedSeq[String], mirror: mutable.LinkedHashMap[String, Array[Float]]): Mixed = {
    val schedule = Gen.schedule(mix, ids, 2000, WriteEvery, Gen.rng(ctx.seed, "schedule")).iterator
    val reads, writes = new Samples
    val byKind = Map("add" -> new Samples, "update" -> new Samples, "delete" -> new Samples)
    var matched = 0L
    var n = 0
    val t0 = System.nanoTime()
    val open = ctx.deadline(t0, ctx.seconds * (1 - WarmShare))
    while (open() && schedule.hasNext) {
      schedule.next() match {
        case Gen.Search(q) =>
          ctx.attempt("cold search")(served(ctx, "cold_search")(client.search(n % 3, q))).foreach { case (got, s) =>
            val ok = sameAnswer(got, expected(mirror, q), mirror, q)
            ctx.op(ok, s"cold ${Transports(n % 3)} answer")
            if (ok) matched += 1
            reads.add(s)
          }
        case op =>
          val (kind, call) = op match {
            case Gen.Add(id, v) => ("add", () => { val ok = client.add(id, v); if (ok) mirror(id) = v; ok })
            case Gen.Update(id, v) => ("update", () => { val ok = client.update(id, v); if (ok) mirror(id) = v; ok })
            case Gen.Delete(id) => ("delete", () => { val ok = client.delete(id); if (ok) mirror.remove(id); ok })
            case other => throw new IllegalStateException(s"unexpected op $other")
          }
          ctx.attempt(kind)(served(ctx, "write")(call())).foreach { case (ok, s) =>
            ctx.op(ok, s"$kind write")
            writes.add(s); byKind(kind).add(s)
          }
      }
      n += 1
    }
    Mixed(reads, writes, byKind, matched, n, (System.nanoTime() - t0) / 1e9)
  }

  /** Each serve-side index build on its own, forced with a count on the
    * working set: the PQ fit with library defaults (what buildAllIndexes
    * runs), the exact local index and the HNSW graphs. */
  def forcedBuilds(ctx: Ctx, ids: IndexedSeq[String], vecs: Array[Array[Float]]): Unit = {
    val schema = StructType(Seq(
      StructField("sid", LongType, nullable = false),
      StructField("values", ArrayType(FloatType, containsNull = false), nullable = false)))
    val rows = new java.util.ArrayList[Row](vecs.length)
    vecs.indices.foreach(i => rows.add(Row(i.toLong, vecs(i).toSeq)))
    val df = ctx.spark.createDataFrame(rows, schema).repartition(4, col("sid")).cache()
    df.count()
    ctx.metric("index.serve_pq_fit.s", ctx.timed(ProductQuantization.fit(df, "values"))._2, "s")
    ctx.metric("index.local_ann_build.s", ctx.timed {
      val r = LocalAnn.build(df, "sid", "values"); r.count(); r.unpersist(true)
    }._2, "s")
    ctx.metric("index.hnsw_build.s", ctx.timed {
      val r = LocalHnsw.build(df, "sid", "values"); r.count(); r.unpersist(true)
    }._2, "s")
    df.unpersist(true)
  }
}
