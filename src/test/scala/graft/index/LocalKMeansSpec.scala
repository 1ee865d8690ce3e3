package graft.index

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkSpec

class LocalKMeansSpec extends SparkSpec {

  private lazy val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()

  private def uniform(n: Int, dim: Int, seed: Long): Array[Float] = {
    val r = new java.util.Random(seed)
    Array.fill(n * dim)(r.nextFloat())
  }

  test("planted, well-separated clusters are recovered exactly") {
    val dim = 8; val k = 5; val perCluster = 40
    val r = new java.util.Random(7)
    // cluster c sits at 10·e_c; members jitter by < 0.1 per coordinate
    val labelled = r.ints(0, k).limit(k * perCluster.toLong).toArray.map { c =>
      c -> Array.tabulate(dim)(j => (if (j == c) 10f else 0f) + (r.nextFloat() - 0.5f) * 0.2f)
    }
    val points = labelled.flatMap(_._2)
    val centers = LocalKMeans.fit(points, dim, k, maxIter = 50, seed = 42)
    assert(centers.length === k)
    val assigned = labelled.map { case (_, p) =>
      centers.indices.minBy(c => centers(c).zip(p).map { case (a, b) => (a - b) * (a - b) }.sum)
    }
    // one fitted centre per planted cluster, and the partition is the plant
    val byLabel = labelled.map(_._1).zip(assigned).groupBy(_._1).map { case (l, ps) => l -> ps.map(_._2).toSet }
    assert(byLabel.values.forall(_.size == 1))
    assert(byLabel.values.map(_.head).toSet.size === k)
    // each centre is its cluster's mean
    byLabel.foreach { case (label, cs) =>
      val members = labelled.filter(_._1 == label).map(_._2)
      val mean = Array.tabulate(dim)(j => members.map(_(j).toDouble).sum / members.length)
      centers(cs.head).zip(mean).foreach { case (got, want) => assert(math.abs(got - want) < 1e-5) }
    }
  }

  test("the Lloyd objective never ends above the seeding's") {
    for (dim <- Seq(2, 16); k <- Seq(1, 7, 64); seed <- 1L to 4L) {
      val points = uniform(600, dim, seed * 31 + dim)
      val seeds = LocalKMeans.seedCenters(points, dim, k, seed)
      assert(seeds.length === k)
      val fitted = LocalKMeans.lloyd(points, dim, seeds, maxIter = 20)
      assert(LocalKMeans.cost(points, dim, fitted) <= LocalKMeans.cost(points, dim, seeds),
        s"dim $dim k $k seed $seed")
    }
  }

  test("Ivf.fit and ProductQuantization.fit are partitioning-independent, capped or not") {
    val n = emb.count()
    for (cap <- Seq(300, n.toInt, 1 << 18)) {
      val ivf7 = Ivf.fit(emb.repartition(7), "embedding", nlist = 8, trainSample = cap)
      val ivf3 = Ivf.fit(emb.repartition(3), "embedding", nlist = 8, trainSample = cap)
      assert(ivf7.nlist === 8)
      assert(ivf7.centers.map(_.toSeq).toSeq === ivf3.centers.map(_.toSeq).toSeq, s"cap $cap")
      val pq7 = ProductQuantization.fit(emb.repartition(7), "embedding",
        numSubVectors = Some(4), numCentroids = 16, trainSample = cap)
      val pq3 = ProductQuantization.fit(emb.repartition(3), "embedding",
        numSubVectors = Some(4), numCentroids = 16, trainSample = cap)
      assert(pq7.numSubVectors === 4)
      assert(pq7.codebooks.map(_.map(_.toSeq).toSeq).toSeq ===
        pq3.codebooks.map(_.map(_.toSeq).toSeq).toSeq, s"cap $cap")
    }
  }

  /** Spark jobs `body` submits from this thread. A marker job in its own
    * group flushes the listener queue: once its start is seen, every
    * earlier job start has been delivered. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"graft.test.fitjobs.${java.util.UUID.randomUUID()}"
    val marker = s"$group.marker"
    val jobs = new AtomicInteger
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => jobs.incrementAndGet()
          case `marker` => markerSeen.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "codebook fit")
      body
      sc.setJobGroup(marker, "listener flush")
      sc.parallelize(Seq(1), 1).count()
      assert(markerSeen.await(60, TimeUnit.SECONDS), "listener never saw the marker job")
      jobs.get()
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("codebook fits run no Spark job per k-means iteration") {
    for (cap <- Seq(300, 1 << 18)) {
      val pq = Seq(5, 50).map(it => jobsOf(ProductQuantization.fit(emb, "embedding",
        numSubVectors = Some(4), numCentroids = 16, maxIter = it, trainSample = cap)))
      val ivf = Seq(5, 50).map(it => jobsOf(Ivf.fit(emb, "embedding", nlist = 16,
        maxIter = it, trainSample = cap)))
      info(s"cap $cap: PQ jobs at maxIter 5/50 = $pq, IVF = $ivf")
      assert(pq.head > 0 && ivf.head > 0)
      assert(pq(0) === pq(1))
      assert(ivf(0) === ivf(1))
    }
  }
}
