package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Timed samples of one quantity; every reported timing is a median. */
final class Samples {
  private val xs = mutable.ArrayBuffer.empty[Double]
  def add(x: Double): Unit = synchronized { xs += x }
  def addAll(other: Samples): Unit = synchronized { xs ++= other.values }
  def values: Vector[Double] = synchronized { xs.toVector }
  def size: Int = synchronized { xs.size }
  def sum: Double = values.sum
  def mean: Double = if (size == 0) 0.0 else sum / size
  def median: Double = quantile(0.5)
  /** Linear-interpolated quantile (0 when empty). */
  def quantile(p: Double): Double = {
    val s = values.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = p * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
}

/** One run's state: the session, the optional ledger, the op counters
  * and the metrics collected so far. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val ledger: Option[Ledger], val sessionSeconds: Double) {

  def trace: Boolean = ledger.isDefined

  /** Turn the ledger on or off once every queued event is handled;
    * returns whether it is now on (always false in an untraced run). */
  def setTracing(on: Boolean): Boolean = ledger.exists { l =>
    org.apache.spark.GraftbenchBridge.drainListenerBus(spark.sparkContext)
    l.enabled = on
    on
  }

  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def reported: Seq[(String, Double, String)] = metrics.toSeq.map { case (n, (v, u)) => (n, v, u) }

  private var attemptedOps = 0L
  private var failedOps = 0L
  def attempted: Long = synchronized(attemptedOps)
  def failed: Long = synchronized(failedOps)

  /** Count one op; it fails if `ok` is false. */
  def op(ok: Boolean, what: => String): Unit = synchronized {
    attemptedOps += 1
    if (!ok) { failedOps += 1; log(s"FAILED: $what") }
  }

  /** Run one op; an exception counts it failed and yields None. */
  def attempt[T](what: String)(body: => T): Option[T] =
    try Some(body)
    catch {
      case scala.util.control.NonFatal(e) =>
        op(ok = false, s"$what threw $e")
        e.printStackTrace()
        None
    }

  def log(msg: String): Unit = System.err.println(s"[graftbench] ${java.time.LocalTime.now()} $msg")

  /** Time `body` in seconds. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Time a call the benchmark makes on its own thread into the program,
    * tagging its Spark jobs with `span` for the ledger. */
  def span[T](name: String)(body: => T): (T, Double) = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Ledger.SpanKey)
    sc.setLocalProperty(Ledger.SpanKey, name)
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val r = body
      val ns = System.nanoTime() - t0
      ledger.foreach(_.window(name, ms0, System.currentTimeMillis() + 1, ns))
      (r, ns / 1e9)
    } finally sc.setLocalProperty(Ledger.SpanKey, prev)
  }

  /** Repetitions of `body`: `warm` warm-up repetitions, excluded from the
    * samples, then measured ones for the run's seconds, at least
    * `minMeasured`, so the median rides out a slow one. A traced run
    * measures at least four, untraced-traced-traced-untraced, so the
    * ledger's overhead is measured with the JIT's warming trend cancelled.
    * `body` gets the repetition number and whether it is measured and
    * traced. */
  def repetitions(warm: Int, minMeasured: Int)(body: (Int, Boolean, Boolean) => Unit): Unit = {
    setTracing(false)
    (0 until warm).foreach(body(_, false, false))
    var rep = warm
    val open = deadline(System.nanoTime(), seconds)
    var m = 0
    while (m < math.max(minMeasured, if (trace) 4 else 0) || open()) {
      body(rep, true, setTracing(m % 4 == 1 || m % 4 == 2)); rep += 1; m += 1
    }
    setTracing(true)
  }

  /** Deadline helper: true while the measure window is open. */
  def deadline(startNs: Long, seconds: Double): () => Boolean =
    () => System.nanoTime() - startNs < (seconds * 1e9).toLong
}
