package graftbench

import org.apache.spark.sql.SparkSession

/** One timed operation: a query, a QPE slot or an ingest micro-batch.
  * `latencyS` is what the user waits: the call's wall time in a closed
  * loop, the time from due to done in the open loop.
  */
final case class Op(name: String, start: Long, end: Long, latencyS: Double, ok: Boolean)

/** What a workload hands back: every timed op (for the failure count), the
  * op latencies the percentiles are taken over, the time of the timed ops
  * (wall time in a closed loop, program time in the open loop), the peak
  * storage sampled during the timed window, the set-up time spent inside
  * the JVM, and the per-layer figures of a traced run.
  */
final case class Outcome(ops: Seq[Op], latencies: Seq[Double], runS: Double,
                         storagePeakMb: Double, setupS: Double,
                         layers: Map[String, Double])

/** Context every workload gets: the session, its input directory (written
  * by gen.py), a directory for its outputs, the seed, and the trace
  * (None on untraced runs).
  */
final case class Ctx(spark: SparkSession, data: String, out: String, seed: Long,
                     trace: Option[Trace]) {
  /** Storage held by the block manager, in MB: the memory used by all its
    * blocks (RDD blocks, which include checkpoints and caches, and
    * broadcast blocks) plus the RDD blocks spilled to disk.
    */
  def storageMb(): Double = {
    val sc = spark.sparkContext
    val mem = sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
    (mem + sc.getRDDStorageInfo.map(_.diskSize).sum) / 1e6
  }

  /** Runs `body` while a sampler thread reads [[storageMb]] every
    * [[Ctx.SampleMs]] ms, and returns its result with the highest reading.
    * Storage is read as it stands: no GC is forced, so blocks that only
    * Spark's cleaner would drop, after some later GC, count too.
    */
  def storagePeakMb[T](body: => T): (T, Double) = {
    @volatile var peak = storageMb()
    @volatile var running = true
    val sampler = new Thread(() => while (running) {
      peak = math.max(peak, storageMb())
      Thread.sleep(Ctx.SampleMs)
    }, "storage-sampler")
    sampler.setDaemon(true)
    sampler.start()
    val r = try body finally { running = false; sampler.join() }
    (r, math.max(peak, storageMb()))
  }

  def now(): Long = System.currentTimeMillis()

  /** Runs `body` as one op: marks its jobs with the op id and, when traced,
    * records the op span.
    */
  def op[T](id: String, name: String, phase: String = "action")(body: => T): T = {
    trace.foreach(_.enter(id, phase))
    val t0 = now()
    try body
    finally trace.foreach { t => t.opSpan(id, name, t0, now()); t.enter("", "") }
  }
}

object Ctx {
  val SampleMs = 50L
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  /** Linear-interpolated percentile, as numpy's default. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = p / 100.0 * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest percentile of a fixed ladder that has at least ten samples
    * beyond it; the median when there are fewer than twenty samples.
    */
  def tailPercentile(n: Int): Double =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0).find(p => n * (1 - p / 100.0) >= 10.0 - 1e-9)
      .getOrElse(50.0)
}
