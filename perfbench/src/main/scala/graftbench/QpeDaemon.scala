package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.concurrent.TrieMap
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.qpe.{Grid, Odim, Qpe}
import graft.streaming.RT

/** The real-time QPE daemon at full 640x710 grid size, as an open loop.
  *
  * A lander thread moves each pre-generated radar gate file into the spool
  * (one directory per slot) at its scheduled time, whether or not the
  * daemon keeps up, and then drops a one-row arrival notice for it into the
  * directory the daemon's file stream watches, as the reference daemon
  * polls for file arrivals. `RT.completenessStream` over the notices emits
  * each slot
  * once its five radars arrived, or degraded at the completeness deadline;
  * each emitted slot then runs `Qpe.gridStage` -> `Grid.collectGrid` ->
  * outlier removal -> Gaussian smoothing -> validity clamp ->
  * `Qpe.writeProducts`, composed as the library's streaming QPE spec does.
  * An op is one slot; its latency runs from when the product was due (the
  * slot's last file landing, or the deadline for a degraded slot) until its
  * files are written.
  */
object QpeDaemon {

  private val cfg = Qpe.Config()

  /** Extra runs of the warm-up slot's product chain in set-up. */
  val WarmRepeats = 2

  val ArrivalSchema: StructType = StructType(Seq(
    StructField("slot", LongType), StructField("radar", StringType),
    StructField("eventTimeMs", LongType)))

  val GateSchema: StructType = StructType(Seq(
    StructField("slot", LongType), StructField("radar", StringType),
    StructField("sweep", IntegerType), StructField("az_idx", IntegerType),
    StructField("rng_idx", IntegerType), StructField("zh", DoubleType),
    StructField("noise", DoubleType), StructField("visib", DoubleType),
    StructField("w", DoubleType), StructField("eventTimeMs", LongType)))

  final case class Landing(file: String, slot: Long, atS: Double)
  final case class SlotPlan(slot: Long, missing: Option[String], deadlineS: Double)
  final case class Schedule(intervalMs: Long, timeoutMs: Long, landings: Seq[Landing],
                            slots: Seq[SlotPlan])

  def loadSchedule(dir: String): Schedule = {
    implicit val formats: Formats = DefaultFormats
    val j = JsonMethods.parse(new String(Files.readAllBytes(Paths.get(dir, "schedule.json")), UTF_8))
    val events = (j \ "events").children
    Schedule(((j \ "interval_s").extract[Double] * 1000).toLong, (j \ "timeout_ms").extract[Long],
      events.filter(e => (e \ "file") != JNull).map(e =>
        Landing((e \ "file").extract[String], (e \ "slot").extract[Long], (e \ "at_s").extract[Double])),
      events.filter(e => (e \ "file") == JNull).map(e =>
        SlotPlan((e \ "slot").extract[Long], (e \ "radar").extractOpt[String],
          (e \ "deadline_s").extract[Double])))
  }

  def expectedQuality(p: SlotPlan): String =
    RT.quality(RT.AllSources.filterNot(p.missing.contains).toSet)

  /** The per-slot product chain, split so each layer can be timed. */
  def product(polar: DataFrame, lut: DataFrame, outDir: String,
              slot: Long, quality: String): (Array[Array[Double]], Map[String, Double]) = {
    val t0 = System.nanoTime()
    val grid = Grid.collectGrid(Qpe.gridStage(polar, lut, cfg), cfg.nx, cfg.ny)
    val t1 = System.nanoTime()
    val cleaned = Grid.outlierRemoval(grid, cfg.outlierK, cfg.outlierZ)
    val smoothed = Grid.gaussianSmooth(cleaned, cfg.gaussianSigma)
    val fin = smoothed.map(_.map(v => if (!v.isNaN && v < cfg.minValid) 0.0 else v))
    val t2 = System.nanoTime()
    val files = Qpe.writeProducts(fin, outDir, slot / 1000, quality)
    val t3 = System.nanoTime()
    (fin, Map("qpe.grid_s" -> (t1 - t0) / 1e9, "qpe.kernel_s" -> (t2 - t1) / 1e9,
      "qpe.write_s" -> (t3 - t2) / 1e9,
      "qpe.product_mb" -> files.map(f => Files.size(Paths.get(f))).sum / 1e6))
  }

  private def polarOf(ctx: Ctx, slotDir: String): DataFrame =
    ctx.spark.read.schema(GateSchema).parquet(slotDir)
      .select(col("sweep"), col("az_idx"), col("rng_idx"), col("zh"),
        col("noise"), col("visib"), col("w"))

  private def slotDirName(slot: Long, sch: Schedule): String =
    sch.landings.find(_.slot == slot).map(l => Paths.get(l.file).getParent.toString).get

  /** One window's outcome. `runS` is program time: the sum over slots of
    * the time from emission to products written, so the landing schedule's
    * clock does not count.
    */
  final case class Window(ops: Seq[Op], runS: Double,
                          grids: Map[Long, Array[Array[Double]]], qualities: Map[Long, String],
                          layers: Map[String, Double], spool: String, products: String)

  /** One open-loop window over the schedule in `dir`. */
  def window(ctx: Ctx, lut: DataFrame, dir: String, tag: String): Window = {
    import ctx.spark.implicits._
    val sch = loadSchedule(dir)
    val base = Paths.get(ctx.out, tag).toString
    val spool = s"$base/spool"; val products = s"$base/products"
    Files.createDirectories(Paths.get(spool)); Files.createDirectories(Paths.get(products))
    // slot -> (emitted ms, end ms, quality, ok)
    val done = new TrieMap[Long, (Long, Long, String, Boolean)]()
    val keep = new TrieMap[Long, Array[Array[Double]]]()
    val layer = new TrieMap[String, Double]()
    def addLayer(m: Map[String, Double]): Unit = m.foreach { case (k, v) =>
      layer.put(k, layer.getOrElse(k, 0.0) + v)
    }
    val arrivalDir = s"$base/arrivals"
    Files.createDirectories(Paths.get(arrivalDir))
    val arrivals = RT.fileStream(ctx.spark, arrivalDir, ArrivalSchema)
      .select(col("slot"), col("radar").as("source"), col("eventTimeMs"))
      .as[RT.SourceArrival]
    @volatile var t0 = 0L
    def due(slot: Long): Long = {
      val plan = sch.slots.find(_.slot == slot).get
      val at = if (plan.missing.isDefined) plan.deadlineS
        else sch.landings.filter(_.slot == slot).map(_.atS).max
      t0 + (at * 1000).toLong
    }
    val q = RT.completenessStream(arrivals, sch.timeoutMs)
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$base/checkpoint")
      .trigger(Trigger.ProcessingTime(sch.intervalMs))
      .foreachBatch { (df: Dataset[RT.SlotResult], _: Long) =>
        df.collect().sortBy(_.slot).foreach { sr =>
          val emitted = ctx.now()
          addLayer(Map("rt.emit_wait_s" -> (emitted - due(sr.slot)) / 1e3))
          val r = scala.util.Try(ctx.op(s"$tag-${sr.slot}", "qpe_slot") {
            val (grid, l) = product(polarOf(ctx, s"$spool/${slotDirName(sr.slot, sch)}"),
              lut, products, sr.slot, sr.quality)
            keep.put(sr.slot, grid)
            addLayer(l)
            Main.log(s"$tag slot ${sr.slot} ${sr.quality} emit_wait=${(emitted - due(sr.slot)) / 1e3} $l")
          })
          r.failed.foreach(e => Main.log(s"$tag slot ${sr.slot} failed: $e"))
          val ok = r.isSuccess
          done.put(sr.slot, (emitted, ctx.now(), sr.quality, ok))
        }
      }
      .start()
    // the schedule starts once the query is up and polling the empty spool
    val ready = ctx.now() + 30000
    while (!q.status.message.startsWith("Waiting for") && ctx.now() < ready) Thread.sleep(5)
    if (!q.isActive) throw new IllegalStateException("daemon stream did not start", q.exception.orNull)
    // the lander: on schedule, moves each staged gate file into its slot's
    // spool directory, then its arrival notice into the watched directory.
    // Triggers fire on multiples of the interval (the daemon's 5-minute
    // trigger, compressed); slot k starts half an interval before trigger k,
    // so its files, landing in the first 40% of the slot, meet one trigger.
    val half = sch.intervalMs / 2
    t0 = ((ctx.now() + half + 100) / sch.intervalMs + 1) * sch.intervalMs - half
    var lag = 0.0
    sch.landings.sortBy(_.atS).foreach { l =>
      val at = t0 + (l.atS * 1000).toLong
      val wait = at - ctx.now()
      if (wait > 0) Thread.sleep(wait)
      val dst = Paths.get(spool, l.file)
      Files.createDirectories(dst.getParent)
      Files.move(Paths.get(dir, "staged", l.file), dst, StandardCopyOption.ATOMIC_MOVE)
      val notice = l.file.replace('/', '_')
      Files.move(Paths.get(dir, "staged", "arrivals", notice), Paths.get(arrivalDir, notice),
        StandardCopyOption.ATOMIC_MOVE)
      lag = math.max(lag, (ctx.now() - at) / 1e3)
    }
    // drain: every slot emitted, or a bound well past the last deadline
    val limit = ctx.now() + 60000
    while (done.size < sch.slots.size && ctx.now() < limit && q.isActive) Thread.sleep(5)
    q.stop()
    val ops = sch.slots.map { p =>
      done.get(p.slot) match {
        case Some((_, end, quality, ok)) =>
          val d = due(p.slot)
          if (quality != expectedQuality(p))
            Main.log(s"$tag slot ${p.slot}: quality $quality, expected ${expectedQuality(p)}")
          Op(s"slot${p.slot}", d, end, (end - d) / 1e3, ok && quality == expectedQuality(p))
        case None =>
          val end = ctx.now()
          Op(s"slot${p.slot}", due(p.slot), end, (end - due(p.slot)) / 1e3, ok = false)
      }
    }
    val runS = done.values.map { case (emitted, end, _, _) => end - emitted }.sum / 1e3
    Window(ops, runS, keep.toMap,
      done.map { case (s, (_, _, q, _)) => s -> q }.toMap,
      layer.toMap + ("rt.generator_lag_s" -> lag), spool, products)
  }

  /** Batch `Qpe.compute` over the same spool for a seeded sample of slots;
    * returns the slots whose streamed product differs.
    */
  def check(ctx: Ctx, lut: DataFrame, dir: String, w: Window, n: Int): Set[Long] = {
    val sch = loadSchedule(dir)
    val sample = new Random(ctx.seed).shuffle(sch.slots.map(_.slot)).take(n)
    sample.filterNot { slot =>
      val r = scala.util.Try {
        val quality = w.qualities(slot)
        val checkDir = Files.createDirectories(Paths.get(w.products).resolveSibling("check"))
        val batch = Qpe.compute(polarOf(ctx, s"${w.spool}/${slotDirName(slot, sch)}"), lut,
          checkDir.toString, slot / 1000, quality, cfg)
        val streamed = w.grids(slot)
        val (_, fields) = Odim.read(s"${w.products}/qpe_${slot / 1000}.h5")
        fields("radar") == quality &&
          Files.exists(Paths.get(s"${w.products}/qpe_${slot / 1000}.gif")) &&
          batch.indices.forall(x => batch(x).indices.forall(y =>
            java.lang.Double.compare(batch(x)(y), streamed(x)(y)) == 0))
      }
      Main.log(s"check slot $slot: $r")
      r.getOrElse(false)
    }.toSet
  }

  def loadLut(ctx: Ctx): DataFrame = {
    val lut = ctx.spark.read.parquet(s"${ctx.data}/lut.parquet").persist()
    lut.count()
    lut
  }

  def run(ctx: Ctx): Outcome = {
    val t0 = ctx.now()
    // program set-up: the LUT load, then one warm-up slot through its own
    // stream, then its product chain twice more: without those, the JIT was
    // still compiling the chain during the first timed slot, whose time
    // then swung from run to run
    val lut = loadLut(ctx)
    Main.log(s"LUT loaded")
    val warm = window(ctx, lut, s"${ctx.data}/warm", "warm")
    val warmSch = loadSchedule(s"${ctx.data}/warm")
    for (p <- warmSch.slots; _ <- 1 to WarmRepeats)
      product(polarOf(ctx, s"${warm.spool}/${slotDirName(p.slot, warmSch)}"), lut,
        warm.products, p.slot, expectedQuality(p))
    val setupS = (ctx.now() - t0) / 1e3
    val (timed, storagePeak) = ctx.storagePeakMb(window(ctx, lut, s"${ctx.data}/timed", "timed"))
    val bad = check(ctx, lut, s"${ctx.data}/timed", timed, 1)
    val ops = timed.ops.map(o => if (bad(o.name.stripPrefix("slot").toLong)) o.copy(ok = false) else o)
    val layers = ctx.trace.fold(Map.empty[String, Double]) { tr =>
      tr.start()
      val traced = window(ctx, lut, s"${ctx.data}/traced", "traced")
      tr.stop()
      tr.layers(traced.runS, Main.Slots, traced.layers ++ Map(
        "trace.run_s" -> traced.runS, "trace.overhead_s" -> (traced.runS - timed.runS)))
    }
    Outcome(ops, ops.map(_.latencyS), timed.runS, storagePeak, setupS, layers)
  }
}
