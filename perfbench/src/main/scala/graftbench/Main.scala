package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Entry point of one benchmark run, started by run.py after it generated
  * the inputs:
  *
  *   Main --workload <name> --data <dir> --out <dir> --bench <perfbench dir>
  *        --seed <n> --seconds <s> --trace <0|1> --launched-ms <epoch ms>
  *
  * Prints the tail percentile it used, then, as its last stdout line, one
  * JSON object: correct, attempted, failed, and the end-to-end metrics (or,
  * traced, the per-layer sums). Spans of a traced run go to <out>/spans.json.
  *
  *   Main --derive 1 --data <catalog dir> --out <file>
  *
  * runs every declared query twice and writes, per query, the jobs its
  * construction launched and its checksums; derive_catalog.py turns that
  * into catalog.json.
  */
object Main {
  /** Spark slots: local[4], the core count of the reference machine. */
  val Slots = 4

  /** The library's own harness session at [[Slots]] cores, so the benchmark
    * times the planner configuration the library's runtime mains use.
    */
  def session(): SparkSession = {
    val s = graft.Core.harnessSession(Slots.toString)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Exits explicitly, so that no lingering non-daemon thread can keep a
    * finished run alive.
    */
  def main(args: Array[String]): Unit =
    try { run(args); sys.exit(0) }
    catch { case e: Throwable => e.printStackTrace(); sys.exit(1) }

  private def run(args: Array[String]): Unit = {
    val a = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    if (args.contains("--derive")) {
      val spark = session()
      try Derive.run(spark, a("data"), a("out")) finally spark.stop()
      return
    }
    val workload = a("workload")
    val traced = a("trace") == "1"
    val launched = a("launched-ms").toLong
    val spark = session()
    log(s"session up, workload $workload")
    val ctx = Ctx(spark, a("data"), a("out"), a("seed").toLong,
      if (traced) Some(new Trace(spark)) else None)
    val sessionS = (System.currentTimeMillis() - launched) / 1e3
    val out = workload match {
      case "catalog_iterative" | "catalog_relational" =>
        val cat = CatalogFile.load(Paths.get(a("bench"), "catalog.json").toString)
        Catalog.run(ctx, cat.sample(workload), cat.expect)
      case "qpe_daemon" => QpeDaemon.run(ctx)
      case "llm_ingest" => LlmIngest.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val lat = out.latencies
    val p = Stats.tailPercentile(lat.size)
    val failed = out.ops.count(!_.ok)
    val e2e = Seq(
      "setup_s" -> ("s", sessionS + out.setupS),
      "run_s" -> ("s", out.runS),
      "op_p50_s" -> ("s", Stats.median(lat)),
      "op_tail_s" -> ("s", Stats.percentile(lat, p)),
      "ok_ratio" -> ("1", 1.0 - failed.toDouble / out.ops.size),
      "storage_peak_mb" -> ("MB", out.storagePeakMb))
    val metrics =
      if (!traced) e2e
      else PerLayer.names.map(n => n -> (PerLayer.unit(n), out.layers.getOrElse(n, 0.0)))
    ctx.trace.foreach(t => writeSpans(Paths.get(a("out"), "spans.json").toString, t.spans))
    spark.stop()
    val body = metrics.map { case (n, (u, v)) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
    println(s"op_tail_s is p$p of ${lat.size} ops")
    println(s"""{"correct": ${failed == 0}, "attempted": ${out.ops.size}, "failed": $failed, """ +
      s""""metrics": {${body.mkString(", ")}}}""")
  }

  /** Diagnostics go to stderr, stamped with the seconds since the JVM
    * started; stdout carries only the result.
    */
  def log(msg: String): Unit = {
    val t = (System.currentTimeMillis() - jvmStart) / 1e3
    System.err.println(f"[perfbench +$t%.1fs] $msg")
  }

  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def writeSpans(path: String, spans: Seq[Span]): Unit = {
    val lines = spans.sortBy(s => (s.start, s.level)).map { s =>
      s"""{"level":"${s.level}","id":"${s.id}","parent":"${s.parent}","op":"${s.op}",""" +
        s""""name":${quote(s.name)},"start":${s.start},"end":${s.end}}"""
    }
    Files.write(Paths.get(path), lines.mkString("[\n", ",\n", "\n]\n").getBytes(UTF_8))
  }

  def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
}
