package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.llm.{DedupIndex, Similarity}
import graft.streaming.RT

/** LLM ingest: `RT.llmIngestBatch` over seeded micro-batches, a closed loop
  * applying batch N+1 only after batch N completed (foreachBatch semantics,
  * one client). Each batch runs quality -> near-dup probe -> DedupIndex
  * append -> ANN probe -> Similarity.appendToIndex against indexes that grow
  * through the run, so index writes interleave with reads.
  *
  * The seeded dedup and IVF indexes are rebuilt from the seed corpus before
  * every window (set-up), so every window sees the same index growth.
  */
object LlmIngest {
  val MinJaccard = 0.5
  val K = 5
  val NProbe = 4
  val NList = 16

  final case class Expected(short: Int, nearDup: Int, fresh: Int)

  def expected(data: String): (Seq[Expected], Long, Int) = {
    implicit val formats: Formats = DefaultFormats
    val j = JsonMethods.parse(new String(Files.readAllBytes(Paths.get(data, "expected.json")), UTF_8))
    ((j \ "batches").children.map(b => Expected((b \ "short").extract[Int],
      (b \ "near_dup").extract[Int], (b \ "fresh").extract[Int])),
      (j \ "final_index_docs").extract[Long], (j \ "dim").extract[Int])
  }

  /** Rebuilds both indexes from the seed corpus under `dir`. */
  def buildIndexes(ctx: Ctx, dir: String): Unit = {
    val seed = ctx.spark.read.parquet(s"${ctx.data}/seed.parquet")
    DedupIndex.save(seed.select("doc_id", "text"), "doc_id", "text", s"$dir/dedup")
    val (assigned, model) = Similarity.kmeansIndex(seed.select("doc_id", "embedding"),
      "doc_id", "embedding", NList)
    Similarity.saveIndex(assigned, model, s"$dir/ann")
  }

  final case class Window(ops: Seq[Op], runS: Double, layers: Map[String, Double])

  /** Applies batches `from until to` to the indexes under `dir` in order,
    * then checks each batch's audit flag counts and, after the last batch,
    * the final index sizes. The checks run after the timed window.
    */
  def window(ctx: Ctx, dir: String, from: Int, to: Int): Window = {
    val (exp, finalDocs, dim) = expected(ctx.data)
    val fn = RT.llmIngestBatch(s"$dir/dedup", s"$dir/ann", "doc_id", "text", "embedding",
      dim, MinJaccard, K, NProbe, s"$dir/quality", s"$dir/dedup_audit", s"$dir/ann_audit")
    val ops = (from until to).map { b =>
      val s = ctx.now()
      val r = scala.util.Try(ctx.op(s"batch$b", "ingest_batch") {
        fn(ctx.spark.read.parquet(f"${ctx.data}/batches/batch_$b%04d.parquet"), b.toLong)
      })
      r.failed.foreach(e => Main.log(s"batch $b failed: $e"))
      val e = ctx.now()
      Op(s"batch$b", s, e, (e - s) / 1e3, r.isSuccess)
    }
    def flagged(path: String, b: Int) = ctx.spark.read.parquet(path)
      .filter(col("applied_batch") === b).groupBy(col("keep")).count()
      .collect().map(r => r.getBoolean(0) -> r.getLong(1)).toMap.withDefaultValue(0L)
    val checked = ops.zip(from until to).map { case (o, b) =>
      val r = scala.util.Try {
        val q = flagged(s"$dir/quality", b); val d = flagged(s"$dir/dedup_audit", b)
        (q(false), d(false), d(true))
      }
      val want = (exp(b).short.toLong, exp(b).nearDup.toLong, exp(b).fresh.toLong)
      Main.log(s"batch $b ${o.latencyS} s: (short, near-dup, fresh) $r, expected $want")
      o.copy(ok = o.ok && r.toOption.contains(want))
    }
    val indexDocs = scala.util.Try(
      (ctx.spark.read.parquet(s"$dir/dedup/docsets").count(),
        ctx.spark.read.parquet(s"$dir/ann/cells").count())).getOrElse((-1L, -1L))
    Main.log(s"index docs (dedup, ivf) $indexDocs, expected $finalDocs")
    val finalOk = to < exp.size || indexDocs == ((finalDocs, finalDocs))
    val all = if (finalOk) checked else checked.init :+ checked.last.copy(ok = false)
    val files = Seq("dedup", "ann").flatMap(d => listFiles(Paths.get(dir, d)))
    val docs = exp.slice(from, to).map(e => e.short + e.nearDup + e.fresh).sum
    Window(all, (all.last.end - all.head.start) / 1e3, Map(
      "llm.index_files" -> files.size.toDouble,
      "llm.index_mb" -> files.map(Files.size).sum / 1e6,
      "llm.kept_ratio" -> exp.slice(from, to).map(_.fresh).sum.toDouble / docs))
  }

  private def listFiles(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).toSeq

  /** Set-up: rebuild the indexes and apply batch 0 (the warm-up); timed:
    * the remaining batches. The traced run repeats both on fresh indexes.
    */
  def run(ctx: Ctx): Outcome = {
    val n = expected(ctx.data)._1.size
    def setUp(tag: String): (String, Double) = {
      val t0 = ctx.now()
      val dir = Paths.get(ctx.out, tag).toString
      buildIndexes(ctx, dir)
      Main.log(s"$tag indexes built")
      window(ctx.copy(trace = None), dir, 0, 1)
      (dir, (ctx.now() - t0) / 1e3)
    }
    val (dir, setupS) = setUp("timed")
    val (timed, storagePeak) = ctx.storagePeakMb(window(ctx.copy(trace = None), dir, 1, n))
    val layers = ctx.trace.fold(timed.layers) { tr =>
      val (tdir, _) = setUp("traced")
      tr.start()
      val w = window(ctx, tdir, 1, n)
      tr.stop()
      tr.layers(w.runS, Main.Slots, w.layers ++ Map(
        "trace.run_s" -> w.runS, "trace.overhead_s" -> (w.runS - timed.runS)))
    }
    Outcome(timed.ops, timed.ops.map(_.latencyS), timed.runS, storagePeak, setupS, layers)
  }
}
