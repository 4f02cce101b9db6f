package graftbench

import scala.util.Random

import graft.SparkEntry

/** The two catalog workloads: a closed loop with one client, issuing the
  * declared queries of a committed sample by name, each after the previous
  * one returned, as an analyst's or an ETL job's session sends them.
  *
  * Pass 1 over the sample, in name order, is the warm-up (set-up): in a
  * fresh JVM the first run of a query is dominated by JIT and first-build
  * costs that swing with the order, and the order of the warm-up shapes
  * what the JIT compiles, so it is the same in every run. Pass 2, in an
  * order drawn from the seed, is timed. Each op is `QueryDef.build` (the
  * construction, including any jobs it launches) followed by the checksum
  * pass over the full result. Blocks are never released between ops, as no
  * library caller releases them.
  */
object Catalog {

  /** Expected result of a query, committed in catalog.json: its row count
    * and checksum.
    */
  final case class Expect(rows: Long, checksum: String) {
    def matches(f: Checksum.Fold): Boolean = f.rows == rows && f.hex == checksum
  }

  private lazy val builds = SparkEntry.queries

  def runQuery(ctx: Ctx, id: String, name: String): (Checksum.Fold, Double) = {
    val t0 = System.nanoTime()
    val df = ctx.op(id, name, "build")(builds(name)(ctx.spark, ctx.data))
    val buildS = (System.nanoTime() - t0) / 1e9
    (ctx.op(id, name)(Checksum.fold(df)), buildS)
  }

  private final case class Step(op: Op, buildS: Double)

  private def pass(ctx: Ctx, expect: Map[String, Expect], order: Seq[String],
                   tag: String): Seq[Step] = order.zipWithIndex.map { case (name, i) =>
    val s = ctx.now()
    val (ok, buildS) =
      try {
        val (f, b) = runQuery(ctx, s"$tag$i", name)
        val ok = expect.get(name).exists(_.matches(f))
        if (!ok) Main.log(s"op $name: checksum ${f.hex}, expected ${expect.get(name)}")
        (ok, b)
      } catch { case e: Throwable =>
        Main.log(s"op $name failed: $e")
        (false, 0.0)
      }
    val e = ctx.now()
    Main.log(s"$tag$i $name ${(e - s) / 1e3} s, build $buildS s")
    Step(Op(name, s, e, (e - s) / 1e3, ok), buildS)
  }

  def run(ctx: Ctx, names: Seq[String], expect: Map[String, Expect]): Outcome = {
    val t0 = ctx.now()
    val rng = new Random(ctx.seed)
    pass(ctx.copy(trace = None), expect, names.sorted, "w")
    val setupS = (ctx.now() - t0) / 1e3
    val (timed, storagePeak) =
      ctx.storagePeakMb(pass(ctx.copy(trace = None), expect, rng.shuffle(names), "p"))
    val runS = timed.map(_.op.latencyS).sum
    // traced run: one more pass with the listeners on; its overhead is its
    // time over the untraced pass
    val layers = ctx.trace.fold(Map.empty[String, Double]) { tr =>
      tr.start()
      val traced = pass(ctx, expect, rng.shuffle(names), "t")
      tr.stop()
      val tRunS = traced.map(_.op.latencyS).sum
      tr.layers(tRunS, Main.Slots, Map(
        "queries.build_s" -> traced.map(_.buildS).sum, "trace.run_s" -> tRunS,
        "trace.overhead_s" -> (tRunS - runS)))
    }
    Outcome(timed.map(_.op), timed.map(_.op.latencyS), runS, storagePeak, setupS, layers)
  }
}
