package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.json4s._
import org.json4s.jackson.JsonMethods

/** catalog.json: the committed split of the declared queries into the two
  * catalog workloads, each query's expected result, and the committed
  * per-family sample each workload times.
  */
final case class CatalogFile(expect: Map[String, Catalog.Expect],
                             sample: Map[String, Seq[String]])

object CatalogFile {
  def load(path: String): CatalogFile = {
    implicit val formats: Formats = DefaultFormats
    val j = JsonMethods.parse(new String(Files.readAllBytes(Paths.get(path)), UTF_8))
    val expect = (j \ "queries").asInstanceOf[JObject].obj.map { case (name, q) =>
      name -> Catalog.Expect((q \ "rows").extract[Long], (q \ "checksum").extract[String])
    }.toMap
    val sample = (j \ "sample").asInstanceOf[JObject].obj.map { case (w, names) =>
      w -> names.extract[Seq[String]]
    }.toMap
    CatalogFile(expect, sample)
  }
}

/** Derivation of catalog.json's inputs: every declared query, in name order,
  * built and checksummed twice in one fresh session. The construction's job
  * count decides the workload ("launched at least one job" is iterative);
  * a query whose two checksums differ gets no expected result.
  */
object Derive {
  def run(spark: org.apache.spark.sql.SparkSession, data: String, out: String): Unit = {
    val trace = new Trace(spark)
    val ctx = Ctx(spark, data, "", 0L, Some(trace))
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
    trace.start()
    val first = names.map { n =>
      val t0 = System.nanoTime()
      val r = scala.util.Try(Catalog.runQuery(ctx, s"a:$n", n))
      n -> (r, (System.nanoTime() - t0) / 1e9)
    }.toMap
    trace.stop()
    val buildJobs = trace.buildJobsByOp
    val rows = names.map { n =>
      val t0 = System.nanoTime()
      val second = scala.util.Try(Catalog.runQuery(ctx, s"b:$n", n))
      val warmS = (System.nanoTime() - t0) / 1e9
      val (r1, coldS) = first(n)
      val fields = Seq(
        "build_jobs" -> buildJobs.getOrElse(s"a:$n", 0).toString,
        "cold_s" -> Main.num(coldS), "warm_s" -> Main.num(warmS),
        "build_s" -> Main.num(second.map(_._2).getOrElse(0.0)),
        "first" -> Main.quote(r1.map(_._1.hex).getOrElse(r1.failed.get.toString)),
        "second" -> Main.quote(second.map(_._1.hex).getOrElse(second.failed.get.toString)))
      System.err.println(s"derive $n ${fields.mkString(" ")}")
      s"${Main.quote(n)}: {${fields.map { case (k, v) => s""""$k": $v""" }.mkString(", ")}}"
    }
    Files.write(Paths.get(out), rows.mkString("{\n", ",\n", "\n}\n").getBytes(UTF_8))
  }
}
