package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own logic: the checksum, the tail percentile rule and
  * the span self-time arithmetic.
  */
class BenchLogicSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .appName("perfbench-spec").config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "3").getOrCreate()

  private def sample(n: Int) = spark.range(n).select(
    col("id"),
    (col("id") * 0.1).as("d"),
    when(col("id") % 7 === 0, lit(null)).otherwise(concat(lit("s"), col("id"))).as("s"),
    array(col("id").cast("double"), lit(-0.0)).as("arr"),
    map(lit("k"), col("id")).as("m"),
    struct(col("id").as("a"), (col("id") % 3).as("b")).as("st"))

  test("checksum is identical under two partition counts and any row order") {
    val df = sample(2000)
    val one = Checksum.fold(df.repartition(1))
    val seven = Checksum.fold(df.repartition(7))
    val sorted = Checksum.fold(df.orderBy(col("id").desc))
    assert(one == seven)
    assert(one == sorted)
    assert(one.rows == 2000)
  }

  test("checksum sees every column and every row") {
    val base = Checksum.fold(sample(500))
    assert(Checksum.fold(sample(499)) != base)
    assert(Checksum.fold(sample(500).withColumn("s",
      when(col("id") === 250, lit("x")).otherwise(col("s")))) != base)
    assert(Checksum.fold(sample(500).withColumn("d",
      when(col("id") === 3, lit(1e9)).otherwise(col("d")))) != base)
  }

  test("checksum ignores last-ulp double noise and the sign of zero") {
    val a = spark.range(100).select((col("id") * 0.1).as("d"), lit(0.0).as("z"))
    val b = spark.range(100).select((col("id") * 0.1 * (1.0 + 1e-15)).as("d"), lit(-0.0).as("z"))
    assert(Checksum.fold(a) == Checksum.fold(b))
  }

  test("tail percentile: the highest rung with at least ten samples beyond it") {
    val ladder = Seq(99.9, 99.0, 95.0, 90.0, 75.0)
    for (n <- 1 to 5000) {
      val p = Stats.tailPercentile(n)
      if (p > 50.0) assert(n * (1 - p / 100.0) >= 10.0 - 1e-9, s"n=$n p=$p")
      ladder.filter(_ > p).foreach(h => assert(n * (1 - h / 100.0) < 10.0 - 1e-9, s"n=$n p=$p h=$h"))
    }
    assert(Stats.tailPercentile(10) == 50.0)
    assert(Stats.tailPercentile(40) == 75.0)
    assert(Stats.tailPercentile(100) == 90.0)
    assert(Stats.tailPercentile(1000) == 99.0)
  }

  test("percentile interpolates like numpy's default") {
    assert(Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0), 50) == 2.5)
    assert(Stats.percentile(Seq(5.0), 90) == 5.0)
    assert(Stats.percentile(Seq(0.0, 10.0), 90) == 9.0)
  }

  test("self time: a span minus the union of its children") {
    val p = Span("op", "o", "", "o", "", 0, 100)
    def c(s: Long, e: Long) = Span("job", "j", "o", "o", "", s, e)
    assert(Trace.covered(p, Nil) == 0)
    assert(Trace.covered(p, Seq(c(10, 20), c(15, 30), c(50, 60))) == 30)
    assert(Trace.covered(p, Seq(c(-10, 5), c(95, 120))) == 10)
  }

  test("call-site layer is the graft file nearest to Spark") {
    val details = "org.apache.spark.sql.Dataset.count(Dataset.scala:1)\n" +
      "graft.llm.DedupIndex$.query(DedupIndex.scala:200)\n" +
      "graft.streaming.RT$.llmIngestBatch(RT.scala:530)\n" +
      "graftbench.LlmIngest$.window(LlmIngest.scala:60)"
    assert(Trace.innermost(details) == "DedupIndex.scala")
    assert(Trace.innermost("graftbench.Main$.main(Main.scala:1)") == "")
  }
}
