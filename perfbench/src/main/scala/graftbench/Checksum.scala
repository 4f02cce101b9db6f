package graftbench

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The timed action of every catalog op: consumes the whole result and folds
  * an order- and partition-independent checksum over it.
  *
  * Every column of every row goes through one 64-bit hash, and the pass runs
  * as a `mapPartitions` over the result in result order. Catalyst cannot see
  * through the function, so it can neither prune columns nor drop a final
  * sort, unlike `count()`, which lets the optimizer skip most of the plan.
  *
  * The fold is (row count, wrapping sum of row hashes): sums commute, so the
  * value does not depend on how rows are split across partitions, nor on the
  * order of tied rows under a sort. Floating values are hashed at float
  * precision (and -0.0 as 0.0), so last-ulp differences from a different
  * summation order do not change the checksum.
  */
object Checksum {

  final case class Fold(rows: Long, sum: Long) {
    def +(o: Fold): Fold = Fold(rows + o.rows, sum + o.sum)
    def hex: String = f"$rows%d:$sum%016x"
  }

  private def normalized(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => c.cast(FloatType) + lit(0.0f)
    case ArrayType(DoubleType | FloatType, _) =>
      transform(c, x => x.cast(FloatType) + lit(0.0f))
    case _ if containsMap(t) => to_json(c)
    case _ => c
  }

  private def containsMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case ArrayType(e, _) => containsMap(e)
    case StructType(fs) => fs.exists(f => containsMap(f.dataType))
    case _ => false
  }

  /** Row hashes of `df`: one long per row, covering every column. */
  def rowHashes(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.toSeq.map(f => normalized(df.col(s"`${f.name}`"), f.dataType))
    // a constant keeps a zero-column result hashable
    df.select(xxhash64((lit(1) +: cols): _*).as("h"))
  }

  def fold(df: DataFrame): Fold = {
    val parts = rowHashes(df).as(Encoders.scalaLong)
      .mapPartitions { it =>
        var n = 0L; var s = 0L
        while (it.hasNext) { s += it.next(); n += 1 }
        Iterator.single((n, s))
      }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
      .collect()
    parts.foldLeft(Fold(0L, 0L)) { case (acc, (n, s)) => acc + Fold(n, s) }
  }
}
