package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The query surface: every `SparkEntry.queries` entry over the seed-42
  * sf0.001 tables in `perfbench/data/sf0.001`, run in a fixed (name)
  * order, each forced by one count-and-hash job.
  */
object Queries {

  /** Order-insensitive digest of a query result: (rows, Σ row hash).
    * Floating columns enter with 9 significant digits so a summation
    * order change in the last bit does not read as a different result.
    */
  def digest(df: DataFrame): (Long, String) = {
    def norm(c: Column, t: DataType): Column = t match {
      case DoubleType | FloatType => format_string("%.9g", c.cast("double"))
      case _: ArrayType | _: StructType | _: MapType => c.cast("string")
      case _ => c
    }
    val cols = df.schema.fields.map(f => norm(col(s"`${f.name}`"), f.dataType))
    val r = df.agg(count(lit(1)), sum(xxhash64(cols.toSeq: _*).cast("decimal(20,0)")))
      .head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }
}
