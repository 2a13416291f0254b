package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{col, expr, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampType}

/** One graded query: a Spark implementation over the parquet tables in
  * `sfDir`, plus (when SQL-expressible) an equivalent DuckDB oracle SQL
  * over the same tables. Column names MUST match between the two — the
  * driver sorts columns by name and hashes values.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {
  /** Load one of the driver-provided tables. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Free the blocks of a `localCheckpoint()`ed frame now. The
    * checkpoint is an RDD under the frame's `LogicalRDD`, not a cache
    * entry, so `df.unpersist()` frees nothing and the blocks stay until
    * a GC lets `ContextCleaner` find the RDD. Call it only once no lazy
    * frame is left that still reads the checkpoint. Any other frame
    * is a caller error and throws.
    */
  def releaseCheckpoint(df: DataFrame): Unit = df.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false)
    case p => throw new IllegalArgumentException(
      s"releaseCheckpoint: not a localCheckpoint()ed frame: ${p.nodeName}")
  }

  /** Epoch-microseconds of a timestamp column, robust to the physical
    * type the driver generated it with: parquet TIMESTAMP(NANOS)
    * surfaces as LongType epoch-nanos (the session sets
    * `spark.sql.legacy.parquet.nanosAsLong`), TIMESTAMP(MICROS)
    * surfaces as a (ntz) timestamp. Under the UTC session,
    * `unix_micros(cast ntz→tz)` here equals DuckDB's `epoch_us(ts)`,
    * so oracle SQL is identical either way.
    */
  def tsUs(df: DataFrame, c: String): Column = df.schema(c).dataType match {
    case LongType => expr(s"$c div 1000")
    case _ => unix_micros(col(c).cast(TimestampType))
  }
}
