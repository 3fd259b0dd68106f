package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet table access for the driver-generated testdata
  * (see /root/repo/TESTDATA.md). All queries take the sf dir as a
  * parameter so the same code runs at sf0.001/0.01/0.1 unchanged.
  */
object Tables {
  /** DataFrames memoized per (session, path): the testdata is
    * immutable, so reusing the analyzed relation lets every query in a
    * Verify/Bench run share one file listing + schema read instead of
    * re-planning the scan 40 times (a per-query fixed cost at bench
    * scale). This is the engine's stand-in for a table catalog.
    */
  private val cache = new Memo[(SparkSession, String), DataFrame]

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    cache((spark, path))(spark.read.parquet(path))
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** events.ts has changed physical type across driver testdata
    * generations: early rounds wrote parquet TIMESTAMP(NANOS) — which
    * Spark's µs TimestampType cannot hold, so it is read as raw nanos
    * (legacy conf) and floored to µs, the same truncation DuckDB's
    * date_trunc('microseconds') applies — while round-6 data is
    * timestamp[us], which Spark reads as TIMESTAMP_NTZ. Normalize both
    * to µs TimestampType here (session TZ is pinned UTC, so the
    * NTZ→LTZ cast is the identity on the wall clock). Never emit raw
    * `ts` in an oracle-checked output.
    */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer `div`, NOT `/`: double division loses precision at 1.7e18 ns
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => df.withColumn("ts", col("ts").cast("timestamp"))
    }

  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(table(s, d, "events"))
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
