package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver fixture tables (TESTDATA.md / FIXTURES.md §B).
  *
  * One parquet file per table under `\$dir/<name>.parquet`. All reads go
  * through `spark.read.parquet` so Catalyst gets scan-level filter
  * pushdown and column pruning for free (SURVEY §4.2).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") loadEvents(spark, dir) else
      spark.read.parquet(s"$dir/$name.parquet")

  /** events.ts normalization to a microsecond TimestampType column, keyed
    * on the fixture's ACTUAL parquet annotation (the driver has shipped
    * two editions):
    *  - TIMESTAMP(NANOS): Spark's vectorized reader rejects it outright —
    *    read raw nanos (legacy long mode) and floor-divide to µs, the same
    *    truncation every Spark pipeline applies to ns data (SURVEY §7.3;
    *    fixture ns residue is 0 so no information is lost);
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark reads TIMESTAMP_NTZ;
    *    cast to TimestampType — value-preserving under the engine-wide UTC
    *    session timezone and matches what DuckDB's naive
    *    read sees, so downstream window/watermark code sees ONE type.
    */
  private def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    val ts = raw.schema("ts").dataType match {
      // integer division — `/` on Column is double division, which loses
      // precision on epoch-nanos (≈1.7e18 > 2^53) and rounds instead of
      // flooring like DuckDB's read does.
      case LongType => timestamp_micros(expr("ts div 1000"))
      case TimestampNTZType => col("ts").cast(TimestampType)
      case _ => col("ts")
    }
    raw.withColumn("ts", ts)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  /** Register fixture tables as temp views so `spark.sql` queries
    * (subqueries, EXISTS, grouping sets) can reference them by name —
    * the same names the DuckDB oracle uses. Queries that know their
    * table set should pass it: registering only what a query touches
    * keeps it runnable on partial corpora (the TPC-H scale probes ship
    * only the seven relational tables).
    */
  def register(spark: SparkSession, dir: String, tables: Seq[String]): Unit =
    tables.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  def registerAll(spark: SparkSession, dir: String): Unit =
    register(spark, dir, names)
}
