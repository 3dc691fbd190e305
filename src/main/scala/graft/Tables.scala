package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.sources.StagingFs

/** Loaders for the driver-generated fixture tables (TESTDATA.md).
  *
  * All tables are parquet; schemas in FIXTURES.md. `events.ts` is written as
  * parquet INT64 TIMESTAMP(NANOS) which Spark cannot read natively — we read
  * it via `spark.sql.legacy.parquet.nanosAsLong` and truncate to microsecond
  * timestamps, matching DuckDB's own ns→µs truncation so oracle comparisons
  * line up.
  *
  * `spark.read.parquet` infers a schema with a one-task job per call, so each
  * file's schema is inferred once, memoized under (path, mtime:size stamp,
  * values of the type-mapping `typeConfs`), and loads read with it. Only the
  * `StructType` is cached, never the DataFrame: each load keeps fresh
  * attribute IDs, so a self-join of two loads still resolves.
  */
object Tables {

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val typeConfs = Seq("spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString", "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled")
  private val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** The raw (pre-normalization) schema `spark.read.parquet` infers. */
  def schema(spark: SparkSession, dir: String, name: String): StructType = {
    val p = new Path(dir, s"$name.parquet")
    val key = (p.toString +: StagingFs.fileStamp(spark, p) +:
      typeConfs.map(k => spark.conf.getOption(k).orNull)).mkString("|")
    schemaMemo.computeIfAbsent(key, _ => spark.read.parquet(p.toString).schema)
  }

  /** Read one fixture table. `dir` is e.g. /root/testdata/sf0.01 */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    graft.functions.GraftExtensions.install(spark)
    val df = spark.read.schema(schema(spark, dir, name))
      .parquet(s"$dir/$name.parquet")
    if (name == "events") normalizeEvents(df) else df
  }

  /** events.ts arrives as LongType nanos (via nanosAsLong) — convert to a
    * proper TimestampType truncated to micros. If a future fixture writes µs
    * directly the column is already a timestamp and we pass it through. */
  private def normalizeEvents(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer division — (ts / 1000) via Double loses ulps at ~1.7e18 ns
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => df
    }

  /** Register every fixture table as a temp view named after the file. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
