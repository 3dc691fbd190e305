package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Pins the fixture schema memo of [[Tables]]: a repeated load runs no
  * Spark job, the memoized schema is the one `spark.read.parquet` infers,
  * an overwritten file and a flipped type-mapping conf are re-probed, and
  * every load is still a fresh relation. */
class TablesSpec extends SparkSpecBase {

  private def fixture(name: String) = s"$sfDir/$name.parquet"

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("a repeated load of one table submits no Spark job") {
    val dir = Files.createTempDirectory("graft-tables-jobs")
    Files.copy(Paths.get(fixture("nation")), dir.resolve("nation.parquet"))
    // an unseen file pays the one inference job; the listener sees it
    val (_, first) = jobsDuring(Tables.load(spark, dir.toString, "nation"))
    assert(first >= 1)
    val (_, again) = jobsDuring(Tables.load(spark, dir.toString, "nation"))
    assert(again == 0)
    Tables.registerAll(spark, sfDir)
    val (_, all) = jobsDuring(Tables.registerAll(spark, sfDir))
    assert(all == 0)
  }

  test("memoized schemas equal spark.read.parquet, and rows match") {
    for (n <- Tables.names) {
      val direct = spark.read.parquet(fixture(n))
      assert(Tables.schema(spark, sfDir, n) == direct.schema, n)
      if (n != "events") assert(Tables.load(spark, sfDir, n).schema == direct.schema, n)
    }
    for (n <- Seq("region", "nation"))
      assert(rows(Tables.load(spark, sfDir, n)) == rows(spark.read.parquet(fixture(n))), n)
  }

  test("a copy overwritten with a different file is re-probed") {
    val dir = Files.createTempDirectory("graft-tables-stamp")
    val copy = dir.resolve("t.parquet")
    Files.copy(Paths.get(fixture("nation")), copy)
    assert(Tables.load(spark, dir.toString, "t").count() == 25)
    Files.copy(Paths.get(fixture("region")), copy, StandardCopyOption.REPLACE_EXISTING)
    val after = Tables.load(spark, dir.toString, "t")
    assert(after.schema == spark.read.parquet(fixture("region")).schema)
    assert(after.count() == 5)
  }

  /** An `events` file whose `ts` is INT64 TIMESTAMP(NANOS), the legacy
    * fixture encoding (the committed fixtures store µs), in a fresh dir. */
  private def nanosEventsDir(): String = {
    val dir = Files.createTempDirectory("graft-tables-nanos")
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,true)); }")
    val writer = ExampleParquetWriter.builder(
      new Path(dir.resolve("events.parquet").toString)).withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try (0 until 3).foreach(i => writer.write(groups.newGroup()
      .append("event_id", i.toLong).append("ts", 1704067200123456789L + i * 1000L)))
    finally writer.close()
    dir.toString
  }

  test("nanosAsLong=false loads events exactly like a direct read") {
    val nanos = "spark.sql.legacy.parquet.nanosAsLong"
    assert(spark.conf.get(nanos) == "true")
    val dir = nanosEventsDir()
    assert(Tables.schema(spark, dir, "events")("ts").dataType == LongType)
    def outcome[T](f: => T): Either[(Class[_], String), T] =
      Try(f).toEither.left.map(e => (e.getClass, e.getMessage))
    val (direct, viaLoad) = withConf(nanos -> "false") {
      (outcome(rows(spark.read.parquet(s"$dir/events.parquet"))),
        outcome(rows(Tables.load(spark, dir, "events"))))
    }
    assert(viaLoad == direct)
    // the schema memoized under `true` is untouched by the excursion
    assert(Tables.schema(spark, dir, "events")("ts").dataType == LongType)
    assert(rows(Tables.load(spark, dir, "events").select(col("ts"))) ==
      (6 to 8).map(us => s"[2024-01-01 00:00:00.12345$us]"))
  }

  test("inferTimestampNTZ=false re-infers the µs fixture's ts as TIMESTAMP") {
    val ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
    assert(Tables.schema(spark, sfDir, "events")("ts").dataType == TimestampNTZType)
    val ltz = withConf(ntz -> "false") {
      val direct = spark.read.parquet(fixture("events"))
      assert(Tables.schema(spark, sfDir, "events") == direct.schema)
      assert(rows(Tables.load(spark, sfDir, "events")) == rows(direct))
      direct.schema("ts").dataType
    }
    assert(ltz == TimestampType)
  }

  test("a self-join of two loads of one table analyzes") {
    def pairs(a: DataFrame, b: DataFrame) =
      a.join(b, a("l_orderkey") === b("l_orderkey") &&
          a("l_linenumber") =!= b("l_linenumber"))
        .select(a("l_orderkey"), b("l_linenumber"))
    val loaded = pairs(Tables.load(spark, sfDir, "lineitem"),
      Tables.load(spark, sfDir, "lineitem"))
    loaded.queryExecution.assertAnalyzed()
    val direct = pairs(spark.read.parquet(fixture("lineitem")),
      spark.read.parquet(fixture("lineitem")))
    assert(loaded.count() > 0)
    assert(rows(loaded) == rows(direct))
  }
}
