package graft.tables

import java.io.FileNotFoundException
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSessions
import graft.ops.Staging

/** The fixture catalog's parquet reads: a schema read from one footer on
  * the driver must equal what Spark's inference would give, and
  * registering the fixtures must start no Spark job and leave the
  * session's conf alone. */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSessions.spark
  private val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  private def sameSchemaAsInference(path: String): Unit =
    assert(Tables.readParquet(spark, path).schema == spark.read.parquet(path).schema,
      s"footer schema differs from the inferred one at $path")

  test("readParquet schema equals Spark's inference for every fixture table") {
    Tables.names.foreach(n => sameSchemaAsInference(s"${TestSessions.sf001}/$n.parquet"))
  }

  test("readParquet skips _SUCCESS and the marker in a multi-part artifact dir") {
    val dir = s"${tmp("tables_spec")}/staged"
    // nested, decimal and timestamp columns: Spark's stored row schema
    // must come back, not a re-derivation from the parquet types
    val df = Tables.load(spark, TestSessions.sf0001, "orders")
      .withColumn("price", col("o_totalprice").cast("decimal(12,2)"))
      .withColumn("keys", array(col("o_orderkey"), col("o_custkey")))
      .withColumn("nested", struct(col("o_orderdate"), map(col("o_orderstatus"), col("price"))))
      .repartition(3)
    Staging.writeParquetOnce(df, dir, "tables-spec")
    val names = new java.io.File(dir).list().toSet
    assert(names.contains("_SUCCESS") && names.contains("_graft_fingerprint"))
    assert(names.count(_.startsWith("part-")) > 1)
    sameSchemaAsInference(dir)
    assert(Tables.readParquet(spark, dir).count() == df.count())
  }

  test("readParquet schema equals Spark's inference for an empty write") {
    val dir = s"${tmp("tables_spec")}/empty"
    spark.range(0).select(col("id"), col("id").cast("string").as("s"),
      array(col("id")).as("a")).write.parquet(dir)
    sameSchemaAsInference(dir)
    assert(Tables.readParquet(spark, dir).count() == 0)
  }

  test("readParquet on a dir with no visible data file names the path") {
    val dir = tmp("tables_spec_hidden")
    Files.createFile(java.nio.file.Paths.get(dir, "_SUCCESS"))
    Files.createFile(java.nio.file.Paths.get(dir, ".part-0.parquet.crc"))
    val e = intercept[FileNotFoundException](Tables.readParquet(spark, dir))
    assert(e.getMessage.contains(dir))
  }

  test("registerAll starts no Spark job") {
    val s = spark.newSession()
    val sc = s.sparkContext
    val group = "tables-spec-register"
    sc.setJobGroup(group, "registerAll")
    try Tables.registerAll(s, TestSessions.sf001)
    finally sc.clearJobGroup()
    // listener events arrive in order: once a later sentinel job is
    // visible, any job registerAll started would be visible too
    sc.setJobGroup("tables-spec-sentinel", "sentinel")
    try s.range(1).collect() finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 30000
    while (sc.statusTracker.getJobIdsForGroup("tables-spec-sentinel").isEmpty &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
    assert(sc.statusTracker.getJobIdsForGroup("tables-spec-sentinel").nonEmpty)
    assert(sc.statusTracker.getJobIdsForGroup(group).isEmpty,
      "registerAll launched schema-inference jobs")
    assert(s.table("orders").count() > 0)
  }

  test("loading the µs-vintage events leaves the session conf unchanged") {
    val s = spark.newSession()
    val before = s.conf.getOption(nanosKey)
    val ev = Tables.load(s, TestSessions.sf001, "events")
    assert(ev.schema("ts").dataType == TimestampType)
    assert(s.conf.getOption(nanosKey) == before)
  }

  test("TIMESTAMP(NANOS)-vintage events load as truncated micros") {
    val dir = tmp("tables_spec_nanos")
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  required int64 event_id;
        |  required int64 ts (TIMESTAMP(NANOS,false));
        |  required int64 user_id;
        |  required binary event_type (STRING);
        |  required double value;
        |  required binary props (STRING);
        |}""".stripMargin)
    val conf = new Configuration()
    val out = HadoopOutputFile.fromPath(new Path(s"$dir/events.parquet"), conf)
    val w = ExampleParquetWriter.builder(out).withType(schema).withConf(conf).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1700000000123456789L)
      .append("user_id", 7L).append("event_type", "view")
      .append("value", 1.5).append("props", "{}"))
    finally w.close()

    val s = spark.newSession()
    val ev = Tables.load(s, dir, "events")
    assert(s.conf.get(nanosKey) == "true")
    assert(ev.schema("ts").dataType == TimestampType)
    val got = ev.select(unix_micros(col("ts")), col("event_id")).head()
    assert(got.getLong(0) == 1700000000123456L && got.getLong(1) == 1L)
  }
}
