package graft.tables

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._

/**
 * Registry of the shared test-fixture tables (TESTDATA.md / FIXTURES.md) as
 * temp views, mirroring how the reference registers listing tables in its
 * catalog (reference: `src/core.rs:47-72` builds a `SessionContext` whose
 * tables are file-backed; ours are parquet-backed temp views).
 *
 * Scale notes (100 TB design):
 *  - Views are parquet scans with a DECLARED schema, read from one data
 *    file's footer on the driver ([[readParquet]]). `spark.read.parquet`
 *    without a schema infers it with a Spark job (one per read, even for
 *    a single file); query bodies load fixtures ~190 times, so that job
 *    sat on every query's critical path. Catalyst still pushes filters
 *    and prunes columns into the scan, so downstream operators only pay
 *    for what they use. No caching/materialization here: at 100 TB the
 *    tables do not fit in memory and the scan must stream.
 *  - `events.ts` has shipped in two fixture vintages: parquet
 *    TIMESTAMP(NANOS) (pre-r06), which Spark's vectorized reader rejects —
 *    read nanos as raw longs (`spark.sql.legacy.parquet.nanosAsLong`, set
 *    on the session only when the footer shows that vintage) and
 *    convert with `timestamp_micros(ns / 1000)`, the same truncation DuckDB
 *    applies casting TIMESTAMP_NS → TIMESTAMP — and plain TIMESTAMP(MICROS)
 *    (r06 driver regen), which reads as TIMESTAMP_NTZ and is cast to a
 *    session-tz instant (every graft session pins UTC, so the wall-clock
 *    values match DuckDB's naive reads exactly). The branch keys on the
 *    OBSERVED footer type, so either vintage loads identically. Both
 *    conversions are codegen'd expressions; the scan stays vectorized and
 *    distributed.
 */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // temp views are session-global: track which dir each session's views
  // currently point at, and re-register whenever it changes (a keyed
  // "already done" set would silently leave views on the previous dir)
  private val registeredDir = new ConcurrentHashMap[SparkSession, String]()

  /** Read the parquet file or flat directory at `path` with the schema in
    * one data file's footer, read on the driver — no schema-inference
    * Spark job. The footer is converted by Spark's own code, so a
    * Spark-written artifact gets back the row schema Spark stored in it,
    * and the binary-as-string, INT96 and NTZ settings apply exactly as
    * in Spark's inference. Like Spark's non-merging inference, one file
    * speaks for all: every parquet dir this program reads was written by
    * one `write.parquet` call. */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    readWith(spark, path, footer(spark, path))

  /** Footer of `path` itself, or of a flat directory's first visible
    * file by name (hidden `_SUCCESS`, `_graft_fingerprint` and `.crc`
    * files skipped). Session-scoped filesystem settings apply. */
  private def footer(spark: SparkSession, path: String): Footer = {
    val hc = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(hc)
    val st = fs.getFileStatus(p)
    val file = if (st.isFile) st else fs.listStatus(p)
      .filter { f =>
        val n = f.getPath.getName
        f.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
      .sortBy(_.getPath.getName).headOption
      .getOrElse(throw new FileNotFoundException(
        s"no visible parquet data file under $path"))
    val opts = HadoopReadOptions.builder(hc, file.getPath)
      .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build()
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, hc), opts)
    try new Footer(file.getPath, reader.getFooter) finally reader.close()
  }

  private def readWith(spark: SparkSession, path: String, f: Footer): DataFrame = {
    val schema = ParquetFileFormat.readSchemaFromFooter(
      f, new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    spark.read.schema(schema).parquet(path)
  }

  /** Whether column `name` is stored as parquet TIMESTAMP(NANOS). */
  private def isNanos(f: Footer, name: String): Boolean = {
    val schema = f.getParquetMetadata.getFileMetaData.getSchema
    schema.containsField(name) &&
      (schema.getType(schema.getFieldIndex(name)).getLogicalTypeAnnotation match {
        case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
        case _ => false
      })
  }

  /** Read one fixture table from `dir` (no view registration). */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = if (name == "events") {
      val path = s"$dir/events.parquet"
      val f = footer(spark, path)
      // TIMESTAMP(NANOS) vintage: Spark reads it only as ns longs, and the
      // flag must stay on through the scan, so it is set on the session —
      // never for the µs vintage, which leaves the session untouched.
      if (isNanos(f, "ts"))
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val r = readWith(spark, path, f)
      val ts = r.schema("ts").dataType match {
        // integer div: `/` on longs is fractional (double) and ns epochs
        // exceed double's 2^53 exact range
        case LongType => timestamp_micros(expr("ts div 1000"))
        case _        => col("ts") // µs vintage: generic NTZ pass below
      }
      r.withColumn("ts", ts)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
    } else {
      readParquet(spark, s"$dir/$name.parquet")
    }
    // r06 fixture regen: timestamp columns became naive micros and read as
    // TIMESTAMP_NTZ. Cast every NTZ column to a session-tz instant (all
    // graft sessions pin UTC), keeping output schemas — and DuckDB
    // wall-clock parity — identical to the judged TimestampType vintage.
    raw.schema.fields.filter(_.dataType == TimestampNTZType).foldLeft(raw) {
      (d, f) => d.withColumn(f.name, col(f.name).cast(TimestampType))
    }
  }

  /** Register every fixture table as a temp view (idempotent while the
    * session keeps reading the same dir; re-registers on dir change).
    * The dir is recorded only AFTER every view registers — recording
    * first made a mid-loop failure (missing fixture file) permanently
    * skip the retry, serving stale or missing views (r04 review). */
  def registerAll(spark: SparkSession, dir: String): Unit = synchronized {
    if (registeredDir.get(spark) != dir) {
      names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
      registeredDir.put(spark, dir)
    }
  }
}
