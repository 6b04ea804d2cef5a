package graft.solar

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The storage "bucket" (S3/S5): long-format points persisted as parquet,
  * partitioned by `measurement` and the date of `time`.
  *
  * The reference writes one point per synchronous HTTP call into InfluxDB
  * (`/root/reference/src/classes/influx_classes.py:39,64-82`); here a batch
  * (or micro-batch) appends columnar files. The partition layout is the
  * scale design: a `range(start, stop)` query prunes date partitions and a
  * measurement filter prunes measurement partitions before any IO happens —
  * at 100 TB, a "last 5 minutes of fx-1" query touches one partition
  * directory, not the bucket.
  */
object PointStore {

  /** On-disk bucket schema (partition columns last, as laid out). Needed
    * by streaming readers: the file stream source cannot infer schema. */
  val bucketSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("time", TimestampType),
      StructField("field", StringType),
      StructField("value", DoubleType),
      StructField("measurement", StringType),
      StructField("date", DateType)))
  }

  /** Tail the bucket as a stream: every file appended after the query
    * starts becomes a micro-batch — the "live dashboard" view of the
    * store the reference polls InfluxDB for. */
  def readStream(spark: SparkSession, bucketPath: String): DataFrame =
    spark.readStream
      .schema(bucketSchema)
      .parquet(bucketPath)
      .select("measurement", "time", "field", "value")

  /** Append points (measurement, time, field, value) to the bucket. */
  def write(points: DataFrame, bucketPath: String, mode: String = "append"): Unit =
    points
      .withColumn("date", to_date(col("time")))
      .write
      .partitionBy("measurement", "date")
      .mode(mode)
      .parquet(bucketPath)

  /** Open the bucket for querying (partition columns restored). */
  def read(spark: SparkSession, bucketPath: String): DataFrame =
    spark.read.parquet(bucketPath)
      .select("measurement", "time", "field", "value")

  /** Pre-flight health check (S4): the bucket path is readable or creatable. */
  def healthCheck(spark: SparkSession, bucketPath: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(bucketPath)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(path) || fs.mkdirs(path)
  }

  /** Downsample a bucket into a coarser one — the TSDB retention/rollup
    * job (InfluxDB task parity): tumbling `every` windows per series,
    * aggregated with `fn` (QueryBuilder's dispatch, so mean/sum are
    * decimal-exact and first/last event-time ordered), written as a
    * partitioned bucket keyed by the window END. Readers use the same
    * QueryBuilder surface on either resolution. At scale this runs
    * out-of-band over closed date partitions; each run is one shuffle
    * on (window, series). */
  def downsample(
      spark: SparkSession,
      bucketPath: String,
      outPath: String,
      every: String,
      fn: String,
      mode: String = "append"): Unit = {
    val pts = graft.query.QueryBuilder(spark, bucketPath)
      .appendAggregate(every, fn)
      .build()
    write(pts, outPath, mode)
  }
}
