package graft

import java.util.concurrent.ConcurrentHashMap
import scala.util.Try
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** One place for the read path. All operators load tables through here so
  * read-path tuning (pushdown verification, bucketing at scale) is central.
  * Tables are the driver-generated TPC-H-ish set (TESTDATA.md).
  *
  * A table's schema is inferred once per JVM. `spark.read.parquet(path)`
  * infers it with a one-task Spark job (Spark's `mergeSchemasInParallel`)
  * on every open, even for one file with `mergeSchema` off: one job per
  * open, which a library query pays at every build, so once per
  * micro-batch in a processor. Later opens pass the inferred
  * schema (`spark.read.schema(s).parquet(path)`) and run no job. The memo
  * holds one entry per path, stamped with the length and modification
  * time of each file the open reads and with the session's
  * `spark.sql.legacy.parquet.nanosAsLong` (which [[events]] sets and which
  * changes the inferred `ts` type); a changed stamp infers again and
  * replaces the entry. Reads whose files change under them (Publish,
  * ScaleUtils, the streaming sources) do not come through here.
  */
object Tables {
  private final case class Inferred(stamp: Seq[(String, Long, Long)], nanosAsLong: String,
      schema: StructType)

  private val inferred = new ConcurrentHashMap[String, Inferred]()

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val nanosAsLong = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
    stampOf(spark, path) match {
      // a path that cannot be stamped (missing, unreadable) opens as
      // before, so it fails exactly as a plain read does
      case None => spark.read.parquet(path)
      case Some(stamp) => Option(inferred.get(path)) match {
        case Some(known) if known.stamp == stamp && known.nanosAsLong == nanosAsLong =>
          spark.read.schema(known.schema).parquet(path)
        case _ =>
          val df = spark.read.parquet(path)
          inferred.put(path, Inferred(stamp, nanosAsLong, df.schema))
          df
      }
    }
  }

  /** (file, length, modification time) of every leaf file under `path`. */
  private def stampOf(spark: SparkSession, path: String): Option[Seq[(String, Long, Long)]] =
    Try {
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val files = fs.listFiles(p, true)
      val out = Seq.newBuilder[(String, Long, Long)]
      while (files.hasNext) {
        val f = files.next()
        out += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      out.result().sorted
    }.toOption

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** events.parquet has shipped with two ts physical types across testdata
    * vintages: TIMESTAMP(NANOS) (which Spark's vectorized reader only
    * accepts as LONG via the legacy nanosAsLong flag) and plain
    * timestamp[us]. Branch on the RESOLVED read schema so both produce the
    * same TIMESTAMP column: nanos-as-long truncates to micros (matching
    * DuckDB's ns->us cast, toward zero); a micros timestamp passes through,
    * with TIMESTAMP_NTZ cast to TIMESTAMP (micros-identical — the session
    * timezone is pinned to UTC in GraftSession/SparkSpec).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampType}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType      => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => raw
      case _             => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Spread a small-file scan across all cores before CPU-heavy per-row
    * work (hashing, shingling, similarity). The test parquet files are a
    * single ~MB row-group = one input split; without this, a 32-core run
    * executes expensive projections on one task. At real scale inputs
    * arrive in thousands of splits and this becomes a no-op-sized shuffle.
    */
  def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)
}
