package graftbench

import java.sql.Timestamp
import java.util.Random

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Seeded generator for the benchmark's inputs.
  *
  * `tables` writes the ten parquet tables the query library reads through
  * `graft.Tables` (the TPC-H-ish star schema plus `events`, `documents`
  * and `embeddings`), with the same column names, types and value shapes
  * as the project's test fixtures: uniform keys, 31-word document
  * vocabulary with ~5% near-duplicate documents, unit-norm 64-d
  * embeddings around 10 label centres, and a time-ordered event stream.
  * Row counts scale linearly with `sf` (sf 1 = 6M lineitems).
  *
  * `eventFiles` writes events-shaped parquet files for the sink phases;
  * file `f` holds event ids `f * FileStride + i`, so a processor can tell
  * which file a record came from.
  */
object Datagen {
  val FileStride = 1000000L

  private val vocab = ("spark window merge table column vector stream value data small " +
    "join filter big group hash customer sort order slow line part fast row the agg key " +
    "query a scan batch").split(' ')
  private val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = Array("click", "view", "purchase", "signup", "error")
  private val langs = Array("en", "en", "en", "zh", "es", "fr", "de")
  private val adjectives = Array("blue", "cold", "hot", "large", "new", "old", "red", "small")
  private val nouns = Array("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
  private val partTypes = Array("ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE")
  private val regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

  private val Day = 86400000L
  private val epoch1995 = Timestamp.valueOf("1995-01-01 00:00:00").getTime
  private val epoch2024 = Timestamp.valueOf("2024-01-01 00:00:00").getTime

  private def money(r: Random, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  private def parquetType(f: StructField): String = f.dataType match {
    case LongType => s"optional int64 ${f.name}"
    case IntegerType => s"optional int32 ${f.name}"
    case DoubleType => s"optional double ${f.name}"
    case StringType => s"optional binary ${f.name} (STRING)"
    case TimestampType => s"optional int64 ${f.name} (TIMESTAMP(MICROS,true))"
    case ArrayType(FloatType, _) =>
      s"optional group ${f.name} (LIST) { repeated group list { required float element; } }"
    case other => throw new IllegalArgumentException(s"no parquet mapping for $other")
  }

  /** One Hadoop configuration for every file the generator writes. */
  private lazy val hadoopConf = new org.apache.hadoop.conf.Configuration()

  /** Write `rows` as one parquet file with the plain parquet writer: no
    * Spark job, so staging time is generation and file writing only.
    */
  def writeFile(path: java.nio.file.Path, schema: StructType, rows: Iterator[Row]): Unit = {
    val mt = MessageTypeParser.parseMessageType(
      schema.fields.map(parquetType).map(t => if (t.endsWith("}")) t else t + ";")
        .mkString("message row { ", " ", " }"))
    val factory = new SimpleGroupFactory(mt)
    java.nio.file.Files.createDirectories(path.getParent)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(path)).withType(mt)
      .withConf(hadoopConf).withCompressionCodec(CompressionCodecName.SNAPPY).build()
    try rows.foreach { r =>
      val g = factory.newGroup()
      schema.fields.indices.foreach { i =>
        val name = schema.fields(i).name
        r.get(i) match {
          case v: Long => g.append(name, v)
          case v: Int => g.append(name, v)
          case v: Double => g.append(name, v)
          case v: String => g.append(name, v)
          case v: Timestamp => g.append(name, v.getTime * 1000L)
          case v: Seq[_] =>
            val list = g.addGroup(name)
            v.foreach(x => list.addGroup("list").append("element", x.asInstanceOf[Float]))
          case other => throw new IllegalArgumentException(s"unsupported value $other")
        }
      }
      w.write(g)
    } finally w.close()
  }

  private def write(dir: String, name: String, schema: StructType, rows: Seq[Row]): Unit =
    writeFile(java.nio.file.Paths.get(dir, s"$name.parquet"), schema, rows.iterator)

  final case class Sizes(customer: Int, supplier: Int, part: Int, orders: Int,
      lineitem: Int, events: Int, documents: Int, embeddings: Int)

  def sizes(sf: Double): Sizes = Sizes(
    customer = (150000 * sf).toInt, supplier = math.max(10, (10000 * sf).toInt),
    part = (200000 * sf).toInt, orders = (1500000 * sf).toInt,
    lineitem = (6000000 * sf).toInt, events = (1000000 * sf).toInt,
    documents = math.max(500, (50000 * sf).toInt),
    embeddings = math.max(500, (20000 * sf).toInt))

  def tables(dir: String, sf: Double, seed: Long): Unit = {
    val n = sizes(sf)
    def rng(table: String) = new Random(seed * 1000003L + table.hashCode)

    write(dir, "region", StructType(Seq(
      StructField("r_regionkey", IntegerType), StructField("r_name", StringType))),
      regions.indices.map(i => Row(i, regions(i))))

    write(dir, "nation", StructType(Seq(
      StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

    val rc = rng("customer")
    write(dir, "customer", StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType))),
      (0 until n.customer).map(i => Row(i.toLong, f"Customer#$i%09d", rc.nextInt(25),
        money(rc, -999.99, 9999.99), segments(rc.nextInt(segments.length)))))

    val rs = rng("supplier")
    write(dir, "supplier", StructType(Seq(
      StructField("s_suppkey", LongType), StructField("s_name", StringType),
      StructField("s_nationkey", IntegerType), StructField("s_acctbal", DoubleType))),
      (0 until n.supplier).map(i => Row(i.toLong, f"Supplier#$i%09d", rs.nextInt(25),
        money(rs, -999.99, 9999.99))))

    val rp = rng("part")
    write(dir, "part", StructType(Seq(
      StructField("p_partkey", LongType), StructField("p_name", StringType),
      StructField("p_brand", StringType), StructField("p_type", StringType),
      StructField("p_size", IntegerType), StructField("p_retailprice", DoubleType))),
      (0 until n.part).map(i => Row(i.toLong,
        adjectives(rp.nextInt(adjectives.length)) + " " + nouns(rp.nextInt(nouns.length)),
        s"Brand#${1 + rp.nextInt(25)}", partTypes(rp.nextInt(partTypes.length)),
        1 + rp.nextInt(50), 900.0 + (i % 1000) / 10.0)))

    val ro = rng("orders")
    write(dir, "orders", StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType))),
      (0 until n.orders).map(i => Row(i.toLong, ro.nextInt(n.customer).toLong,
        "FOP".substring(ro.nextInt(3)).take(1), money(ro, 1000, 500000),
        new Timestamp(epoch1995 + ro.nextInt(2400) * Day),
        priorities(ro.nextInt(priorities.length)))))

    val rl = rng("lineitem")
    write(dir, "lineitem", StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampType))),
      (0 until n.lineitem).map(_ => Row(rl.nextInt(n.orders).toLong,
        rl.nextInt(n.part).toLong, rl.nextInt(n.supplier).toLong, 1 + rl.nextInt(7),
        (1 + rl.nextInt(50)).toDouble, money(rl, 900, 105000),
        rl.nextInt(11) / 100.0, rl.nextInt(9) / 100.0,
        "ANR".substring(rl.nextInt(3)).take(1), "FO".substring(rl.nextInt(2)).take(1),
        new Timestamp(epoch1995 + rl.nextInt(2500) * Day))))

    write(dir, "events", eventSchema, eventRows(rng("events"), n.events, 0L,
      math.max(1, n.customer / 10), epoch2024, 30 * Day))

    val rd = rng("documents")
    val texts = new Array[String](n.documents)
    for (i <- 0 until n.documents) {
      texts(i) =
        if (i > 10 && rd.nextInt(20) == 0) {
          // near-duplicate of an earlier document: a few words swapped for "dup"
          val words = texts(rd.nextInt(i)).split(' ')
          (0 until 1 + rd.nextInt(3)).foreach(_ => words(rd.nextInt(words.length)) = "dup")
          words.mkString(" ")
        } else Array.fill(10 + rd.nextInt(91))(vocab(rd.nextInt(vocab.length))).mkString(" ")
    }
    write(dir, "documents", StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))),
      texts.indices.map(i => Row(i.toLong, texts(i), langs(rd.nextInt(langs.length)),
        s"src${i % 20}", texts(i).length.toLong)))

    val re = rng("embeddings")
    val centres = Array.fill(10, 64)(re.nextGaussian() * 0.0125)
    write(dir, "embeddings", StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType))),
      (0 until n.embeddings).map { i =>
        val label = re.nextInt(10)
        val v = Array.tabulate(64)(j => centres(label)(j) + re.nextGaussian() * 0.125)
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
      })
  }

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  private def eventRows(r: Random, count: Int, firstId: Long, users: Int,
      start: Long, span: Long): Seq[Row] = {
    val gaps = Array.fill(count)(-math.log(1 - r.nextDouble()))
    val scale = span / gaps.sum
    var t = start.toDouble
    (0 until count).map { i =>
      t += gaps(i) * scale
      Row(firstId + i, new Timestamp(t.toLong), r.nextInt(users).toLong,
        eventTypes(r.nextInt(eventTypes.length)),
        math.max(0.01, math.round(-math.log(1 - r.nextDouble()) * 5000) / 100.0),
        s"""{"k": ${r.nextInt(100)}}""")
    }
  }

  /** `files` events-shaped parquet files of `perFile` records each, numbered
    * from `firstFile` and written as `dir/part-<f>.parquet`.
    */
  def eventFiles(dir: String, files: Int, perFile: Int, seed: Long, firstFile: Int): Unit = {
    val r = new Random(seed)
    (firstFile until firstFile + files).foreach { f =>
      writeFile(java.nio.file.Paths.get(dir, f"part-$f%05d.parquet"), eventSchema,
        eventRows(r, perFile, f * FileStride, 100, epoch2024 + f * 60000L, 60000L).iterator)
    }
  }
}
