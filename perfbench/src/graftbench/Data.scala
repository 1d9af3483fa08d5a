package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.{LocalInputFile, LocalOutputFile}
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

/** One lineitem row of the committed sf0.001 fixture (the sampling pool). */
final case class LiRow(partkey: Long, suppkey: Long, linenumber: Int,
    quantity: Double, price: Double, discount: Double, tax: Double,
    returnflag: String, linestatus: String, shipMicros: Long)

/** One commit or REPLACE event as the stream source sees it
  * (`EventPipeline.eventSchema`: `user_id` is the table, `event_id` the
  * snapshot, `event_type = purchase` the REPLACE). */
final case class Ev(eventId: Long, tsMs: Long, table: Long, eventType: String)

/** Input generation. Every table file and event file is written directly
  * with parquet-mr, so set-up time is the benchmark's own file writing and
  * not Spark scheduling. All draws are pure functions of (seed, ids). */
object Data {
  private val liSchema = MessageTypeParser.parseMessageType(
    """message lineitem {
      |  optional int64 l_orderkey; optional int64 l_partkey;
      |  optional int64 l_suppkey; optional int32 l_linenumber;
      |  optional double l_quantity; optional double l_extendedprice;
      |  optional double l_discount; optional double l_tax;
      |  optional binary l_returnflag (STRING);
      |  optional binary l_linestatus (STRING);
      |  optional int64 l_shipdate (TIMESTAMP(MICROS,true));
      |}""".stripMargin)
  private val evSchema = MessageTypeParser.parseMessageType(
    """message events {
      |  optional int64 event_id; optional int64 ts; optional int64 user_id;
      |  optional binary event_type (STRING); optional double value;
      |  optional binary props (STRING);
      |}""".stripMargin)
  private val conf = new Configuration(false)

  /** splitmix64 finaliser: the hash behind every seeded draw. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
  def hash(xs: Long*): Long = xs.foldLeft(0x1234567L)((h, x) => mix(h ^ x))
  /** Uniform double in [0, 1). */
  def unit(xs: Long*): Double = (hash(xs: _*) >>> 11) / (1L << 53).toDouble

  def loadLineitem(spark: SparkSession, fixtureDir: String): Array[LiRow] =
    spark.read.parquet(s"$fixtureDir/lineitem.parquet")
      .select(col("l_partkey"), col("l_suppkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"),
        col("l_tax"), col("l_returnflag"), col("l_linestatus"),
        unix_micros(col("l_shipdate").cast("timestamp")))
      .collect().map { r =>
        LiRow(r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3),
          r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getString(7),
          r.getString(8), r.getLong(9))
      }

  /** Write `n` lineitem rows sampled from the fixture pool for
    * (seed, table, file). Order keys are unique per (table, file, row). */
  def writeLineitem(path: Path, pool: Array[LiRow], seed: Long, table: Long,
      file: Long, n: Int): Long = {
    val f = new SimpleGroupFactory(liSchema)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(path))
      .withType(liSchema).withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY).build()
    try (0 until n).foreach { i =>
      val r = pool((java.lang.Long.remainderUnsigned(
        hash(seed, table, file, i), pool.length.toLong)).toInt)
      w.write(f.newGroup()
        .append("l_orderkey", table * 1000000000L + file * 100000L + i)
        .append("l_partkey", r.partkey).append("l_suppkey", r.suppkey)
        .append("l_linenumber", r.linenumber).append("l_quantity", r.quantity)
        .append("l_extendedprice", r.price).append("l_discount", r.discount)
        .append("l_tax", r.tax).append("l_returnflag", r.returnflag)
        .append("l_linestatus", r.linestatus).append("l_shipdate", r.shipMicros))
    } finally w.close()
    n.toLong
  }

  /** Write events to one parquet file (ts as epoch nanos, the synthetic
    * wave encoding `EventPipeline.eventSchema` declares). */
  def writeEvents(path: Path, evs: Seq[Ev]): Unit = {
    val f = new SimpleGroupFactory(evSchema)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(path))
      .withType(evSchema).withConf(conf).build()
    try evs.foreach { e =>
      w.write(f.newGroup().append("event_id", e.eventId)
        .append("ts", e.tsMs * 1000000L).append("user_id", e.table)
        .append("event_type", e.eventType).append("value", 1.0)
        .append("props", "{\"k\":1}"))
    } finally w.close()
  }

  /** Write to a sibling staging name, then rename into place, so a
    * directory listing never sees a partial file. */
  def publishEvents(stage: Path, dest: Path, evs: Seq[Ev]): Unit = {
    writeEvents(stage, evs)
    Files.move(stage, dest, StandardCopyOption.ATOMIC_MOVE)
  }

  def rowCount(path: Path): Long = {
    val r = ParquetFileReader.open(new LocalInputFile(path))
    try r.getRecordCount finally r.close()
  }

  def parquetFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter { p =>
          val n = p.getFileName.toString
          n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")
        }.toSeq.sortBy(_.toString)
      } finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      } finally s.close()
    }

  /** The fixed Q1-style reader: pricing summary over every data file
    * under the given table directories.
    * Sums are taken over per-row rounded integers, so the result is exact
    * whatever the file layout or the summation order. */
  def q1(spark: SparkSession, tables: Seq[String]): Seq[Row] =
    spark.read.option("recursiveFileLookup", "true").parquet(tables: _*)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("sum_base"),
        sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
          .cast("long")).as("sum_disc"),
        sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) *
          (lit(1) + col("l_tax")) * 100).cast("long")).as("sum_charge"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
      .collect().toSeq
}
