package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Catalog of the driver-generated test tables (repo:TESTDATA.md /
  * repo:FIXTURES.md §B) plus the reference pipeline's BTCUSDT table shape
  * (reference `start_all_pipeline.py:463-464`).
  *
  * Schemas are declared, never inferred, on production read paths (SURVEY
  * §1.2). Parquet files carry their own schema; `expect` validates the
  * embedded schema against the declaration so a drift fails fast instead of
  * silently mis-typing a 100 TB scan.
  */
object Tables {

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Expected column names per table — names only; physical widths (int32 vs
    * int64) are allowed to differ across scale factors.
    */
  val columns: Map[String, Seq[String]] = Map(
    "region" -> Seq("r_regionkey", "r_name"),
    "nation" -> Seq("n_nationkey", "n_name", "n_regionkey"),
    "customer" -> Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
    "supplier" -> Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
    "part" -> Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"),
    "orders" -> Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"),
    "events" -> Seq("event_id", "ts", "user_id", "event_type", "value", "props"),
    "documents" -> Seq("doc_id", "text", "lang", "source", "n_chars"),
    "embeddings" -> Seq("vec_id", "embedding", "label"))

  /** BTCUSDT analytic table of the reference (`start_all_pipeline.py:463-464`):
    * bid bigint, parameter char(7), price float(7,2), quantity float(7,5),
    * time datetime, maker tinyint — mapped per SURVEY §1.2.
    */
  val btcusdtSchema: StructType = StructType(Seq(
    StructField("bid", LongType),
    StructField("parameter", StringType),
    StructField("price", DecimalType(9, 2)),
    StructField("quantity", DecimalType(10, 5)),
    StructField("time", TimestampType),
    StructField("maker", BooleanType)))

  /** The TSV interchange shape (FIXTURES §A2): identical except `maker`
    * travels as 0/1 (`main.py:57-59` / MySQL tinyint) — CSV cannot parse
    * "0"/"1" as booleans, so the edge reads ByteType and the loader converts.
    */
  val btcusdtTsvSchema: StructType = StructType(
    btcusdtSchema.fields.map {
      case f if f.name == "maker" => f.copy(dataType = ByteType)
      case f => f
    })

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(path(dir, name))
    expect(name, df)
    normalizeTimestamps(spark, df)
  }

  /** Fixture timestamps are parquet µs with isAdjustedToUTC=false (naive
    * wall time, exactly what the DuckDB oracle reads), which Spark 4 infers
    * as TIMESTAMP_NTZ. The engine's typed surface — collected
    * `java.sql.Timestamp`s, the native as-of distance, windowed gates — is
    * built on session-zoned TimestampType, so every NTZ column is cast to
    * TimestampType here, at the one load chokepoint. The cast interprets
    * the wall time in the session time zone; every entry point pins the
    * session to UTC (guarded below), so the resulting instants are the
    * naive values read as UTC — bit-identical to the oracle's rendering.
    * A TIMESTAMP(NANOS) column is not read: Spark's parquet reader rejects
    * it (DEPLOY.md "Scoped confs").
    */
  private def normalizeTimestamps(spark: SparkSession, df: DataFrame): DataFrame = {
    val ntz = df.schema.fields.filter(_.dataType == TimestampNTZType)
    if (ntz.isEmpty) df
    else {
      require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
        "fixture load requires spark.sql.session.timeZone=UTC: the NTZ->TZ " +
          "cast reads naive parquet timestamps as session-zone wall time")
      ntz.foldLeft(df)((d, f) =>
        d.withColumn(f.name, d.col(f.name).cast(TimestampType)))
    }
  }

  private def expect(name: String, df: DataFrame): Unit =
    columns.get(name).foreach { cols =>
      val have = df.columns.toSeq
      require(have == cols, s"table $name: expected columns $cols, found $have")
    }

  /** Register every fixture table as a temp view (for spark.sql paths). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
