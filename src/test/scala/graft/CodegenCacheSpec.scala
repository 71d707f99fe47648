package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

import graft.model.TradeTick
import graft.queries.SharedStages
import graft.streaming.{BucketedStore, Ingest, Loader}

/** Generated classes are compiled once and then served from Spark's codegen
  * cache: the extension sizes the cache to the engine's working set, and the
  * loader feeds each trigger's batch id to generated code as a parameter, not
  * as an inlined literal.
  */
class CodegenCacheSpec extends AnyFunSuite {
  import TestSpark._

  private def compiledSoFar: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("the extension sets the cache default; an explicit value wins") {
    // the cache size is static per JVM, so each session needs a JVM that
    // has not built one yet
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
    val opens = jvm.zip(jvm.drop(1) :+ "").collect {
      case (a, v) if a == "--add-opens" => Seq(a, v)
      case (a, _) if a.startsWith("--add-opens=") => Seq(a)
    }.flatten
    val cmd = Seq(Paths.get(sys.props("java.home"), "bin", "java").toString) ++ opens ++
      Seq("-Xmx512m", "-Dspark.master=local[1]", "-Dspark.ui.enabled=false",
        "-cp", sys.props("java.class.path"), CodegenCacheProbe.getClass.getName.stripSuffix("$"))
    val p = new ProcessBuilder(cmd: _*).redirectError(ProcessBuilder.Redirect.DISCARD).start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    assert(p.waitFor() == 0, out)
    val seen = out.linesIterator.filter(_.startsWith("probe ")).toSeq
    assert(seen == Seq(s"probe bare ${GraftExtensions.CodegenCacheEntries}", "probe explicit 42"), out)
  }

  test("a warm rerun of the shared dedup stage compiles no generated classes") {
    // a second spelling of the input directory rebuilds the stage (the
    // stages are materialized once per directory)
    val root = tmpDir("codegen-alias")
    def classesFor(k: Int): Long = {
      val dir = Files.createSymbolicLink(Paths.get(root, s"p$k"), Paths.get(sf0001)).toString
      obs.QueryProfile.during(spark, quietWindow = false)(
        Bench.force(SharedStages.dedupClusters(spark, dir)))._2.codegenClasses
    }
    classesFor(1)
    assert(classesFor(2) == 0)
  }

  test("a session clone runs on the classes its parent compiled") {
    // with per-session artifact classloaders every new session would
    // compile its own copy of each class
    def run(s: SparkSession) =
      s.range(1000).selectExpr("id * 3 AS x").groupBy(col("x") % 5).count().collect()
    run(spark)
    val before = compiledSoFar
    obs.Sessions.withConf(spark, "spark.graft.test.scope" -> "clone")(run)
    assert(compiledSoFar - before == 0)
  }

  test("the loader compiles no classes per trigger; the landed layout is unchanged") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[TradeTick]
    val table = tmpDir("codegen-loader")
    val cp = tmpDir("codegen-loader-cp")
    val q = Ingest.toBtcusdt(ms.toDF()).writeStream
      .option("checkpointLocation", cp)
      .foreachBatch { (df: DataFrame, id: Long) =>
        Loader.writeBatchIdempotent(df, table, id, s"$cp/markers") }
      .start()
    val triggers = 12
    val counts = try (0 until triggers).map { k =>
      ms.addData(TradeTick(k, "BTCUSDT", s"100.$k", "0.10000000", 1700000000000L + k, k % 2 == 0))
      q.processAllAvailable()
      compiledSoFar
    } finally q.stop()
    assert(counts.last - counts.head == 0, s"compile counts per trigger: $counts")

    // an empty batch lands no files
    Loader.writeBatchIdempotent(Ingest.toBtcusdt(Seq.empty[TradeTick].toDF()), table, 99L)
    val dirs = new java.io.File(table).list().filter(_.startsWith("_batch=")).sorted.toSeq
    assert(dirs == (0 until triggers).map(k => s"_batch=$k").sorted)
    val raw = spark.read.parquet(table)
    assert(raw.schema("_src_batch").dataType == LongType)
    assert(raw.filter($"_src_batch" === $"_batch").count() == triggers)
    assert(Loader.readTable(spark, table).count() == triggers)
  }

  test("a store sink compiles no classes per trigger") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Long]
    val spec = BucketedStore.StoreSpec(tmpDir("codegen-store"), Seq("grp"), 4)
    val cp = tmpDir("codegen-store-cp")
    val q = ms.toDF().select($"value".as("k"), ($"value" % 7).as("grp"))
      .writeStream
      .option("checkpointLocation", cp)
      .foreachBatch { (df: DataFrame, id: Long) => BucketedStore.appendBatch(df, spec, id) }
      .start()
    val triggers = 12
    val counts = try (0 until triggers).map { k =>
      ms.addData(k * 10L until k * 10L + 10L)
      q.processAllAvailable()
      compiledSoFar
    } finally q.stop()
    // the first trigger creates the table, the second is the first append
    // into it; every later trigger reuses the second one's classes
    assert(counts.last - counts(1) == 0, s"compile counts per trigger: $counts")
    val landed = BucketedStore.read(spark, spec).get
    assert(landed.count() == triggers * 10L)
    assert(landed.filter($"_src_batch" =!= $"_batch" || ($"k" / 10).cast("long") =!= $"_batch")
      .count() == 0)
  }
}

/** Builds a session with only the extension configured, then one with the
  * cache size set explicitly, and prints the size each one reads.
  */
object CodegenCacheProbe {
  def main(args: Array[String]): Unit = Seq("bare" -> None, "explicit" -> Some("42")).foreach {
    case (label, explicit) =>
      val b = SparkSession.builder().config("spark.sql.extensions", "graft.GraftExtensions")
      explicit.foreach(b.config(GraftExtensions.CodegenCacheKey, _))
      val s = b.getOrCreate()
      try println(s"probe $label ${s.conf.get(GraftExtensions.CodegenCacheKey)}")
      finally s.stop()
  }
}
