package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.obs.Sessions
import graft.streaming.BucketedStore
import graft.streaming.BucketedStore.StoreSpec

/** Builders that need a conf of their own take it on a session clone
  * (`Sessions.withConf`), so the caller's session conf reads the same
  * before a builder and after its result is collected, and builders
  * sharing one session can run side by side.
  */
class ScopedConfSpec extends AnyFunSuite {
  import TestSpark._

  /** One builder per former session-global conf write: a row-limit set,
    * a co-partition toggle, bloom confs, the events load, a stream
    * harness, store batches plus a backfill, and a store compaction.
    */
  private val builders: Seq[(String, SparkSession => DataFrame)] =
    Seq("q116_recursive_chain", "q117_fixpoint_chain", "q152_bloom_join",
      "q22_tumbling_window", "q66_stream_tumbling", "q254_decontaminate_backfill")
      .map(q => q -> ((s: SparkSession) => SparkEntry.queries(q)(s, sf0001))) :+
      ("BucketedStore.compact" -> compacted _)

  private def compacted(s: SparkSession): DataFrame = {
    val spec = StoreSpec(tmpDir("scoped-compact"), Seq("grp"), 4)
    for (b <- 0L until 3L)
      BucketedStore.appendBatch(s.range(b * 20, b * 20 + 20)
        .select(col("id").as("k"), (col("id") % 7).as("grp")), spec, b)
    BucketedStore.compact(s, spec)
    BucketedStore.read(s, spec).get.select("k", "grp", "_src_batch")
  }

  /** Order-independent digest of a result's rows. */
  private def digest(df: DataFrame): String =
    org.apache.commons.codec.digest.DigestUtils.md5Hex(
      df.collect().map(_.toString).sorted.mkString("\n"))

  /** Each builder on its own fresh session: (conf before, conf after
    * collect, row digest).
    */
  private lazy val sequential: Map[String, (Map[String, String], Map[String, String], String)] =
    builders.map { case (name, build) =>
      val s = spark.newSession()
      val before = s.conf.getAll
      val d = digest(build(s))
      name -> ((before, s.conf.getAll, d))
    }.toMap

  test("no builder writes its caller's session conf") {
    val leaks = sequential.toSeq.sortBy(_._1).flatMap { case (name, (before, after, _)) =>
      val changed = (before.keySet ++ after.keySet).filter(k => before.get(k) != after.get(k))
      if (changed.isEmpty) None
      else Some(s"$name: " + changed.toSeq.sorted
        .map(k => s"$k ${before.getOrElse(k, "<unset>")} -> ${after.getOrElse(k, "<unset>")}")
        .mkString(", "))
    }
    assert(leaks.isEmpty, "session conf changed:\n" + leaks.mkString("\n"))
  }

  test("the builders run concurrently on one session with the sequential rows") {
    val want = sequential.map { case (name, (_, _, d)) => name -> d }
    val s = spark.newSession()
    val before = s.conf.getAll
    val pool = Executors.newFixedThreadPool(builders.size)
    val got = try {
      val futures = builders.map { case (name, build) =>
        name -> pool.submit(new Callable[String] { def call(): String = digest(build(s)) })
      }
      futures.map { case (name, f) => name -> f.get(10, TimeUnit.MINUTES) }.toMap
    } finally {
      pool.shutdownNow()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
    val differ = builders.map(_._1).filter(n => got(n) != want(n))
    assert(differ.isEmpty, s"rows differ from the sequential run: ${differ.mkString(", ")}")
    assert(s.conf.getAll == before, "the shared session's conf changed")
  }

  test("source guard: only Sessions.scala writes a session conf") {
    // under src/main nothing outside Sessions.scala writes a conf; under
    // src/test no spec writes the shared test session's
    def hits(root: String, banned: scala.util.matching.Regex, skip: String): List[String] = {
      val r = Paths.get(root)
      assert(Files.isDirectory(r), s"run from the repository root: $r")
      Files.walk(r).iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && p.toString.replace('\\', '/') != skip)
        .flatMap { p =>
          Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if banned.findFirstIn(line).isDefined => s"$p:${i + 1}: ${line.trim}"
          }
        }.toList
    }
    val all = hits("src/main/scala", """\.conf\.(set|unset)\(""".r,
        "src/main/scala/graft/obs/Sessions.scala") ++
      hits("src/test/scala", """\bspark\.conf\.(set|unset)\(""".r, "")
    assert(all.isEmpty, s"scope confs with graft.obs.Sessions.withConf instead:\n${all.mkString("\n")}")
  }

  test("envInt: unset gives the default; a bad value names the variable") {
    def read(v: Option[String]) = Sessions.envInt("SPARK_GRAFT_CPUS", 4, _ => v)
    assert(read(None) == 4)
    assert(read(Some("12")) == 12)
    assert(read(Some(" 3 ")) == 3)
    for (bad <- Seq("", "x", "4.5", "0", "-2", "99999999999")) {
      val e = intercept[IllegalArgumentException](read(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS") && e.getMessage.contains(s"'$bad'"),
        e.getMessage)
    }
  }
}
