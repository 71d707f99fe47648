package graft

import java.nio.file.{FileSystems, Files, Paths, StandardWatchEventKinds}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.obs.QueryProfile
import graft.operators.{ConnectedComponents, IterativeFixpoint, Materialize, PageRank}
import graft.streaming.{IncrementalCC, VersionedView}

/** `Materialize.pin` is the one lineage cut in `src/main`, and its mode
  * (`spark.graft.materialize=block|durable`) is pure plumbing: every
  * operator that pins returns the same rows in both modes, and durable mode
  * really writes Spark checkpoint files. Each case runs in a child session
  * (`spark.newSession()`), so the shared session's conf never changes.
  */
class MaterializeSpec extends AnyFunSuite {
  import TestSpark._

  private def session(mode: String): SparkSession = {
    val s = spark.newSession()
    s.conf.set(Materialize.ModeKey, mode)
    s
  }

  /** Runs `body` on a durable child session with a fresh checkpoint dir and
    * returns its result plus the entries the pins created in that dir.
    * The dir is watched rather than listed because `cleanCheckpoints`
    * may delete a pin's files as soon as its frame is collected.
    */
  private def durably[T](body: SparkSession => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    sc.setCheckpointDir(tmpDir("pins"))
    val root = Paths.get(new java.net.URI(sc.getCheckpointDir.get))
    val watch = FileSystems.getDefault.newWatchService()
    try {
      root.register(watch, StandardWatchEventKinds.ENTRY_CREATE)
      val out = body(session("durable"))
      val key = Option(watch.poll(10, TimeUnit.SECONDS))
      (out, key.toSeq.flatMap(_.pollEvents().asScala.map(_.context.toString)))
    } finally watch.close()
  }

  test("an unknown spark.graft.materialize value names the key and the value") {
    val e = intercept[IllegalArgumentException] {
      Materialize.pin(session("fast").range(3).toDF(), "bad_mode")
    }
    assert(e.getMessage.contains(Materialize.ModeKey) && e.getMessage.contains("fast"),
      e.getMessage)
  }

  test("durable with no checkpoint dir fails before any job, naming spark.checkpoint.dir") {
    // a null dir clears the context's checkpoint dir in local mode
    spark.sparkContext.setCheckpointDir(null)
    val s = session("durable")
    val (e, prof) = QueryProfile.during(spark) {
      intercept[IllegalArgumentException](Materialize.pin(s.range(3).toDF(), "no_dir"))
    }
    assert(e.getMessage.contains("spark.checkpoint.dir"), e.getMessage)
    assert(prof.jobs == 0, s"${prof.jobs} jobs ran before the error")
  }

  test("one job per pin, named after its tag, observing rows and extra metrics") {
    val sc = spark.sparkContext
    sc.setCallSite("caller")
    try {
      for (mode <- Seq("block", "durable")) {
        def run(s: SparkSession) = QueryProfile.during(spark) {
          Materialize.pin(s.range(10).toDF(), "probe", sum(col("id")).as("s"))
        }
        val (p, prof) =
          if (mode == "block") run(session("block")) else durably(run)._1
        assert(p.rows == 10L && p.metrics == Map("s" -> 45L), s"$mode: $p")
        assert(p.df.count() == 10L)
        assert(prof.jobs == 1, s"$mode: ${prof.jobs} jobs")
        assert(prof.stages.map(_.name).distinct == Seq("pin probe"), s"$mode: ${prof.stages}")
        assert(sc.getLocalProperty("callSite.short") == "caller")
      }
    } finally sc.clearCallSite()
  }

  /** name → one run of an operator that pins; each returns comparable rows
    * and asserts its own invariant, so both modes check it.
    */
  private val matrix: Seq[(String, SparkSession => Any)] = Seq(
    "ConnectedComponents star + chain" -> { s =>
      import s.implicits._
      val star = (1 until 500).map(i => (0L, i.toLong))
      val chain = (0 until 40).map(i => (5000L + i, 5000L + i + 1))
      val labels = ConnectedComponents((star ++ chain).toDF("u", "v"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels(499L) == 0L && labels(5040L) == 5000L)
      labels
    },
    "IterativeFixpoint" -> { s =>
      import s.implicits._
      // tiny functional graph: n -> n+3 until > 20, from anchors {1, 2}
      val anchor = Seq((1, 0), (2, 0)).toDF("node", "depth")
      val rows = IterativeFixpoint.iterate(anchor,
        f => f.filter(col("node") + 3 <= 20)
          .select((col("node") + 3).as("node"), (col("depth") + 1).as("depth")),
        maxRounds = 10)
        .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq.sorted
      assert(rows.length == 14 && rows.last == (20, 6), rows)
      rows
    },
    "PageRank" -> { s =>
      import s.implicits._
      val edges = Seq(
        (0L, 1L, 3L), (1L, 2L, 1L), (2L, 0L, 2L), (0L, 2L, 1L), (3L, 0L, 5L)
      ).toDF("src", "dst", "w")
      val (ranks, prof) = QueryProfile.during(spark) {
        PageRank.run(edges, iters = 3).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      // the ranks are round pr_3's pin
      assert(ranks.size == 4 && prof.stages.exists(_.name == "pin pr_3"), prof.stages)
      ranks
    },
    "q215 dedup cascade" -> { s =>
      val tiers = graft.queries.DedupQueries.dedupCascade(s, sf0001)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(tiers.map(_._1) ==
        Seq("a_exact", "b_bow", "c_contain", "d_near", "e_sem", "f_kept"), tiers)
      tiers
    },
    "IncrementalCC.ccSink" -> { s =>
      import s.implicits._
      val out = tmpDir("pin-icc")
      val sink = IncrementalCC.ccSink(out)
      sink(Seq((2L, 1L), (5L, 6L)).toDF("u", "v"), 0L)
      sink(Seq((2L, 6L)).toDF("u", "v"), 1L) // bridge merges both components
      val map = VersionedView.read(s, out).get
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(map == Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 6L -> 1L), map)
      map
    })

  matrix.foreach { case (name, run) =>
    test(s"block ≡ durable: $name") {
      val block = run(session("block"))
      val (durable, created) = durably(run)
      assert(durable == block, s"block=$block durable=$durable")
      assert(created.exists(_.startsWith("rdd-")),
        s"durable mode wrote no checkpoint files: $created")
    }
  }

  test("source guard: only Materialize.scala checkpoints, and no env var picks durability") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val banned = """localCheckpoint\(|\.checkpoint\(|GRAFT_\w*RELIABLE""".r
    val hits = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "Materialize.scala")
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if banned.findFirstIn(line).isDefined => s"$p:${i + 1}: ${line.trim}"
        }
      }.toList
    assert(hits.isEmpty, s"pin through graft.operators.Materialize instead:\n${hits.mkString("\n")}")
  }
}
