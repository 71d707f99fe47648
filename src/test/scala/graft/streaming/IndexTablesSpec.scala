package graft.streaming

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark.{spark, tmpDir}
import graft.operators.AnnIvf

/** [[IndexTables]] declares every table a maintained index writes: after
  * four ingested batches and one `compact`, each `_batch`-partitioned dir
  * the ingest left under the index's root holds exactly one partition, and
  * both the rows of every table and the index's own answer are unchanged.
  * The dirs are found on disk, not taken from the declaration, so a table
  * the declaration forgets fails its row.
  */
class IndexTablesSpec extends AnyFunSuite {

  /** One maintained index, rooted in a fresh dir. */
  private final case class Row(name: String, tables: String => IndexTables,
      ingest: (String, Long) => Unit, answer: String => Set[String])

  // docs 2k and 2k+1 share their text: every batch completes near-dup pairs
  // and repeats grams
  private def docs(b: Long): DataFrame =
    spark.range(b * 10, b * 10 + 10).select(col("id").as("doc_id"),
      concat_ws(" ", (0 to 7).map(i =>
        concat(lit(s"w$i"), ((col("id") - pmod(col("id"), lit(2L))) * 31 + i) % 97)): _*)
        .as("text"))

  private def vecs(b: Long, dim: Int): DataFrame =
    spark.range(b * 20, b * 20 + 20).select(col("id").as("vec_id"),
      array((0 until dim).map(d =>
        (pmod(col("id") * (d * 7 + 3), lit(11L)) + lit(d % 5 + 1)).cast("double")): _*)
        .as("e"))

  private val centroids = Array(Array(1.0, 3.0, 5.0, 7.0), Array(9.0, 2.0, 4.0, 6.0),
    Array(2.0, 8.0, 1.0, 5.0), Array(6.0, 6.0, 6.0, 1.0))
  private val centroids64 =
    Array.tabulate(4)(i => Array.tabulate(64)(d => if (d == i) 1.0 else 0.0))

  private def probes(dim: Int) = vecs(0, dim).filter(col("vec_id") < 3)
    .select(col("vec_id").as("qid"), col("e").as("qe"))

  private def strings(df: DataFrame): Set[String] = df.collect().map(_.toString).toSet

  private val rows = Seq(
    Row("LSH", r => LshIndex.tables(s"$r/store", s"$r/pairs", buckets = 4),
      (r, b) => LshIndex.processBatch(docs(b), s"$r/store", s"$r/pairs", b, buckets = 4),
      r => strings(Loader.readTable(spark, s"$r/pairs"))),
    Row("BM25", r => RetrievalIndex.tables(s"$r/idx", buckets = 4),
      (r, b) => RetrievalIndex.ingestBatch(docs(b), s"$r/idx", b, buckets = 4),
      r => strings(RetrievalIndex.bm25(spark, s"$r/idx",
        Seq("w00", "w11", "w019", "w120"), k = 10, buckets = 4))),
    Row("dup-span", r => DupSpanIndex.tables(s"$r/grams", s"$r/hits", buckets = 4),
      (r, b) => DupSpanIndex.ingestBatch(docs(b), s"$r/grams", s"$r/hits", b, width = 3,
        buckets = 4),
      r => strings(DupSpanIndex.spans(spark, s"$r/hits", width = 3))),
    Row("IVF", r => AnnIvf.tables(s"$r/idx", buckets = 4),
      (r, b) => AnnIvf.appendToIndexStore(vecs(b, 4), centroids, s"$r/idx", b, buckets = 4),
      r => strings(AnnIvf.topKIndexedStore(spark, s"$r/idx", probes(4), 3, centroids,
        buckets = 4))),
    Row("IVF-PQ", r => AnnIvf.tables(s"$r/idx", buckets = 4),
      (r, b) => AnnIvf.appendToIndexStorePq(vecs(b, 64), centroids64, s"$r/idx", b,
        buckets = 4),
      r => strings(AnnIvf.topKIndexedStoreAdc(spark, s"$r/idx", probes(64), 3, centroids64,
        buckets = 4))))

  /** Every dir under `root` holding `_batch` partitions, with their count. */
  private def partitions(root: String): Map[String, Int] =
    new File(root).listFiles().toSeq.filter(_.isDirectory).map { d =>
      d.getName -> d.listFiles().count(f => f.isDirectory && f.getName.startsWith("_batch="))
    }.filter(_._2 > 0).toMap

  private def content(root: String, table: String): Set[String] =
    strings(spark.read.parquet(s"$root/$table").drop("_batch"))

  rows.foreach { row =>
    test(s"compact folds every table the ingest wrote: ${row.name}") {
      val root = tmpDir(s"index-tables-${row.name}")
      (0L until 4L).foreach(row.ingest(root, _))
      val written = partitions(root)
      assert(written.values.forall(_ > 1), s"four batches should leave a pile: $written")
      val before = written.keys.map(t => t -> content(root, t)).toMap
      val answer = row.answer(root)
      assert(answer.nonEmpty)

      row.tables(root).compact(spark)

      assert(partitions(root) == written.map { case (t, _) => t -> 1 },
        s"a table kept its per-batch partitions: ${partitions(root)}")
      written.keys.foreach(t => assert(content(root, t) == before(t), s"$t changed"))
      assert(row.answer(root) == answer)
    }
  }

  test("source guard: only IndexTables.scala names compactEvery") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val hits = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "IndexTables.scala")
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("compactEvery") => s"$p:${i + 1}: ${line.trim}"
        }
      }.toList
    assert(hits.isEmpty,
      s"fold through graft.streaming.IndexTables.sink instead:\n${hits.mkString("\n")}")
  }
}
