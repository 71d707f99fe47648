package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.Tables

/** Deterministic K× blow-up of a driver fixture dir — the sf1 scale
  * REHEARSAL input (`runMain graft.tools.ScaleUp <srcDir> <outDir> [k]`):
  * union K shifted copies of each fact/dim so the expensive queries can be
  * re-measured at ~10× rows and their PLANS.md shapes re-audited (no new
  * global exchanges, spill counters sane) before anyone trusts them at
  * 1000×. Only a perf rehearsal — there is no DuckDB oracle at sf1; the
  * correctness gate stays at the driver SFs.
  *
  * Copy discipline (keeps 10× data ≈ 10× work, not an accidental 100×):
  *
  *   - `region`/`nation` stay fixed — real deployments scale facts, not the
  *     country list; broadcast-dim plans must keep their broadcast shape.
  *   - Key columns shift by `i * (max+1)` per copy i, consistently across
  *     FK pairs (orders.o_custkey matches customer.c_custkey's shift,
  *     lineitem.l_orderkey matches orders', events.user_id shifts with
  *     event_id), so join fan-outs and per-entity row counts are preserved
  *     exactly — entity COUNT grows K×, per-entity behavior is unchanged.
  *   - `documents.text` is re-lettered per copy (a 10-letter rotation via
  *     `translate`) so shingle/MinHash/SimHash content differs across
  *     copies: token boundaries, lengths and counts are identical, but no
  *     cross-copy exact/near-dup pairs appear — otherwise every LSH bucket
  *     would grow K× and candidate PAIRS K²×, turning the linear dedup
  *     stack into an artificial quadratic stress that measures the
  *     synthesizer, not the engine.
  *   - timestamps/dates/values stay as-is: filter selectivities, window
  *     densities and aggregate distributions survive the blow-up.
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleUp <srcDir> <outDir> [k=10] [rotAlphabet]")
    val (src, out) = (args(0), args(1))
    val k = if (args.length > 2) args(2).toInt else 10
    // Rotation alphabet for the per-copy document re-lettering. CHAINED
    // blow-ups (sf0.1 →k=10 sf1 →k=10 sf10) MUST use a disjoint alphabet
    // per pass: re-using "abcdefghij" on an already-rotated dir composes
    // rotations mod 10, so 100 copies collapse to 10 distinct texts per
    // doc — every LSH bucket then holds 10 exact clones and candidate
    // pairs grow ~K² (the synthesizer-measuring trap the doc above names).
    // Disjoint alphabets compose to k₁·k₂ DISTINCT letterings; common
    // letters (n o r s t ∈ the second alphabet) sit in virtually every
    // shingle, so cross-copy shingle overlap stays negligible.
    val rot = if (args.length > 3) args(3) else "abcdefghij"
    require(rot.toSet.size == rot.length, "rotation alphabet must be distinct letters")
    val spark = graft.obs.Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)

    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).collect()(0).getLong(0) + 1L

    def copies(df: DataFrame, mk: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until k).map(i => mk(df, i)).reduce(_ unionAll _)

    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      System.err.println(s"[scaleup] $name done")
    }

    // fixed dims
    for (t <- Seq("region", "nation"))
      write(t, Tables.load(spark, src, t))

    val cust = Tables.load(spark, src, "customer")
    val supp = Tables.load(spark, src, "supplier")
    val part = Tables.load(spark, src, "part")
    val ords = Tables.load(spark, src, "orders")
    val li = Tables.load(spark, src, "lineitem")
    val ev = Tables.load(spark, src, "events")
    val docs = Tables.load(spark, src, "documents")
    val emb = Tables.load(spark, src, "embeddings")

    val (mCust, mSupp, mPart) = (maxOf(cust, "c_custkey"), maxOf(supp, "s_suppkey"), maxOf(part, "p_partkey"))
    val (mOrd, mEv, mUser) = (maxOf(ords, "o_orderkey"), maxOf(ev, "event_id"), maxOf(ev, "user_id"))
    val (mDoc, mVec) = (maxOf(docs, "doc_id"), maxOf(emb, "vec_id"))

    def shift(c: String, m: Long, i: Int) = (col(c) + lit(i.toLong * m)).as(c)

    write("customer", copies(cust, (d, i) => d.withColumn("c_custkey", shift("c_custkey", mCust, i))))
    write("supplier", copies(supp, (d, i) => d.withColumn("s_suppkey", shift("s_suppkey", mSupp, i))))
    write("part", copies(part, (d, i) => d.withColumn("p_partkey", shift("p_partkey", mPart, i))))
    write("orders", copies(ords, (d, i) => d
      .withColumn("o_orderkey", shift("o_orderkey", mOrd, i))
      .withColumn("o_custkey", shift("o_custkey", mCust, i))))
    write("lineitem", copies(li, (d, i) => d
      .withColumn("l_orderkey", shift("l_orderkey", mOrd, i))
      .withColumn("l_partkey", shift("l_partkey", mPart, i))
      .withColumn("l_suppkey", shift("l_suppkey", mSupp, i))))
    write("events", copies(ev, (d, i) => d
      .withColumn("event_id", shift("event_id", mEv, i))
      .withColumn("user_id", shift("user_id", mUser, i))))
    write("documents", copies(docs, (d, i) => d
      .withColumn("doc_id", shift("doc_id", mDoc, i))
      .withColumn("text", translate(col("text"),
        rot, rot.drop(i % rot.length) + rot.take(i % rot.length)))))
    write("embeddings", copies(emb, (d, i) => d.withColumn("vec_id", shift("vec_id", mVec, i))))

    spark.stop()
  }
}
