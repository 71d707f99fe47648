package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [queryName...]")
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet // empty = all declared queries
    val spark = obs.Sessions.local(obs.Sessions.envInt("SPARK_GRAFT_CPUS", 4))
    new java.io.File(outDir).mkdirs()
    // Finalized schema per query, used to mirror the terminal DOUBLE/BIGINT
    // representation onto the oracle side (Protocol.wrapOracleTypes).
    val schemas = scala.collection.mutable.Map.empty[String, org.apache.spark.sql.types.StructType]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try {
        System.err.println(s"[verify] running $name")
        val df = fn(spark, sfDir)
        schemas(name) = df.schema
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally spark.catalog.clearCache() // release per-query persists (q32/q34)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Partial runs must not truncate oracle_sql.json to just the queries
    // that ran (a later full check.py would then silently verify only that
    // subset — a false green). Each run writes its queries' wrapped SQL to
    // one sidecar file apiece and the json is assembled from ALL sidecars;
    // a full run clears the sidecar dir first so removed queries disappear.
    val oracleDir = Paths.get(s"$outDir/.oracle")
    if (only.isEmpty && Files.isDirectory(oracleDir)) {
      Files.list(oracleDir).forEach(p => Files.delete(p))
    }
    Files.createDirectories(oracleDir)
    SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .foreach { case (k, v) =>
        val wrapped = schemas.get(k)
          .map(sch => graft.queries.Protocol.wrapOracleTypes(v, sch))
          .getOrElse(v)
        Files.writeString(oracleDir.resolve(s"$k.sql"), wrapped)
      }
    import scala.jdk.CollectionConverters._
    val entries = Files.list(oracleDir).iterator().asScala.toSeq.sortBy(_.toString).map { p =>
      val name = p.getFileName.toString.stripSuffix(".sql")
      s"${q(name)}: ${q(Files.readString(p))}"
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      entries.mkString("{", ",", "}"))
    // Storage hygiene: after a full sequential run nothing may stay cached —
    // the query paths use written parquet stages, not persist(), and the
    // only block-storage users (ConnectedComponents' transient edge persist
    // and block-mode Materialize pins) release on completion via the
    // ContextCleaner.
    // Drain (reference-triggered cleanup needs a GC) and report; a leak here
    // means a long-lived session would accumulate executor memory.
    spark.catalog.clearCache()
    var tries = 0
    while (spark.sparkContext.getPersistentRDDs.nonEmpty && tries < 20) {
      System.gc(); Thread.sleep(250); tries += 1
    }
    val leaked = spark.sparkContext.getPersistentRDDs
    System.err.println(s"[verify] storage_clean=${leaked.isEmpty}" +
      (if (leaked.nonEmpty) s" leaked_rdds=${leaked.keys.mkString(",")}" else ""))
    // Providers first, session second (RocksDB JNI shutdown race — see
    // GraftSqlBridge.stopStateStores).
    org.apache.spark.sql.GraftSqlBridge.stopStateStores()
    spark.stop()
  }
}
