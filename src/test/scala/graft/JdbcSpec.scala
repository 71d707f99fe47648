package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Jdbc

/** JDBC round trip through embedded Derby (the one JDBC engine on Spark's
  * classpath — /opt/spark/jars/derby-10.16): write a DataFrame to a table,
  * read it back range-partitioned, compare. Mirrors the reference's
  * MySQL landing table (lambda_function.py:21-32) modulo the URL.
  */
class JdbcSpec extends AnyFunSuite {
  import TestSpark._

  private val dbDir = tmpDir("graft-derby")
  private val url = s"jdbc:derby:$dbDir/graftdb;create=true"
  private val driver = "org.apache.derby.jdbc.EmbeddedDriver"

  test("jdbc write + partitioned read round-trips rows and schema") {
    import spark.implicits._
    // derby.log otherwise lands in the project root
    System.setProperty("derby.system.home", dbDir)

    val src = (1 to 100).map(i => (i.toLong, s"sym$i", i * 1.5)).toDF("id", "symbol", "price")
    Jdbc.write(src, url, "ticks", Jdbc.props(driver), SaveMode.Overwrite, batchSize = 32)

    val back = Jdbc.read(spark, url, "ticks", Jdbc.props(driver),
      partitionColumn = "id", lowerBound = 1L, upperBound = 100L, numPartitions = 4)
    assert(back.rdd.getNumPartitions == 4) // genuinely parallel scan
    assert(back.count() == 100)

    // values survive the trip (Derby maps String -> CLOB; compare as string)
    val got = back.select($"id", $"symbol".cast("string"), $"price")
      .as[(Long, String, Double)].collect().sortBy(_._1)
    assert(got.head == (1L, "sym1", 1.5) && got.last == (100L, "sym100", 150.0))

    // pushed filter reaches the database: a bounded read returns the slice
    val slice = back.filter($"id" <= 10).count()
    assert(slice == 10)
  }

  test("jdbc filter pushdown reaches the database scan (PushedFilters in plan)") {
    import spark.implicits._
    System.setProperty("derby.system.home", dbDir)
    val src = (1 to 50).map(i => (i.toLong, i * 2.0)).toDF("id", "price")
    Jdbc.write(src, url, "ticks_push", Jdbc.props(driver), SaveMode.Overwrite)
    val filtered = Jdbc.read(spark, url, "ticks_push", Jdbc.props(driver),
      partitionColumn = "id", lowerBound = 1L, upperBound = 50L, numPartitions = 4)
      .filter($"id" <= 10)
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters"), s"no PushedFilters in JDBC scan:\n$plan")
    assert(plan.contains("LessThanOrEqual(id,10)") || plan.contains("LessThanOrEqual(ID,10)"),
      s"id<=10 not pushed to the database:\n$plan")
    assert(filtered.count() == 10)
  }

  test("jdbc V2 catalog pushes filters; limit pushdown is a dialect capability") {
    import spark.implicits._
    System.setProperty("derby.system.home", dbDir)
    val src = (1 to 50).map(i => (i.toLong, i * 2.0)).toDF("id", "price")
    Jdbc.write(src, url, "ticks_v2", Jdbc.props(driver), SaveMode.Overwrite)
    // the DSv2 JDBC catalog is where LIMIT pushdown lives (V1 scans push
    // only filters); a MySQL endpoint differs only in url/driver here too.
    // The catalog lives on a clone, so the shared session never names it
    obs.Sessions.withConf(spark,
        "spark.sql.catalog.graftdb" ->
          "org.apache.spark.sql.execution.datasources.v2.jdbc.JDBCTableCatalog",
        "spark.sql.catalog.graftdb.url" -> url,
        "spark.sql.catalog.graftdb.driver" -> driver,
        "spark.sql.catalog.graftdb.pushDownLimit" -> "true") { c =>
      // Derby folds unquoted identifiers to upper case and puts V1-written
      // tables in the default APP schema (the V2 catalog's namespace)
      val df = c.sql(
        "SELECT ID, PRICE FROM graftdb.APP.TICKS_V2 WHERE ID <= 10 LIMIT 5")
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters") && plan.contains("id <= 10"),
        s"filter not pushed through the V2 JDBC scan:\n$plan")
      assert(df.count() == 5)
      // LIMIT pushdown is gated on the dialect emitting a LIMIT clause:
      // Derby SQL has none (FETCH FIRST only), so its dialect refuses and
      // the plan above keeps CollectLimit; MySQL — the reference's store —
      // advertises both LIMIT and OFFSET pushdown, so on a real endpoint
      // the same query ships `... WHERE id <= 10 LIMIT 5` to the database.
      import org.apache.spark.sql.jdbc.JdbcDialects
      assert(!JdbcDialects.get(url).supportsLimit,
        "Derby unexpectedly claims LIMIT support — strengthen this pin to PushedLimit")
      val mysql = JdbcDialects.get(graft.sources.Jdbc.mysqlUrl("localhost"))
      assert(mysql.supportsLimit && mysql.supportsOffset)
    }
  }

  test("mysql endpoint is config-only: dialect resolves from the URL") {
    import org.apache.spark.sql.jdbc.JdbcDialects
    val mysqlish = Jdbc.mysqlUrl("localhost") // jdbc:mysql://localhost:3306/binance
    val dialect = JdbcDialects.get(mysqlish)
    assert(dialect.getClass.getName.toLowerCase.contains("mysql"),
      s"URL did not resolve the MySQL dialect: ${dialect.getClass.getName}")
    // `time` is a column in the reference DDL — quoting must be backticks
    assert(dialect.quoteIdentifier("time") == "`time`")
    // tinyint (the DDL's `maker`) arrives as a 1-byte integral, not boolean:
    // the 0/1 conversion is the model's job at the edge
    val md = new org.apache.spark.sql.types.MetadataBuilder
    md.putBoolean("isSigned", true) // the DDL's plain `tinyint` is signed
    val tiny = dialect.getCatalystType(java.sql.Types.TINYINT, "TINYINT", 1, md)
    assert(tiny.contains(org.apache.spark.sql.types.ByteType), s"tinyint mapped to $tiny")
    // the DDL helper names every model column in order
    val ddl = Jdbc.btcusdtCreateMysqlDdl()
    graft.model.Tables.btcusdtSchema.fields.foreach(f =>
      assert(ddl.contains(f.name), s"DDL missing ${f.name}"))
  }

  test("jdbc append mode accumulates batches exactly once each") {
    import spark.implicits._
    // self-seeding (own table) so this test does not depend on the previous
    // test having run or on suite execution order
    val seed = Seq((1L, "a", 1.0)).toDF("id", "symbol", "price")
    Jdbc.write(seed, url, "ticks_append", Jdbc.props(driver), SaveMode.Overwrite)
    val batch = Seq((2L, "late", 9.99)).toDF("id", "symbol", "price")
    Jdbc.write(batch, url, "ticks_append", Jdbc.props(driver), SaveMode.Append)
    val n = Jdbc.read(spark, url, "ticks_append", Jdbc.props(driver), "id", 1L, 2L, 2)
      .count()
    assert(n == 2)
  }
}
