package graft

import java.sql.DriverManager

import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.JdbcImport

/** S4 legacy DB import, end-to-end against embedded Derby (the one
  * RDBMS on the Spark classpath). Verifies the partitioned JDBC read
  * that replaces the reference's LIMIT/OFFSET paging + manual 10M-id
  * tranches (`bin/stats/import_access_table:101-193`): the id-range
  * split must (a) return every row exactly once, (b) actually produce
  * `numPartitions` concurrent range scans, and (c) cover ids outside
  * [lowerBound, upperBound) via the unbounded first/last stride —
  * Spark's contract that the bounds only shape the stride, not filter. */
class JdbcImportSpec extends AnyFunSuite with SparkSpec {

  private val url = "jdbc:derby:memory:graftdb;create=true"

  override def beforeAll(): Unit = {
    val conn = DriverManager.getConnection(url)
    val st = conn.createStatement()
    st.execute(
      "CREATE TABLE access (accessid BIGINT PRIMARY KEY, " +
        "datestamp_year INT, referent_id INT, service VARCHAR(64))")
    val ins = conn.prepareStatement("INSERT INTO access VALUES (?, ?, ?, ?)")
    // ids deliberately sparse + outside the declared bounds on both
    // ends, mirroring a production table with deleted ranges
    (1 to 1000).foreach { i =>
      ins.setLong(1, i.toLong * 7)
      ins.setInt(2, 2020 + i % 5)
      ins.setInt(3, i % 37)
      ins.setString(4, if (i % 3 == 0) "?fulltext=yes" else "?abstract=yes")
      ins.addBatch()
    }
    ins.executeBatch()
    conn.close()
  }

  override def afterAll(): Unit = {
    // embedded Derby shutdown always throws SQLException by contract
    try DriverManager.getConnection("jdbc:derby:memory:graftdb;drop=true")
    catch { case _: java.sql.SQLException => () }
    super.afterAll()
  }

  test("S4: partitioned id-range read returns every row exactly once") {
    val df = JdbcImport.readAccessTable(spark, url, "access", "accessid",
      lowerBound = 100L, upperBound = 6000L, numPartitions = 4)
    assert(df.rdd.getNumPartitions == 4)
    val ids = df.select("accessid").collect().map(_.getLong(0)).sorted
    assert(ids.length == 1000)
    assert(ids.distinct.length == 1000)
    // rows below lowerBound and above upperBound still arrive (bounds
    // stride, not filter): min id is 7, max is 7000
    assert(ids.head == 7L && ids.last == 7000L)
  }

  test("S4: pushed-down predicate reaches the JDBC source") {
    val df = JdbcImport.readAccessTable(spark, url, "access", "accessid",
      lowerBound = 7L, upperBound = 7000L, numPartitions = 2)
      .filter("datestamp_year = 2021")
    // 1 to 1000, i%5==1 -> 200 rows
    assert(df.count() == 200)
    // the year predicate must appear in the scan's pushed filters, not
    // as a post-scan Spark filter over the full table
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PushedFilters") && scan.contains("DATESTAMP_YEAR"),
      s"expected pushed JDBC filter in scan:\n$scan")
  }
}
