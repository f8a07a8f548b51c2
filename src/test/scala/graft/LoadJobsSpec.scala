package graft

import graft.app.{JdbcSink, Main, ParquetSink, TableSink}
import java.nio.file.{Files, Paths}

/** A clean load runs only the Spark jobs that move its data: no header
  * job, no strict pre-scan, no schema-inference or target-probe work.
  * Jobs are counted by a listener on the load's own job group; the
  * JDBC probes (which are not Spark jobs) through Derby's statement
  * cache. */
class LoadJobsSpec extends SparkSpec {

  private val url = "jdbc:derby:memory:graft_jobs;create=true"
  private def jdbcSink = new JdbcSink(spark, url,
    Map("partitionColumn" -> "id", "numPartitions" -> "4"),
    catalogSql = "SELECT TABLENAME FROM SYS.SYSTABLES WHERE TABLETYPE = 'T'",
    renameSql = (from, to) => s"RENAME TABLE $from TO $to",
    splitProbeSql = (table, q, off) =>
      s"SELECT $q FROM $table WHERE $q IS NOT NULL " +
        s"ORDER BY $q OFFSET $off ROWS FETCH NEXT 1 ROWS ONLY")

  private def exec(sql: String): Unit = {
    val c = java.sql.DriverManager.getConnection(url)
    try { val st = c.createStatement(); try st.execute(sql) finally st.close() }
    finally c.close()
  }

  /** Statements Derby compiled since the cache was last emptied. */
  private def cachedStatements(): Seq[String] = {
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      try {
        val rs = st.executeQuery("SELECT SQL_TEXT FROM SYSCS_DIAG.STATEMENT_CACHE")
        val out = Seq.newBuilder[String]
        while (rs.next()) out += rs.getString(1)
        out.result()
      } finally st.close()
    } finally c.close()
  }

  private def job(dir: String, incremental: Boolean, ids: Range): Unit = {
    Files.writeString(Paths.get(s"$dir/config.json"),
      s"""{"parameters": {"tables": [{"tableId": "src", "dbName": "tj",
         | "primaryKey": ["id"], "incremental": $incremental, "items": [
         |  {"name": "id", "dbName": "id", "type": "bigint"},
         |  {"name": "qty", "dbName": "qty", "type": "int"},
         |  {"name": "day", "dbName": "day", "type": "date"},
         |  {"name": "note", "dbName": "note", "type": "varchar", "size": "20", "nullable": true}
         |]}]}}""".stripMargin)
    Files.writeString(Paths.get(s"$dir/in/tables/src.csv"),
      ("\"id\",\"qty\",\"day\",\"note\"" +: ids.map(i =>
        s""""$i","${i % 7}","2021-03-1${i % 10}",${if (i % 3 == 0) "NULL" else s""""n$i""""}"""))
        .mkString("", "\n", "\n"))
  }

  /** Spark jobs a clean `run` starts. */
  private def jobsOfRun(sink: TableSink, dir: String): Int =
    LoadJobsSpec.jobsDuring(spark) {
      withClue(dir) { Main.execute(spark, sink, dir)._1 shouldBe 0 }
    }._2

  private def newDir(): String = {
    val dir = Files.createTempDirectory("graft-jobs").toString
    Files.createDirectories(Paths.get(s"$dir/in/tables"))
    dir
  }

  test("a clean single-file Parquet full load runs one job: the write") {
    val dir = newDir()
    val sink = new ParquetSink(spark, s"$dir/out/tables")
    job(dir, incremental = false, 1 to 200)
    jobsOfRun(sink, dir) shouldBe 1
    sink.read("tj").count() shouldBe 200
    // a replace into an existing target: still only the write
    job(dir, incremental = false, 1 to 50)
    jobsOfRun(sink, dir) shouldBe 1
    sink.read("tj").count() shouldBe 50
    sink.listTables() shouldBe Seq("tj")
  }

  test("a clean JDBC push-down upsert runs only its stage write, no target probes") {
    val dir = newDir()
    val sink = jdbcSink
    job(dir, incremental = false, 1 to 200)
    jobsOfRun(sink, dir) shouldBe 1
    exec("CALL SYSCS_UTIL.SYSCS_EMPTY_STATEMENT_CACHE()")
    job(dir, incremental = true, 190 to 210)
    jobsOfRun(sink, dir) shouldBe 1
    val probes = cachedStatements().filter(s =>
      s.contains("MIN(") || s.contains("COUNT(") || s.contains("OFFSET"))
    probes shouldBe empty
    // the merge landed (11 updated, 10 new keys) and left no stage
    sink.read("tj").count() shouldBe 210
    sink.listTables().filter(_.toLowerCase.contains("_temp_")) shouldBe empty
    // control: a partitioned read does probe, and the cache shows it
    sink.read("tj")
    cachedStatements().exists(_.contains("MIN(")) shouldBe true
  }
}

object LoadJobsSpec {
  /** `f`'s result and the Spark jobs it started, counted by a listener
    * on a job group of its own (set on this thread for the call). */
  def jobsDuring[T](spark: org.apache.spark.sql.SparkSession)(f: => T): (T, Int) = {
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.properties != null &&
            js.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, "counted")
    try {
      val r = f
      (r, graft.tools.QueryProfile.awaitStable(jobs.get()))
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }
}
