package graft

import graft.app.JdbcSink

/** `JdbcSink` resolves schema-qualified names (`APP.t`) in their own
  * schema: existence, the full-load swap (drop + rename) and the Spark
  * merge fallback, which overwrites through the same swap. */
class JdbcQualifiedNameSpec extends SparkSpec {
  import spark.implicits._

  private val url = "jdbc:derby:memory:graft_qualified;create=true"
  private def sink(extra: Map[String, String] = Map.empty) = new JdbcSink(spark, url,
    extra,
    catalogSql = "SELECT TABLENAME FROM SYS.SYSTABLES WHERE TABLETYPE = 'T'",
    renameSql = (from, to) => s"RENAME TABLE $from TO $to")

  private def withConn[T](f: java.sql.Connection => T): T = {
    val c = java.sql.DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  private def exec(sql: String*): Unit = withConn { c =>
    val st = c.createStatement(); try sql.foreach(st.execute) finally st.close()
  }

  private def rowsOf(table: String): Seq[String] = withConn { c =>
    val st = c.createStatement()
    try {
      val rs = st.executeQuery(s"SELECT * FROM $table")
      val n = rs.getMetaData.getColumnCount
      val out = Seq.newBuilder[String]
      while (rs.next()) out += (1 to n).map(i => rs.getString(i)).mkString("|")
      out.result().sorted
    } finally st.close()
  }

  private def colType(schema: String, table: String, col: String): String = withConn { c =>
    val rs = c.getMetaData.getColumns(null, schema, table, null)
    try {
      var t: String = null
      while (rs.next())
        if (rs.getString("COLUMN_NAME").equalsIgnoreCase(col))
          t = s"${rs.getString("TYPE_NAME")}(${rs.getInt("COLUMN_SIZE")})"
      t
    } finally rs.close()
  }

  private def temps: Seq[String] =
    sink().listTables().filter(_.toLowerCase.contains("_temp_"))

  test("full loads into APP.t create, replace with new DDL, and replace in place") {
    val s = sink()
    s.tableExists("APP.jq") shouldBe false
    s.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "APP.jq")
    s.tableExists("APP.jq") shouldBe true
    s.tableExists("jq") shouldBe true // the current schema is APP
    rowsOf("APP.jq") shouldBe Seq("1|a", "2|b")
    // a new DDL (v becomes VARCHAR) takes drop + rename
    sink(Map("createTableColumnTypes" -> "v VARCHAR(8)"))
      .overwrite(Seq((3L, "c")).toDF("id", "v"), "APP.jq")
    colType("APP", "JQ", "v") shouldBe "VARCHAR(8)"
    rowsOf("APP.jq") shouldBe Seq("3|c")
    // same shape: DELETE + INSERT keeps the table (and a view on it)
    exec("CREATE VIEW jq_view AS SELECT \"id\" FROM APP.jq")
    sink(Map("createTableColumnTypes" -> "v VARCHAR(8)"))
      .overwrite(Seq((4L, "d")).toDF("id", "v"), "APP.jq")
    rowsOf("APP.jq_view") shouldBe Seq("4")
    exec("DROP VIEW jq_view")
    temps shouldBe empty
  }

  test("a same-named table in another schema is not the target") {
    exec("CREATE SCHEMA other", "CREATE TABLE other.jo (\"id\" BIGINT)")
    val s = sink()
    s.tableExists("other.jo") shouldBe true
    s.tableExists("jo") shouldBe false
    s.tableExists("APP.jo") shouldBe false
    s.overwrite(Seq(5L).toDF("id"), "other.jo")
    rowsOf("other.jo") shouldBe Seq("5")
    s.tableExists("APP.jo") shouldBe false
    temps shouldBe empty
  }

  test("the Spark-merge fallback upserts into APP.t through the swap") {
    exec("CREATE TABLE APP.jm (\"id\" BIGINT, \"v\" VARCHAR(20))",
      "INSERT INTO APP.jm VALUES (1, 'a'), (2, 'b')")
    // a wider varchar in the stage: the DDL differs, so the merge runs
    // in Spark and overwrites by drop + rename
    val wide = sink(Map("createTableColumnTypes" -> "v VARCHAR(40)"))
    wide.upsert(wide.read("APP.jm"), Seq((2L, "B"), (3L, "c")).toDF("id", "v"),
      Seq("id"), "APP.jm")
    rowsOf("APP.jm") shouldBe Seq("1|a", "2|B", "3|c")
    colType("APP", "JM", "v") shouldBe "VARCHAR(40)"
    temps shouldBe empty
  }

  test("cleanOrphanTemps drops a stranded stage in another schema; " +
      "a real table there and a non-hex _temp_ name stay") {
    exec("CREATE SCHEMA orph",
      "CREATE TABLE orph.ot (\"id\" BIGINT)",
      "CREATE TABLE orph.ot_temp_0badf00d (\"id\" BIGINT)",
      "CREATE TABLE orph.x_temp_name (\"id\" BIGINT)",
      "CREATE TABLE APP.oy_temp_deadbeef (\"id\" BIGINT)")
    val s = sink()
    s.cleanOrphanTemps().map(_.toLowerCase) should contain allOf (
      "orph.ot_temp_0badf00d", "oy_temp_deadbeef")
    s.tableExists("orph.ot_temp_0badf00d") shouldBe false
    s.tableExists("APP.oy_temp_deadbeef") shouldBe false
    s.tableExists("orph.ot") shouldBe true
    s.tableExists("orph.x_temp_name") shouldBe true
    exec("DROP TABLE orph.x_temp_name", "DROP TABLE orph.ot")
  }
}
