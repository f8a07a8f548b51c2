package graft

import graft.app.{JdbcSink, Main}
import graft.model.UserException
import graft.operators.Load
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._

/** The JDBC sink's in-database incremental merge (`JdbcSink.upsert`):
  * only the delta travels to a stage table, and DELETE … WHERE EXISTS +
  * INSERT … SELECT apply it in one transaction. Checked against the
  * Spark merge it replaces (randomized differential), for in-place
  * semantics (row-level trigger audit, dependent view), atomicity
  * (a failing INSERT rolls the DELETE back), catalog-spelled keys, the
  * schema-drift fallback, and stage cleanup when the stage write fails.
  * Runs in its own in-memory Derby database. */
class JdbcMergeSpec extends SparkSpec {
  import spark.implicits._

  private val url = "jdbc:derby:memory:graft_merge;create=true"
  private def sink(props: Map[String, String] = Map.empty) =
    new JdbcSink(spark, url, props,
      catalogSql = "SELECT TABLENAME FROM SYS.SYSTABLES WHERE TABLETYPE = 'T'",
      renameSql = (from, to) => s"RENAME TABLE $from TO $to")

  private def withConn[T](f: java.sql.Connection => T): T = {
    val c = java.sql.DriverManager.getConnection(url)
    try f(c) finally c.close()
  }
  private def exec(sqls: String*): Unit = withConn { c =>
    val st = c.createStatement()
    try sqls.foreach(st.execute) finally st.close()
  }
  /** Every row of `sql` as one string, sorted: a multiset compare. */
  private def rowsOf(sql: String): Seq[String] = withConn { c =>
    val st = c.createStatement()
    try {
      val rs = st.executeQuery(sql)
      val n = rs.getMetaData.getColumnCount
      val buf = Seq.newBuilder[String]
      while (rs.next())
        buf += (1 to n).map(i => Option(rs.getString(i)).getOrElse("null")).mkString("|")
      buf.result().sorted
    } finally st.close()
  }
  private def countOf(table: String): Int = rowsOf(s"SELECT * FROM $table").size
  private def temps(s: JdbcSink): Seq[String] =
    s.listTables().filter(_.toLowerCase.contains("_temp_"))
  /** An audit table fed one row per row INSERTed into `table`. */
  private def auditInserts(table: String): String = {
    val audit = s"${table}_aud"
    exec(s"CREATE TABLE $audit (n INT)",
      s"CREATE TRIGGER ${table}_trg AFTER INSERT ON $table " +
        s"FOR EACH ROW INSERT INTO $audit VALUES (1)")
    audit
  }

  /** (k1, k2, v) rows of the differential. */
  private type R = (Option[Int], String, String)

  test("push-down equals the Spark merge: randomized differential") {
    // a VARCHAR key part: Spark's default string DDL in Derby is CLOB,
    // which Derby cannot compare (such keys take the Spark merge).
    // NULL key parts ride in the INTEGER k1 — Spark binds a NULL string
    // as CLOB, which a Derby VARCHAR column rejects
    val s = sink(Map("createTableColumnTypes" -> "k2 VARCHAR(4)"))
    for (seed <- Seq(7L, 11L); pk <- Seq(Seq("k1"), Seq("k1", "k2"))) {
      val rnd = new scala.util.Random(seed)
      def k2() = Seq("a", "b")(rnd.nextInt(2))
      def v() = s"v${rnd.nextInt(1000)}"
      // base: unique non-NULL keys plus NULL-key rows that must survive
      val base: Seq[R] = (0 until 30).map(i => (Some(i), "a", v())) ++
        Seq((None, "a", "n1"), (None, "b", "n2"))
      val tag = s"d${seed}_${pk.size}"
      val (a, b) = (s"${tag}_pd", s"${tag}_sp")
      Seq(a, b).foreach(t => s.overwrite(base.toDF("k1", "k2", "v"), t))
      val audit = auditInserts(a)
      val deltas: Seq[(String, Seq[R])] = Seq(
        "empty" -> Nil,
        "no-op" -> base.take(5),
        "insert-only" -> (100 until 110).map(i => (Some(i), "a", v())),
        "update-only" -> (0 until 30 by 3).map(i => (Some(i), "a", v())),
        // duplicate staged keys, NULL keys, new and matched keys
        "mixed" -> (0 until 40).map { _ =>
          (if (rnd.nextInt(6) == 0) None else Some(rnd.nextInt(40)), k2(), v())
        })
      deltas.foreach { case (kind, rows) =>
        val delta = rows.toDF("k1", "k2", "v")
        exec(s"DELETE FROM $audit")
        s.upsert(s.read(a), delta, pk, a)
        s.overwrite(Load.upsert(s.read(b), delta, pk), b)
        withClue(s"seed $seed, pk $pk, $kind delta: ") {
          rowsOf(s"SELECT * FROM $a") shouldBe rowsOf(s"SELECT * FROM $b")
          countOf(audit) shouldBe rows.size // merged in place
        }
      }
    }
    temps(s) shouldBe empty
  }

  test("engine upsert ships only the delta: trigger audit, dependent view") {
    val dir = Files.createTempDirectory("graft-jdbc-merge").toString
    Files.createDirectories(Paths.get(s"$dir/in/tables"))
    def job(incremental: Boolean, rows: Seq[(Int, String)]): Unit = {
      Files.writeString(Paths.get(s"$dir/config.json"),
        s"""{"parameters": {"tables": [{"tableId": "t", "dbName": "jaud",
           | "incremental": $incremental, "primaryKey": ["id"], "items": [
           |  {"name": "id", "dbName": "id", "type": "int"},
           |  {"name": "name", "dbName": "name", "type": "nvarchar", "size": "255"}
           |]}]}}""".stripMargin)
      Files.writeString(Paths.get(s"$dir/in/tables/t.csv"),
        "\"id\",\"name\"\n" +
          rows.map { case (i, n) => s""""$i","$n"""" }.mkString("\n") + "\n")
      val (code, out) = Main.execute(spark, sink(), dir)
      code shouldBe 0
      out.get should include(""""uploaded":["t"]""")
    }
    val n = 20
    job(incremental = false, (1 to n).map(i => (i, s"n$i")))
    exec("CREATE VIEW jaud_view AS SELECT \"id\" FROM jaud")
    val audit = auditInserts("jaud")
    val delta = Seq((3, "u3"), (7, "u7"), (9, "u9"), (21, "i21"), (22, "i22"))
    job(incremental = true, delta)
    // exactly the d delta rows were inserted — no target row travelled
    countOf(audit) shouldBe delta.size
    val want = ((1 to n).map(i => (i, s"n$i")).toMap ++ delta).toSeq
    rowsOf("SELECT * FROM jaud") shouldBe
      want.map { case (i, v) => s"$i|$v" }.sorted
    countOf("jaud_view") shouldBe n + 2 // the table was never dropped
    temps(sink()) shouldBe empty
  }

  test("a failing INSERT rolls the DELETE back; scrubbed UserException") {
    // the constraint is NAMED like the secret, so the driver's violation
    // message carries it and the scrubber has something to mask
    exec("CREATE TABLE jchk (\"id\" BIGINT, \"v\" BIGINT, " +
      "CONSTRAINT SECRETPW CHECK (\"v\" >= 0))",
      "INSERT INTO jchk VALUES (1, 10), (2, 20), (3, 30)")
    val before = rowsOf("SELECT * FROM jchk")
    val s = sink(Map("password" -> "SECRETPW"))
    // key 2 is DELETEd first; then the INSERT violates on key 4
    val delta = Seq((2L, 200L), (4L, -1L)).toDF("id", "v")
    val e = intercept[UserException](s.upsert(s.read("jchk"), delta, Seq("id"), "jchk"))
    e.getMessage should include("merge failed for table 'jchk'")
    e.getMessage should include("*****")
    e.getMessage should not include "SECRETPW"
    rowsOf("SELECT * FROM jchk") shouldBe before
    // a failed merge keeps its stage (named in the message) for recovery
    temps(s) should have size 1
    s.cleanOrphanTemps() should have size 1
  }

  test("unquoted target columns merge in place by their catalog spelling") {
    // Derby folds unquoted names to upper case (ID, V); the staged
    // frame's columns are lower case
    exec("CREATE TABLE jupper (id BIGINT, v BIGINT)",
      "INSERT INTO jupper VALUES (1, 10), (2, 20), (3, 30)")
    val audit = auditInserts("jupper")
    val s = sink()
    s.upsert(s.read("jupper"), Seq((2L, 21L), (4L, 40L)).toDF("id", "v"),
      Seq("id"), "jupper")
    // schema-qualified name: the key predicate is qualified the same way
    s.upsert(s.read("APP.jupper"), Seq((3L, 31L)).toDF("id", "v"),
      Seq("id"), "APP.jupper")
    rowsOf("SELECT * FROM jupper") shouldBe Seq("1|10", "2|21", "3|31", "4|40")
    countOf(audit) shouldBe 3
    temps(s) shouldBe empty
  }

  test("DDL drift and CLOB keys take the Spark merge: widened varchar, allowAddColumns") {
    def colWidth(table: String, col: String): Int = withConn { c =>
      val rs = c.getMetaData.getColumns(null, null, table.toUpperCase, null)
      try {
        var w = -1
        while (rs.next())
          if (rs.getString("COLUMN_NAME").equalsIgnoreCase(col))
            w = rs.getInt("COLUMN_SIZE")
        w
      } finally rs.close()
    }
    exec("CREATE TABLE jwide (\"id\" BIGINT, \"v\" VARCHAR(20))",
      "INSERT INTO jwide VALUES (1, 'a'), (2, 'b')")
    val wide = sink(Map("createTableColumnTypes" -> "v VARCHAR(40)"))
    wide.upsert(wide.read("jwide"), Seq((2L, "B"), (3L, "c")).toDF("id", "v"),
      Seq("id"), "jwide")
    colWidth("jwide", "v") shouldBe 40 // the new DDL landed (drop+rename)
    rowsOf("SELECT * FROM jwide") shouldBe Seq("1|a", "2|B", "3|c")

    // a CLOB key (Spark's default string DDL in Derby) cannot be
    // compared in SQL: same shape, but the Spark merge runs
    val s = sink()
    s.overwrite(Seq(("a", 1L), ("b", 2L)).toDF("k", "v"), "jclobkey")
    s.upsert(s.read("jclobkey"), Seq(("b", 20L), ("c", 3L)).toDF("k", "v"),
      Seq("k"), "jclobkey")
    rowsOf("SELECT * FROM jclobkey") shouldBe Seq("a|1", "b|20", "c|3")

    // added nullable column through the engine: the stage has one more
    // column than the target, so the Spark merge NULL-fills history
    val dir = Files.createTempDirectory("graft-jdbc-drift").toString
    Files.createDirectories(Paths.get(s"$dir/in/tables"))
    val item = """{"name": "%1$s", "dbName": "%1$s", "type": "nvarchar", "size": "255", "nullable": true}"""
    def job(cols: Seq[String], extra: String, rows: Seq[Seq[String]]): Int = {
      val items = ("""{"name": "id", "dbName": "id", "type": "int"}""" +:
        cols.map(c => item.format(c))).mkString(",")
      Files.writeString(Paths.get(s"$dir/config.json"),
        s"""{"parameters": {"tables": [{"tableId": "t", "dbName": "jdrift",
           | "primaryKey": ["id"]$extra, "items": [$items]}]}}""".stripMargin)
      Files.writeString(Paths.get(s"$dir/in/tables/t.csv"),
        (("id" +: cols) +: rows).map(_.map(x => s""""$x"""").mkString(","))
          .mkString("\n") + "\n")
      Main.execute(spark, sink(), dir)._1
    }
    job(Seq("name"), "", Seq(Seq("1", "a"), Seq("2", "b"))) shouldBe 0
    // without the flag the same drift fails loudly, target untouched
    job(Seq("name", "mood"), """, "incremental": true""",
      Seq(Seq("2", "B", "calm"))) should not be 0
    rowsOf("SELECT * FROM jdrift") shouldBe Seq("1|a", "2|b")
    job(Seq("name", "mood"), """, "incremental": true, "allowAddColumns": true""",
      Seq(Seq("2", "B", "calm"), Seq("3", "c", "sunny"))) shouldBe 0
    rowsOf("SELECT * FROM jdrift") shouldBe Seq("1|a|null", "2|B|calm", "3|c|sunny")
    temps(sink()) shouldBe empty
  }

  test("a stage write that fails inside a task strands no _temp_ table") {
    val s = sink()
    val good = (1L to 6L).map(i => (i, s"v$i")).toDF("id", "v")
    val failing = good.withColumn("v",
      when(col("id") === 3L, raise_error(lit("boom"))).otherwise(col("v")))
    an[Exception] should be thrownBy s.overwrite(failing, "jfail")
    temps(s) shouldBe empty
    s.overwrite(good, "jfail")
    an[Exception] should be thrownBy s.upsert(s.read("jfail"), failing, Seq("id"), "jfail")
    temps(s) shouldBe empty
    countOf("jfail") shouldBe 6
  }
}
