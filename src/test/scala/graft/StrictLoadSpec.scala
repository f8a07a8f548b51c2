package graft

import graft.app.{JdbcSink, Main, ParquetSink, TableSink}
import graft.model.{ConfigParser, UserException}
import graft.sources.CsvIngest
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame

/** Strict (COPY-semantics) loads check their input inside the staging
  * write. A violation must end exactly as the eager check does — the
  * same "Column 'x', line N: …" message and exit 1 — on both sinks, for
  * full and incremental loads, in one write attempt, with the target
  * unchanged and no staging residue. */
class StrictLoadSpec extends SparkSpec {
  import spark.implicits._

  private val url = "jdbc:derby:memory:graft_strict;create=true"
  private def jdbcSink = new JdbcSink(spark, url,
    Map("partitionColumn" -> "id", "numPartitions" -> "2"),
    catalogSql = "SELECT TABLENAME FROM SYS.SYSTABLES WHERE TABLETYPE = 'T'",
    renameSql = (from, to) => s"RENAME TABLE $from TO $to")

  /** Counts the write attempts the engine makes through the sink. */
  private final class Counting(inner: TableSink) extends TableSink {
    val writes = new java.util.concurrent.atomic.AtomicInteger(0)
    def ping(): Unit = inner.ping()
    def tableExists(name: String): Boolean = inner.tableExists(name)
    def read(name: String): DataFrame = inner.read(name)
    override def schema(name: String) = inner.schema(name)
    def overwrite(df: DataFrame, name: String): Unit = {
      writes.incrementAndGet(); inner.overwrite(df, name)
    }
    override def upsert(target: => DataFrame, delta: DataFrame,
                        pk: Seq[String], name: String): Unit = {
      writes.incrementAndGet(); inner.upsert(target, delta, pk, name)
    }
    def listTables(): Seq[String] = inner.listTables()
  }

  private val items =
    """"items": [
      |  {"name": "id", "dbName": "id", "type": "bigint"},
      |  {"name": "qty", "dbName": "qty", "type": "int"},
      |  {"name": "day", "dbName": "day", "type": "date", "nullable": true},
      |  {"name": "note", "dbName": "note", "type": "varchar", "size": "20", "nullable": true}
      |]""".stripMargin

  private val header = "\"id\",\"qty\",\"day\",\"note\""
  private val cleanRows = (1 to 6).map(i => s""""$i","${i * 10}","2020-01-0$i","n$i"""")

  /** Bad inputs and the message the eager check gives for each (also
    * asserted against the eager check itself below). */
  private val bad: Seq[(String, Seq[String], String)] = Seq(
    ("cast", Seq(""""7","70","2020-02-01","a"""", """"8","x1","2020-02-02","b""""),
      "Column 'qty', line 3: Invalid digit, Value 'x1', type int"),
    // two offenders: the declared column order wins over the line order
    ("notnull over an earlier bad date",
      Seq(""""7","70","2020-13","a"""", """NULL,"80",NULL,"b""""),
      "Column 'id', line 3: Missing data for not-null field"))

  private def job(dir: String, incremental: Boolean, rows: Seq[String]): Unit = {
    Files.writeString(Paths.get(s"$dir/config.json"),
      s"""{"parameters": {"tables": [{"tableId": "src", "dbName": "tt",
         | "primaryKey": ["id"], "incremental": $incremental, $items}]}}""".stripMargin)
    Files.writeString(Paths.get(s"$dir/in/tables/src.csv"),
      (header +: rows).mkString("", "\n", "\n"))
  }

  /** (exit code, stderr) of one CLI run. */
  private def execute(sink: TableSink, dir: String): (Int, String) = {
    val err = new java.io.ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
    val code = try Main.execute(spark, sink, dir)._1 finally System.setErr(saved)
    (code, err.toString("UTF-8"))
  }

  private def eagerMessage(dir: String): String = {
    val table = ConfigParser.parseFile(s"$dir/config.json").tables.head
    intercept[UserException](CsvIngest.castAndProjectStrict(
      CsvIngest.read(spark, s"$dir/in/tables/src.csv", table), table)).getMessage
  }

  private def content(sink: TableSink): Seq[String] =
    sink.read("tt").selectExpr("concat_ws('|', *)").as[String].collect().toSeq.sorted

  private def checkLane(label: String, base: String => TableSink,
                        residue: (String, TableSink) => Seq[String]): Unit =
    Seq(false, true).foreach { incremental =>
      bad.foreach { case (what, rows, want) =>
        withClue(s"$label, incremental=$incremental, $what: ") {
          val dir = Files.createTempDirectory("graft-strict").toString
          Files.createDirectories(Paths.get(s"$dir/in/tables"))
          val inner = base(dir)
          job(dir, incremental = false, cleanRows)
          Main.execute(spark, inner, dir)._1 shouldBe 0
          val before = content(inner)
          job(dir, incremental, rows)
          eagerMessage(dir) shouldBe want
          val sink = new Counting(inner)
          val (code, err) = execute(sink, dir)
          code shouldBe 1
          err should include(want)
          sink.writes.get shouldBe 1 // one attempt, never retried
          content(inner) shouldBe before
          residue(dir, inner) shouldBe empty
        }
      }
    }

  test("Parquet sink: strict failures match the eager check, full and incremental") {
    checkLane("parquet", dir => new ParquetSink(spark, s"$dir/out/tables"),
      (dir, _) => Files.list(Paths.get(s"$dir/out/tables")).toArray.toSeq
        .map(_.toString).filter(_.contains("__stage_")))
  }

  test("JDBC sink: strict failures match the eager check, full and incremental") {
    // each case's clean full load replaces the previous case's target
    checkLane("jdbc", _ => jdbcSink,
      (_, s) => s.listTables().filter(_.toLowerCase.contains("_temp_")))
  }

  test("sliced (headerless) input numbers lines from 1, like the eager check") {
    val dir = Files.createTempDirectory("graft-strict-sliced").toString
    Files.createDirectories(Paths.get(s"$dir/in/tables/src.csv"))
    Files.writeString(Paths.get(s"$dir/config.json"),
      s"""{"parameters": {"tables": [{"tableId": "src", "dbName": "tsliced",
         | "primaryKey": ["id"], $items}]}}""".stripMargin)
    Files.writeString(Paths.get(s"$dir/in/tables/src.csv/part-0.csv"),
      "\"1\",\"10\",NULL,\"a\"\n\"2\",\"2x\",NULL,\"b\"\n")
    val sink = new Counting(new ParquetSink(spark, s"$dir/out/tables"))
    val (code, err) = execute(sink, dir)
    code shouldBe 1
    err should include("Column 'qty', line 2: Invalid digit, Value '2x', type int")
    sink.writes.get shouldBe 1
    sink.tableExists("tsliced") shouldBe false
  }

  test("ParquetSink.overwrite removes its stage directory when the write fails") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft-stage").toString
    val sink = new ParquetSink(spark, dir)
    val good = (1L to 6L).map(i => (i, s"v$i")).toDF("id", "v")
    sink.overwrite(good, "pt")
    val failing = good.withColumn("v",
      when(col("id") === 3L, raise_error(lit("boom"))).otherwise(col("v")))
    an[Exception] should be thrownBy sink.overwrite(failing, "pt")
    sink.listTables() shouldBe Seq("pt")
    // failing in a shuffle stage, after the write job set up its output
    an[Exception] should be thrownBy sink.overwrite(
      graft.operators.Load.upsert(sink.read("pt"), failing, Seq("id")), "pt")
    sink.listTables() shouldBe Seq("pt")
    sink.read("pt").count() shouldBe 6
  }
}
