package graft

import graft.sources.CsvIngest
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** `CsvIngest.headerColumns` reads a single file's header on the driver,
  * without a Spark job; it must name the columns exactly as Spark's own
  * CSV reader (same dialect) does: BOM, gzip, duplicate, empty and
  * `NULL` names, quoted delimiters and newlines. */
class CsvHeaderSpec extends SparkSpec {

  private lazy val dir = Files.createTempDirectory("graft-header")

  private def file(name: String, content: String): String = {
    val p = dir.resolve(name)
    Files.write(p, content.getBytes(UTF_8))
    p.toString
  }

  private def gzip(name: String, content: String): String = {
    val p = dir.resolve(name)
    val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(p))
    try out.write(content.getBytes(UTF_8)) finally out.close()
    p.toString
  }

  private def sparkHeader(path: String): Seq[String] =
    CsvIngest.reader(spark, header = true).csv(path).columns.toSeq

  private val fixtures: Seq[(String, () => String)] = Seq(
    "plain quoted" -> (() => file("plain.csv", "\"id\",\"name\",\"glasses\"\n\"1\",\"a\",\"no\"\n")),
    "unquoted" -> (() => file("unquoted.csv", "id,name\n1,a\n")),
    "BOM" -> (() => file("bom.csv", "\uFEFF\"id\",\"name\"\n\"1\",\"a\"\n")),
    "BOM unquoted" -> (() => file("bom2.csv", "\uFEFFid,name\n1,a\n")),
    "gzip" -> (() => gzip("zipped.csv.gz", "\"id\",\"name\"\n\"1\",\"a\"\n")),
    "duplicates (case-insensitive)" -> (() => file("dup.csv", "a,b,A,a,c\n1,2,3,4,5\n")),
    "empty and NULL names" -> (() => file("blank.csv", "a,,NULL,\"\",b\n1,2,3,4,5\n")),
    "quoted newline and delimiter" ->
      (() => file("nl.csv", "\"multi\nline\",\"with, comma\",\"x\"\"y\"\n1,2,3\n")),
    "CRLF line ends" -> (() => file("crlf.csv", "id,name\r\n1,a\r\n")),
    "spaces kept" -> (() => file("space.csv", " id , name \n1,2\n")),
    "header only" -> (() => file("only.csv", "\"id\",\"name\"\n")),
    "empty file" -> (() => file("empty.csv", "")))

  fixtures.foreach { case (what, mk) =>
    test(s"header names match Spark's reader: $what") {
      val path = mk()
      val (got, jobs) = LoadJobsSpec.jobsDuring(spark)(CsvIngest.headerColumns(spark, path))
      got shouldBe sparkHeader(path)
      jobs shouldBe 0
    }
  }

  test("the names themselves: safe-header rules and a stripped BOM") {
    CsvIngest.headerColumns(spark, file("dup2.csv", "a,b,A,a,c\n")) shouldBe
      Seq("a0", "b", "A2", "a3", "c")
    CsvIngest.headerColumns(spark, file("blank2.csv", "a,,NULL,b\n")) shouldBe
      Seq("a", "_c1", "_c2", "b")
    CsvIngest.headerColumns(spark, file("bom3.csv", "\uFEFF\"id\",\"v\"\n")) shouldBe
      Seq("id", "v")
  }

  test("a directory keeps the Spark read") {
    val sub: Path = Files.createDirectories(dir.resolve("sliced"))
    Files.writeString(sub.resolve("part-0.csv"), "id,name\n1,a\n")
    CsvIngest.headerColumns(spark, sub.toString) shouldBe sparkHeader(sub.toString)
  }
}
