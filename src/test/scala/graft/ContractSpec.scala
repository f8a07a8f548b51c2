package graft
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Driver-contract invariants: no key collisions across the query maps
  * (Map ++ silently overwrites), every oracle references a real query,
  * and every query is total-ordered for the hash compare. */
class ContractSpec extends AnyFunSuite with Matchers {
  test("query names are unique across all query groups") {
    val groups = Seq(
      graft.queries.RelationalQueries.queries.keySet,
      graft.queries.AnalyticsQueries.queries.keySet,
      graft.queries.TextQueries.queries.keySet,
      graft.queries.PipelineQueries.queries.keySet)
    val all = groups.flatten
    all.size shouldBe all.toSet.size
    SparkEntry.queries.size shouldBe all.size
  }

  test("every oracle key names an implemented query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    missing shouldBe empty
  }

  test("rows-only reasons cover EXACTLY the oracle-less queries") {
    val oracleLess = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    val declared = SparkEntry.rowsOnlyReasons.keySet
    withClue("undeclared rows-only queries (add a reason or an oracle): ") {
      (oracleLess -- declared) shouldBe empty
    }
    withClue("stale reasons (query gained an oracle or was removed): ") {
      (declared -- oracleLess) shouldBe empty
    }
  }

  test("oracle SQL is syntactically ordered (ends with ORDER BY)") {
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      withClue(name) {
        sql.toUpperCase.split("ORDER BY").length should be >= 2
      }
    }
  }

  test("only graft.state.FoldStore parses version-dir names") {
    // the version-chain layout (`v<id>`, `b<id>`, `d<id>`) is decided
    // once, in FoldStore; a second parser re-forks the protocol
    val shape = """startsWith\("v"\)|drop\(1\)\.(forall\(_\.isDigit\)|toLong)""".r
    val root = java.nio.file.Paths.get("src/main/scala")
    val owner = root.resolve("graft/state/FoldStore.scala")
    val files = java.nio.file.Files.walk(root).iterator()
    val offenders = Seq.newBuilder[String]
    while (files.hasNext) {
      val f = files.next()
      if (f.toString.endsWith(".scala") && f != owner) {
        val lines = java.nio.file.Files.readAllLines(f).toArray
        lines.zipWithIndex.foreach { case (l, i) =>
          if (shape.findFirstIn(l.toString).isDefined)
            offenders += s"${root.relativize(f)}:${i + 1}"
        }
      }
    }
    java.nio.file.Files.exists(owner) shouldBe true
    offenders.result() shouldBe empty
  }

  test("only graft.state.FoldStore builds version-chain layout paths") {
    // `.staging<id>`, `bucket=<k>/v<id>`, `b<id>` and `d<id>` paths
    // are written in one module. A literal holding whitespace is a
    // message naming such a dir, not a path; a bare `d0` is a column.
    val name = """(\.staging|[bdv])"""
    val interp = """\$(\{[^}]*\}|[A-Za-z_]\w*)"""
    val pathShapes = Seq(s".*/$name($interp|\\d+)", s"$name$interp",
      ".*bucket=[^/]*/v.*").map(_.r)
    val literal = "\"([^\"]*)\"".r
    val concat = ("\"([^\"\\s]*/)?" + name + "\"\\s*\\+").r
    val parse = """stripPrefix\("\.staging"\)""".r
    def offends(line: String): Boolean =
      parse.findFirstIn(line).isDefined ||
        concat.findFirstIn(line).isDefined ||
        literal.findAllMatchIn(line).map(_.group(1)).exists(c =>
          !c.exists(_.isWhitespace) && pathShapes.exists(_.matches(c)))
    Seq("""new Path(root, s"$layer/.staging$id")""",
      """s"$side/d0"""", """Seq(s"d$batchId")""",
      """s"$layer/bucket=$b/v$batchId"""", """map("a/d" + _)""",
      """n.stripPrefix(".staging")""").foreach(l => offends(l) shouldBe true)
    Seq("""s"join/$layer/d$i: uncommitted batch dir"""", """.as("d0")""",
      """new Path(root, "_CONFIG")""").foreach(l => offends(l) shouldBe false)
    val root = java.nio.file.Paths.get("src/main/scala")
    val owner = root.resolve("graft/state/FoldStore.scala")
    val files = java.nio.file.Files.walk(root).iterator()
    val offenders = Seq.newBuilder[String]
    while (files.hasNext) {
      val f = files.next()
      if (f.toString.endsWith(".scala") && f != owner)
        java.nio.file.Files.readAllLines(f).toArray.zipWithIndex.foreach {
          case (l, i) =>
            if (offends(l.toString)) offenders += s"${root.relativize(f)}:${i + 1}"
        }
    }
    java.nio.file.Files.exists(owner) shouldBe true
    offenders.result() shouldBe empty
  }

  test("view paths read parquet only through the footer helper") {
    // a schema-less parquet read runs Spark's schema-inference job;
    // graft.sources.ParquetFooter reads the same footer on the driver
    val shape = """read\s*\.\s*(parquet\s*\(|format\s*\(\s*"parquet"\s*\))""".r
    Seq("spark.read.parquet(p)", "spark.read\n  .parquet(a, b)",
      """spark.read.format("parquet").load(p)""").foreach(l =>
      shape.findFirstIn(l).isDefined shouldBe true)
    Seq("spark.read.schema(s).parquet(p)", "ParquetFooter.read(spark, fs, ps)",
      "df.write.parquet(out)").foreach(l => shape.findFirstIn(l).isDefined shouldBe false)
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val viewPaths = Seq("state", "operators/CdcRollup.scala",
      "operators/JoinView.scala", "streaming/EventStreams.scala",
      "app/ViewMaintenance.scala", "app/ViewFsck.scala", "app/ViewRepair.scala")
      .map(root.resolve(_))
    val offenders = Seq.newBuilder[String]
    viewPaths.foreach { p =>
      java.nio.file.Files.exists(p) shouldBe true
      java.nio.file.Files.walk(p).iterator().forEachRemaining { f =>
        if (f.toString.endsWith(".scala")) {
          val text = java.nio.file.Files.readString(f)
          shape.findAllMatchIn(text).foreach { m =>
            offenders += s"${root.relativize(f)}:${text.take(m.start).count(_ == '\n') + 1}"
          }
        }
      }
    }
    offenders.result() shouldBe empty
  }
}
