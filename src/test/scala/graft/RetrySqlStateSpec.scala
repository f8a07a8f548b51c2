package graft

import graft.app.{JdbcSink, Retry, SqlStateException}
import graft.model.UserException
import java.sql.SQLException

/** `Retry` (and so `SwapGuard`) stops at once on SQL failures that fail
  * the same way every time — SQLState classes 22, 23 and 42 — and keeps
  * retrying transient ones (08 connection, 40 transaction rollback). */
class RetrySqlStateSpec extends SparkSpec {
  import spark.implicits._

  private def attempts(fail: => Throwable): Int = {
    var n = 0
    intercept[Throwable](Retry.withRetry(3, _ => 0L) { n += 1; throw fail })
    n
  }

  test("deterministic SQLState classes fail on the first attempt") {
    Seq("22001", "22018", "23505", "23513", "42X05", "42000").foreach { st =>
      withClue(st) { attempts(new SQLException("boom", st)) shouldBe 1 }
    }
    // found anywhere in the cause chain, or carried by a scrubbed failure
    attempts(new RuntimeException("wrapped", new SQLException("boom", "23505"))) shouldBe 1
    attempts(new SqlStateException("scrubbed", Some("22001"))) shouldBe 1
  }

  test("transient and unknown failures still retry") {
    Seq("08006", "08001", "40001", "40XL1").foreach { st =>
      withClue(st) { attempts(new SQLException("boom", st)) shouldBe 3 }
    }
    attempts(new SQLException("no state")) shouldBe 3
    attempts(new SqlStateException("scrubbed", None)) shouldBe 3
    attempts(new java.io.IOException("io")) shouldBe 3
  }

  test("SwapGuard surfaces a constraint violation after one attempt, no backoff") {
    var n = 0
    val t0 = System.nanoTime()
    val e = intercept[UserException](graft.app.SwapGuard("merge failed") {
      n += 1; throw new SQLException("check violated", "23513")
    })
    n shouldBe 1
    (System.nanoTime() - t0) / 1e6 should be < 900.0 // the first backoff is 1 s
    e.getMessage should include("check violated")
  }

  test("a JDBC stage write the database rejects (22001) is not retried") {
    val url = "jdbc:derby:memory:graft_retry;create=true"
    val sink = new JdbcSink(spark, url,
      Map("createTableColumnTypes" -> "v VARCHAR(3)", "password" -> "hunter2"),
      catalogSql = "SELECT TABLENAME FROM SYS.SYSTABLES WHERE TABLETYPE = 'T'",
      renameSql = (from, to) => s"RENAME TABLE $from TO $to")
    var n = 0
    // the default backoff: a retry would sleep 1 s + 4 s and write thrice
    val e = intercept[SqlStateException](Retry.withRetry(3) {
      n += 1; sink.overwrite(Seq((1L, "much too long")).toDF("id", "v"), "jshort")
    })
    n shouldBe 1
    e.sqlState.map(_.take(2)) shouldBe Some("22")
    e.getCause shouldBe null
    sink.tableExists("jshort") shouldBe false
    sink.listTables().filter(_.toLowerCase.contains("_temp_")) shouldBe empty
  }
}
