package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** The query lane: one untimed warm-up pass, then timed passes over a
  * fixed list of oracle-checked `SparkEntry.queries` on the seeded
  * tables. Each query's rows are collected in the timed span. The
  * first timed pass's rows are written out for the DuckDB oracle
  * (`perfbench/oracle.py`); every later pass must return the same rows. */
final class QueryWorkload(b: Bench, work: Path, data: String) extends Workload {
  import QueryWorkload.names
  private val spark = b.spark
  private val queries = graft.SparkEntry.queries
  private val first = mutable.HashMap[String, (Array[Row], StructType)]()
  private val results = work.resolve("results")

  def prepare(): Unit = {
    Files.createDirectories(results)
    val sql = graft.SparkEntry.oracleSql
    val oracles = names.map(n => s"${Json.str(n)}:${Json.str(sql(n))}")
    Files.writeString(results.resolve("oracle_sql.json"),
      oracles.mkString("{", ",", "}"))
  }

  def warmUp(): Unit = names.foreach { n =>
    queries(n)(spark, data).write.format("noop").mode("overwrite").save()
  }

  /** One pass over the queries. */
  def unit(): Unit = {
    var total = 0.0
    names.foreach { n =>
      // building the frame is part of the query: some queries build
      // their cached layouts or indexes while planning
      val ((rows, schema), s) = b.timed("op", s"query_$n") {
        val df = queries(n)(spark, data)
        (df.collect(), df.schema)
      }
      total += s
      b.sample(s"query.$n", s)
      if (b.tracer.isDefined) {
        b.layerSample(s"query.$n.s", s)
        b.layerSample(s"query.$n.jobs", b.lastCounters.jobs)
        b.layerSample(s"query.$n.task_ms", b.lastCounters.taskMs)
      }
      first.get(n) match {
        case None => first(n) = (rows, schema) // checked by the oracle
        case Some((want, _)) =>
          b.check(rows.toSeq == want.toSeq, s"query $n differs from its first pass")
      }
    }
    b.sample("bulk", total)
  }

  val minUnits = 3

  /** `op_s`: geometric mean of the per-query medians; `bulk_s`: median
    * pass total. */
  def endToEnd(samples: Stats.Samples): Map[String, Double] =
    Map("op_s" -> geomeanOf(samples, "query."),
      "bulk_s" -> Stats.median(samples.getOrElse("bulk", Nil)))

  /** Write each query's first-pass rows for the oracle. */
  override def finish(): Seq[(String, Double)] = {
    first.foreach { case (n, (rows, schema)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(results.resolve(n).toString)
    }
    Nil
  }
}

object QueryWorkload {
  /** Oracle-checked queries: a salted skew join, a `globalNtile` user
    * over the linear-model functions, BM25 over the inverted index, and
    * three queries with a recorded 2x warm-time regression
    * (percentiles, windows, KS drift). */
  val names = Seq("salted_join_revenue", "gains_table", "bm25_search",
    "mad_outliers", "lead_lag_orders", "ks_price_drift_quantized")
}
