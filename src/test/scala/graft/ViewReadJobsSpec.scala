package graft

import graft.app.ViewMaintenance
import graft.model._
import graft.operators.{CdcRollup, JoinView}
import graft.streaming.EventStreams
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** A view read runs only the Spark jobs that move its rows: an export
  * or a diff is its write's jobs (its row count is observed on that
  * write), a CLI lookup's bucket probe runs no job, and no fold or read
  * runs a parquet schema-inference job. Jobs are counted by a listener
  * on the call's own job group ([[ViewReadFixture.jobsDuring]]). */
class ViewReadJobsSpec extends SparkSpec {
  private lazy val fx = ViewReadFixture.get(spark)
  private def run(cfg: ViewConfig) = ViewMaintenance.run(spark, cfg, fx.dir)
  // the fixture folds outside any count
  private def jobs[T](f: => T) = { fx; ViewReadFixture.jobsDuring(spark)(f) }
  private def root(r: String) = s"${fx.dir}/$r"

  /** `cfg` writes `out` with exactly the jobs of one write of `same`
    * (the library frame of the same read), and reports its rows. */
  private def writeOnly(cfg: ViewConfig, out: String)(same: => DataFrame): Unit =
    withClue(cfg) {
      val (rep, got) = jobs(run(cfg))
      val frame = same
      val (_, want) = jobs(frame.write.mode("overwrite")
        .parquet(s"${fx.dir}/control/$out"))
      got.inference shouldBe 0
      want.inference shouldBe 0
      got.all shouldBe want.all
      rep.rows shouldBe Some(spark.read.parquet(s"${fx.dir}/$out").count())
    }

  test("an as-of export and a diff each run exactly their write's jobs") {
    writeOnly(ExportViewConfig("cdc", "out/cdc_asof", asOf = Some(1L)),
      "out/cdc_asof")(CdcRollup.readViewAsOf(spark, root("cdc"), 1L).get)
    writeOnly(ExportViewConfig("cdc", "out/cdc_aux_asof", layer = "aux:byRegion",
      asOf = Some(1L)), "out/cdc_aux_asof")(
      CdcRollup.readAuxViewAsOf(spark, root("cdc"), "byRegion", 1L).get)
    writeOnly(DiffViewConfig("cdc", "out/cdc_diff", 1L, 2L), "out/cdc_diff")(
      CdcRollup.diffView(spark, root("cdc"), 1L, 2L, None))
    writeOnly(ExportViewConfig("cdc", "out/cdc_since", sinceBatch = Some(1L)),
      "out/cdc_since")(CdcRollup.readViewSincePinned(spark, root("cdc"), 1L)._1)
    writeOnly(ExportViewConfig("roll", "out/roll_asof", asOf = Some(1L)),
      "out/roll_asof")(EventStreams.readRollupViewAsOf(spark, root("roll"), 1L).get)
    writeOnly(DiffViewConfig("roll", "out/roll_diff", 0L, 2L), "out/roll_diff")(
      EventStreams.diffRollupView(spark, root("roll"), 0L, 2L))
    writeOnly(ExportViewConfig("join", "out/join_asof", asOf = Some(1L)),
      "out/join_asof")(JoinView.readViewAsOf(spark, root("join"), 1L).get)
  }

  /** The key frame a CLI lookup builds: string literals cast to `types`. */
  private def localKeys(types: Seq[(String, DataType)], keys: Seq[Seq[String]]): DataFrame =
    spark.createDataFrame(keys.map(k => Row.fromSeq(k)).asJava,
      StructType(types.map { case (c, _) => StructField(c, StringType) }))
      .select(types.map { case (c, t) => col(c).cast(t).as(c) }: _*)

  test("a CLI lookup's bucket probe runs no job") {
    import org.apache.spark.sql.types.{LongType, StringType => S}
    val faces: Seq[(LookupViewConfig, () => Option[DataFrame])] = Seq(
      LookupViewConfig("cdc", Seq(Map("id" -> "3"), Map("id" -> "44")),
        layer = Some("base")) -> (() => CdcRollup.lookupBase(spark, root("cdc"),
        localKeys(Seq("id" -> LongType), Seq(Seq("3"), Seq("44"))))),
      LookupViewConfig("cdc", Seq(Map("grp" -> "g1")), layer = Some("view")) ->
        (() => CdcRollup.lookupView(spark, root("cdc"),
          localKeys(Seq("grp" -> S), Seq(Seq("g1"))))),
      LookupViewConfig("cdc", Seq(Map("region" -> "r2")),
        layer = Some("aux:byRegion")) -> (() => CdcRollup.lookupAuxView(spark,
        root("cdc"), "byRegion", localKeys(Seq("region" -> S), Seq(Seq("r2"))))),
      LookupViewConfig("join", Seq(Map("k" -> "1"), Map("k" -> "12"))) ->
        (() => JoinView.lookupView(spark, root("join"),
          localKeys(Seq("k" -> LongType), Seq(Seq("1"), Seq("12"))))),
      LookupViewConfig("roll", Seq(Map("g" -> "g2"))) ->
        (() => EventStreams.lookupRollupState(spark, root("roll"),
          localKeys(Seq("g" -> S), Seq(Seq("g2"))))))
    faces.foreach { case (cfg, lib) =>
      withClue(cfg) {
        val (frame, probe) = jobs(lib())
        probe shouldBe ViewReadFixture.Jobs(0, 0)
        val (rep, cli) = jobs(run(cfg))
        val (rows, take) = jobs(frame.get.toJSON.take(cfg.maxRows + 1))
        cli shouldBe take
        rep.rows shouldBe Some(rows.length.toLong)
        rows should not be empty
      }
    }
  }

  test("no fold or read runs a schema-inference job") {
    fx.foldJobs.size shouldBe 3 * fx.batches
    fx.foldJobs.foreach { case (fold, j) =>
      withClue(fold) { j.inference shouldBe 0 }
    }
    Seq(ExportViewConfig("cdc", "out/cdc_now"),
      ExportViewConfig("cdc", "out/cdc_base", layer = "base"),
      ExportViewConfig("cdc", "out/cdc_log", layer = "log", sinceBatch = Some(0L)),
      ExportViewConfig("roll", "out/roll_now"),
      ExportViewConfig("roll", "out/roll_log", sinceBatch = Some(0L)),
      ExportViewConfig("join", "out/join_now"),
      ExportViewConfig("join", "out/join_since", sinceBatch = Some(0L)),
      StatusViewConfig("cdc"), StatusViewConfig("roll"), StatusViewConfig("join"),
      LookupViewConfig("roll", Seq(Map("g" -> "g2")))).foreach { cfg =>
      withClue(cfg) { jobs(run(cfg))._2.inference shouldBe 0 }
    }
  }

  test("positive control: a schema-less parquet read of the same dirs runs an inference job") {
    fx.foldJobs.size should be > 0
    Seq(s"${root("roll")}/state", s"${root("join")}/view/d0").foreach { d =>
      withClue(d) {
        val (df, j) = jobs(spark.read.parquet(d))
        j.inference should be >= 1
        df.columns should not be empty
      }
    }
  }
}
