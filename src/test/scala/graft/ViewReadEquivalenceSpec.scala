package graft

import graft.app.ViewMaintenance
import graft.model._
import graft.operators.{BatchMarkers, CdcRollup, JoinView}
import graft.sources.ParquetFooter
import graft.state.FoldStore
import graft.streaming.EventStreams
import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** The job-free view reads serve what the inferring reads served: the
  * footer schema is Spark's inferred schema on every layer (and a
  * footer without Spark's schema key still reads through inference),
  * an observed row count is the output's row count, a failed export
  * write fails instead of waiting on its observation, and the five
  * lookup faces keep their answers and refusals. */
class ViewReadEquivalenceSpec extends SparkSpec {
  private lazy val fx = ViewReadFixture.get(spark)
  private def run(cfg: ViewConfig) = ViewMaintenance.run(spark, cfg, fx.dir)
  private def root(r: String) = new Path(s"${fx.dir}/$r")
  private lazy val fs: FileSystem =
    root("cdc").getFileSystem(spark.sessionState.newHadoopConf())

  /** Dirs matching `glob` under `r` that hold a data file. */
  private def held(r: String, glob: String): Seq[Path] =
    fs.globStatus(new Path(root(r), glob)).toSeq.map(_.getPath).filter(d =>
      fs.listStatus(d).exists(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith(".")))

  private def inferred(paths: Seq[Path]): StructType =
    spark.read.parquet(paths.map(_.toString): _*).schema

  private def sameAsInferred(paths: Seq[Path]): Unit = withClue(paths.mkString(", ")) {
    paths should not be empty
    ParquetFooter.read(spark, fs, paths).schema shouldBe inferred(paths)
  }

  test("the footer schema is Spark's inferred schema on every layer") {
    val markers = BatchMarkers.read(fs, root("cdc"))
    Seq("base", "agg", "grp", "aux_byRegion", "grp_aux_byRegion").foreach { l =>
      sameAsInferred(held("cdc", s"$l/bucket=*/v*"))
      Seq(None, Some(1L)).foreach { asOf =>
        withClue(s"$l as of $asOf") {
          val df = FoldStore.read(spark, fs, root("cdc"), l, None, markers, asOf).get
          df.schema shouldBe inferred(df.inputFiles.toSeq.map(f => new Path(f).getParent).distinct)
        }
      }
    }
    // the rollup state keeps `bucket` as a discovered partition column
    val state = new Path(root("roll"), "state")
    ParquetFooter.read(spark, fs, Seq(state)).schema shouldBe inferred(Seq(state))
    ParquetFooter.read(spark, fs, Seq(state)).schema.fieldNames should contain("bucket")
    sameAsInferred(held("roll", "history/bucket=*/v*"))
    val rollHist = EventStreams.readRollupStateAsOf(spark, root("roll").toString, 1L).get
    rollHist.schema shouldBe inferred(rollHist.inputFiles.toSeq.map(f => new Path(f).getParent).distinct)
    Seq("a", "b", "view").foreach { side =>
      sameAsInferred(held("join", s"$side/d*/__bucket=*"))
      val df = FoldStore.readBatches(spark, fs, root("join"), side, "d",
        BatchMarkers.read(fs, root("join"))).get
      df.schema shouldBe inferred(held("join", s"$side/d*/__bucket=*"))
    }
    Seq("log", "log_view", "log_aux_byRegion").foreach(l => sameAsInferred(held("cdc", s"$l/b*")))
    sameAsInferred(held("roll", "log/b*"))
    sameAsInferred(Seq(new Path(s"${fx.dir}/in/cdc_b0")))
  }

  /** A fresh dir with `files` (name -> a one-row frame) written by Spark. */
  private def dirOf(files: (String, DataFrame)*): Path = {
    val dir = Files.createTempDirectory("graft-footer")
    files.foreach { case (name, df) =>
      val tmp = dir.resolve(s"_tmp_$name")
      df.coalesce(1).write.parquet(tmp.toString)
      val part = Files.list(tmp).iterator.asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, dir.resolve(name))
      FileSystem.getLocal(spark.sessionState.newHadoopConf())
        .delete(new Path(tmp.toString), true)
    }
    new Path(dir.toUri)
  }

  test("the footer comes from the first data file; summaries and keyless footers read through inference") {
    import spark.implicits._
    val narrow = Seq(1L).toDF("x")
    val wide = Seq((1L, "a")).toDF("x", "y")
    // the inference reads the lexicographically first data file
    val firstWide = dirOf("part-b.parquet" -> narrow, "part-a.parquet" -> wide)
    ParquetFooter.read(spark, fs, Seq(firstWide)).schema shouldBe inferred(Seq(firstWide))
    ParquetFooter.read(spark, fs, Seq(firstWide)).schema.fieldNames shouldBe Array("x", "y")
    // a summary file is what the inference reads when one is present
    val summarized = dirOf("part-a.parquet" -> narrow, "_common_metadata" -> wide)
    ParquetFooter.read(spark, fs, Seq(summarized)).schema shouldBe inferred(Seq(summarized))
    // a footer without Spark's key (written by parquet-hadoop alone)
    val plain = Files.createTempDirectory("graft-footer-plain")
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required int64 id; optional binary name (UTF8); optional int32 n; }")
    val conf = spark.sessionState.newHadoopConf()
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
        new Path(plain.resolve("part-0.parquet").toUri), conf))
      .withType(schema).withConf(conf).build()
    try {
      val g = new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
      w.write(g.newGroup().append("id", 7L).append("name", "seven").append("n", 3))
    } finally w.close()
    val plainDir = new Path(plain.toUri)
    val (df, jobs) = ViewReadFixture.jobsDuring(spark)(ParquetFooter.read(spark, fs, Seq(plainDir)))
    jobs.inference should be >= 1
    df.schema shouldBe inferred(Seq(plainDir))
    rows(df) shouldBe Seq(Seq(7L, "seven", 3))
  }

  test("Report.rows is the output's row count for as-of, since and diff exports, empty ones too") {
    def rowsOf(out: String) = spark.read.parquet(s"${fx.dir}/$out").count()
    Seq(ExportViewConfig("cdc", "eq/asof", asOf = Some(1L)) -> "eq/asof",
      ExportViewConfig("cdc", "eq/since", sinceBatch = Some(1L)) -> "eq/since",
      ExportViewConfig("cdc", "eq/since_none", sinceBatch = Some(2L)) -> "eq/since_none",
      ExportViewConfig("roll", "eq/roll_since", sinceBatch = Some(0L)) -> "eq/roll_since",
      DiffViewConfig("cdc", "eq/diff", 0L, 2L) -> "eq/diff",
      DiffViewConfig("cdc", "eq/diff_none", 2L, 2L) -> "eq/diff_none",
      DiffViewConfig("roll", "eq/roll_diff_none", 1L, 1L) -> "eq/roll_diff_none")
      .foreach { case (cfg, out) =>
        withClue(cfg) { run(cfg).rows shouldBe Some(rowsOf(out)) }
      }
    rowsOf("eq/diff") should be > 0L
    rowsOf("eq/since_none") shouldBe 0L
    rowsOf("eq/diff_none") shouldBe 0L
    rowsOf("eq/roll_diff_none") shouldBe 0L
  }

  test("a failing export write raises its error and does not wait on its row count") {
    val file = Paths.get(fx.dir, "eq_blocker")
    Files.writeString(file, "not a dir")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val attempt = Future(scala.util.Try(
      run(ExportViewConfig("cdc", "eq_blocker/out", asOf = Some(1L)))))
    val got = Await.result(attempt, scala.concurrent.duration.Duration(120, "s"))
    got.isFailure shouldBe true
  }

  test("an export's row count does not wait on a held-up listener bus") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd}
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val df = CdcRollup.readViewAsOf(spark, root("cdc").toString, 1L).get
    val out = s"${fx.dir}/eq/held"
    // holds the shared listener queue, which carries the observation's
    // event, from the first job end until the count is back
    val release = new CountDownLatch(1)
    val holding = new java.util.concurrent.atomic.AtomicBoolean(false)
    val hold = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (holding.compareAndSet(false, true)) release.await(120, TimeUnit.SECONDS)
    }
    spark.sparkContext.addSparkListener(hold)
    val started = System.nanoTime()
    val n = try ViewMaintenance.writeCounted(df, out)
    finally { release.countDown(); spark.sparkContext.removeSparkListener(hold) }
    holding.get shouldBe true
    (System.nanoTime() - started) should be < TimeUnit.SECONDS.toNanos(60)
    n shouldBe spark.read.parquet(out).count()
    n should be > 0L
  }

  test("a scanned multi-partition key frame: the probe collects at most two rows per bucket") {
    import org.apache.spark.sql.functions.{lit, pmod, xxhash64}
    val cdc = root("cdc").toString
    val nBase = 4 // the fixture's nBaseBuckets
    // 400 key rows (ids 0-99, each four times) in four files
    spark.range(0, 400).select((col("id") % 100).as("id")).repartition(4)
      .write.mode("overwrite").parquet(s"${fx.dir}/eq_keys")
    val scanned = spark.read.parquet(s"${fx.dir}/eq_keys")
    scanned.rdd.getNumPartitions should be > 1
    val pairs = FoldStore.bucketPairs(scanned, Seq("id"), nBase).collect()
    pairs.length should be <= 2 * nBase
    pairs.map(_.getInt(1)).toSet shouldBe scanned
      .select(pmod(xxhash64(col("id")), lit(nBase)).cast("int")).collect()
      .map(_.getInt(0)).toSet
    // a local frame yields one pair per key, with no job
    val local = spark.createDataFrame(java.util.List.of(Row(3L), Row(3L), Row(44L)),
      StructType(Seq(StructField("id", LongType))))
    val (localPairs, jobs) = ViewReadFixture.jobsDuring(spark)(
      FoldStore.bucketPairs(local, Seq("id"), nBase).collect())
    localPairs.length shouldBe 3
    jobs shouldBe ViewReadFixture.Jobs(0, 0)
    // the lookup serves every scanned key the base holds
    val got = json(CdcRollup.lookupBase(spark, cdc, scanned).get)
    got shouldBe json(CdcRollup.readBase(spark, cdc).get
      .join(scanned.distinct(), Seq("id"), "left_semi"))
    got should not be empty
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private type Json = com.fasterxml.jackson.databind.JsonNode

  private def json(df: DataFrame): Set[Json] = df.toJSON.collect().map(mapper.readTree).toSet

  private def matches(rep: ViewMaintenance.Report): Seq[Json] =
    mapper.readTree(rep.detail.get).get("matches").elements.asScala.toSeq

  test("lookups on all five faces: duplicate keys, absent keys, NULL keys") {
    val cdc = root("cdc").toString
    val base = CdcRollup.readBase(spark, cdc).get
    val view = CdcRollup.readView(spark, cdc).get
    val aux = CdcRollup.readAuxView(spark, cdc, "byRegion").get
    val joined = JoinView.readCommittedView(spark, root("join").toString).get
    val roll = graft.operators.IncrementalAgg.finalizeState(
      spark.read.parquet(s"${fx.dir}/roll/state").drop("bucket"), Seq("g"))
    def keyed(df: DataFrame, c: String, vs: Seq[String]) =
      json(df.where(vs.map(v => if (v == null) col(c).isNull else col(c) === v)
        .reduce(_ || _)))
    Seq((LookupViewConfig("cdc", Seq("3", "3", "44", "999").map(v => Map("id" -> v)),
        layer = Some("base")), keyed(base, "id", Seq("3", "44"))),
      (LookupViewConfig("cdc", Seq("g1", "g1", "g2", "nope", null).map(v => Map("grp" -> v)),
        layer = Some("view")), keyed(view, "grp", Seq("g1", "g2"))),
      (LookupViewConfig("cdc", Seq("r2", null, "r2", "nope").map(v => Map("region" -> v)),
        layer = Some("aux:byRegion")), keyed(aux, "region", Seq("r2", null))),
      (LookupViewConfig("join", Seq("1", "12", "1", "999").map(v => Map("k" -> v))),
        keyed(joined, "k", Seq("1", "12"))),
      (LookupViewConfig("roll", Seq("g2", null, "g2", "nope").map(v => Map("g" -> v))),
        keyed(roll, "g", Seq("g2", null)))).foreach { case (cfg, want) =>
      withClue(cfg) {
        val got = matches(run(cfg))
        got.toSet shouldBe want
        got.size shouldBe want.size
        want.size should be >= 2
      }
    }
    // the NULL refusals keep their messages
    val nullId = spark.createDataFrame(java.util.List.of(Row(null), Row(3L)),
      StructType(Seq(StructField("id", LongType))))
    intercept[IllegalArgumentException](CdcRollup.lookupBase(spark, cdc, nullId))
      .getMessage shouldBe
      "requirement failed: lookupBase: NULL in a pk column — a NULL key can never match"
    val nullK = spark.createDataFrame(java.util.List.of(Row(null)),
      StructType(Seq(StructField("k", LongType))))
    intercept[IllegalArgumentException](JoinView.lookupView(spark, root("join").toString, nullK))
      .getMessage shouldBe
      "requirement failed: lookupView: NULL join key — an inner-join view never holds it"
    // undeclared aux: config misuse, the same message
    intercept[UserException](run(LookupViewConfig("cdc", Seq(Map("region" -> "r1")),
      layer = Some("aux:nope")))).getMessage should startWith(
      "maintainView lookup: requirement failed: readAuxView: no aux view 'nope' declared under")
  }
}
