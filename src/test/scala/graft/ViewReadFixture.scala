package graft

import graft.app.ViewMaintenance
import graft.model._
import java.nio.file.Files
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Three small view roots under one data dir, folded once per JVM and
  * shared by the view-read specs: a cdcRollup root `cdc` (min/max of
  * `v`, aux view `byRegion` with its own min/max, retention and change
  * log on), a bucketed rollup root `roll` (retention and change log
  * on) and a join root `join`. Batches 0, 1 and 2 fold into each; the
  * retention and change-log modes start after batch 0. Some `region`
  * and `g` values are NULL, so the null-safe lookups have a NULL group
  * to find. */
final class ViewReadFixture(spark: SparkSession) {
  val dir: String = Files.createTempDirectory("graft-view-reads").toString
  val batches = 3

  /** Jobs each fold ran: (family, batch) -> counts. */
  val foldJobs = scala.collection.mutable.LinkedHashMap[(String, Int), ViewReadFixture.Jobs]()

  private val cdcSchema = StructType(Seq(StructField("id", LongType),
    StructField("grp", StringType), StructField("region", StringType),
    StructField("v", LongType), StructField("seq", LongType),
    StructField("op", StringType)))
  private val rollSchema = StructType(Seq(StructField("g", StringType),
    StructField("v", DoubleType)))
  private val aSchema = StructType(Seq(StructField("k", LongType),
    StructField("price", LongType)))
  private val bSchema = StructType(Seq(StructField("k", LongType),
    StructField("line", IntegerType), StructField("qty", LongType)))

  private def write(rows: Seq[Row], schema: StructType, name: String): Unit =
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/$name")

  private def region(i: Long): String = if (i % 7 == 0) null else s"r${i % 3}"

  private def cdcRows(b: Int): Seq[Row] = b match {
    case 0 => (1L to 40L).map(i => Row(i, s"g${i % 5}", region(i), i * 10, i, "I"))
    case 1 => (1L to 10L).map(i => Row(i, s"g${(i + 1) % 5}", region(i), i * 11, 100 + i, "U")) ++
      (11L to 14L).map(i => Row(i, s"g${i % 5}", region(i), i * 10, 100 + i, "D")) ++
      (41L to 45L).map(i => Row(i, s"g${i % 5}", region(i), i * 10, 100 + i, "I"))
    case _ => (20L to 25L).map(i => Row(i, s"g${i % 5}", region(i), i * 13, 200 + i, "U")) ++
      (46L to 48L).map(i => Row(i, "g9", region(i), i, 200 + i, "I"))
  }

  private def rollRows(b: Int): Seq[Row] =
    (0 until 30).map(i => Row(if (i % 11 == 0) null else s"g${(i + b) % 6}",
      (i * (b + 1)).toDouble))

  private def aRows(b: Int): Seq[Row] =
    (b * 10 + 1 to b * 10 + 10).map(k => Row(k.toLong, k * 100L))

  private def bRows(b: Int): Seq[Row] =
    (b * 10 + 1 to b * 10 + 10).flatMap(k => (1 to 1 + k % 2).map(l =>
      Row(k.toLong, l, (k * l).toLong))) :+ Row(1L, 100 + b, 7L)

  private def run(cfg: ViewConfig): ViewMaintenance.Report =
    ViewMaintenance.run(spark, cfg, dir)

  private def fold(family: String, b: Int, cfg: ViewConfig): Unit = {
    val (rep, jobs) = ViewReadFixture.jobsDuring(spark)(run(cfg))
    require(rep.applied, s"$family batch $b not applied")
    foldJobs((family, b)) = jobs
  }

  (0 until batches).foreach { b =>
    write(cdcRows(b), cdcSchema, s"in/cdc_b$b")
    write(rollRows(b), rollSchema, s"in/roll_b$b")
    write(aRows(b), aSchema, s"in/a_b$b")
    write(bRows(b), bSchema, s"in/b_b$b")
    fold("cdc", b, CdcRollupViewConfig("cdc", b, keyColumns = Seq("id"),
      seqColumn = "seq", opColumn = "op", keys = Seq("grp"),
      valueColumns = Seq("v"), delta = DeltaInput(s"in/cdc_b$b"),
      nBaseBuckets = 4, nAggBuckets = 2, minMaxColumns = Seq("v"),
      auxViews = Seq("byRegion" -> Seq("region")),
      auxMinMaxColumns = Map("byRegion" -> Seq("v"))))
    fold("join", b, JoinViewConfig("join", b, key = "k",
      deltaA = DeltaInput(s"in/a_b$b"), deltaB = DeltaInput(s"in/b_b$b"),
      nBuckets = 4))
    fold("rollup", b, RollupViewConfig("roll", b, keys = Seq("g"),
      valueColumn = "v", delta = DeltaInput(s"in/roll_b$b"), nBuckets = 2))
    if (b == 0) Seq("cdc", "roll").foreach { r =>
      run(RetainViewConfig(r)); run(ChangeLogViewConfig(r))
    }
  }
}

object ViewReadFixture {
  private var shared: Option[ViewReadFixture] = None

  /** The JVM's one fixture, folded on first use. */
  def get(spark: SparkSession): ViewReadFixture = synchronized {
    if (shared.isEmpty) shared = Some(new ViewReadFixture(spark))
    shared.get
  }

  /** Spark jobs a call started, and how many of them were parquet
    * schema inference: a job outside any SQL execution whose stage
    * Spark names `parquet at …`. */
  final case class Jobs(all: Int, inference: Int)

  /** `f`'s result and the jobs it started, counted by a listener on a
    * job group of its own (set on this thread for the call). */
  def jobsDuring[T](spark: SparkSession)(f: => T): (T, Jobs) = {
    val group = s"view-reads-${java.util.UUID.randomUUID()}"
    val all = new java.util.concurrent.atomic.AtomicInteger(0)
    val inference = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.properties != null &&
            js.properties.getProperty("spark.jobGroup.id") == group) {
          all.incrementAndGet()
          if (js.properties.getProperty("spark.sql.execution.id") == null &&
              js.stageInfos.exists(_.name.startsWith("parquet at ")))
            inference.incrementAndGet()
        }
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, "counted")
    try {
      val r = f
      (r, graft.tools.QueryProfile.awaitStable(Jobs(all.get(), inference.get())))
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }
}
