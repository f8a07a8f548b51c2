package graft

import graft.operators.{CdcRollup, IncrementalAgg}
import graft.streaming.EventStreams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** View folds run under the caller's own session conf: they plan with
  * whatever the session says and leave its SQL conf exactly as they
  * found it, also when two folds share the session at once. */
class FoldSessionConfSpec extends SparkSpec {
  import spark.implicits._

  private def tmpRoot(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/state"

  /** (pk, group, group2, value, seq, op) CDC batch `b`: batch 0
    * inserts 200 keys over 7 groups; later batches update 40 keys
    * (half of them into another group), delete 10 and insert 20 new
    * ones. */
  private def cdcBatch(b: Int): DataFrame = {
    val seq = b.toLong + 1
    def ev(id: Long, g: Int, v: Double, op: String) =
      (id, s"g${g % 7}", s"h${id % 3}", v, seq, op)
    val evs =
      if (b == 0) (0 until 200).map(i => ev(i, i, i.toDouble, "I"))
      else
        (0 until 40).map { j =>
          val id = (b * 37 + j * 3) % 200
          ev(id, id + b * (j % 2), id * 1.5 + b, "U")
        } ++ (0 until 10).map(j =>
          ev((b * 11 + j * 17 + 1) % 200, 0, 0.0, "D")) ++
          (0 until 20).map(j => ev(1000L * b + j, j % 5, j.toDouble, "I"))
    // one event per key and batch
    evs.groupBy(_._1).values.map(_.head).toSeq
      .toDF("id", "grp", "g2", "v", "seq", "op")
  }

  private def foldCdc(root: String, b: Int): Boolean =
    CdcRollup.foldBatch(root, b.toLong, cdcBatch(b), Seq("id"), "seq",
      "op", Seq("grp"), Seq("v"), nBaseBuckets = 4, nAggBuckets = 2,
      minMaxCols = Seq("v"), auxViews = Seq("byg2" -> Seq("g2")))

  private def rollupBatch(b: Int): DataFrame =
    (0 until 60).map(i => (((i * 7 + b * 13) % 40).toLong, i + b * 0.5))
      .toDF("k", "v")

  private def foldRollup(root: String, b: Int): Seq[Int] =
    EventStreams.applyRollupBatchBucketed(rollupBatch(b), root, b.toLong,
      Seq("k"), "v", nBuckets = 4)

  private def cdcState(root: String): Set[Seq[Any]] =
    rows(CdcRollup.readView(spark, root).get).toSet

  private def rollupState(root: String): Set[Seq[Any]] =
    rows(IncrementalAgg.finalizeState(
      spark.read.parquet(s"$root/state").drop("bucket"), Seq("k"))).toSet

  test("with AQE on in the session, a small cdcRollup fold runs every " +
      "exchange-bearing SQL execution as an adaptive plan") {
    spark.conf.get("spark.sql.adaptive.enabled") shouldBe "true"
    val root = tmpRoot("graft-foldconf-aqe")
    foldCdc(root, 0) shouldBe true
    val plans = scala.collection.mutable.ArrayBuffer.empty[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan; () }
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val seen =
      try {
        foldCdc(root, 1) shouldBe true
        graft.tools.QueryProfile.awaitStable(plans.synchronized(plans.size))
        plans.synchronized(plans.toList)
      } finally spark.listenerManager.unregister(listener)
    seen should not be empty
    // an exchange outside an adaptive plan is a statically planned one
    val static = seen.filter(_.collectWithSubqueries {
      case e: Exchange => e }.nonEmpty)
    static shouldBe empty
    // inside an adaptive plan every exchange runs as a query stage
    val adaptiveWithExchange = seen.flatMap(_.collectWithSubqueries {
      case a: AdaptiveSparkPlanExec => a })
      .filter(_.executedPlan.collectWithSubqueries {
        case s: QueryStageExec => s }.nonEmpty)
    adaptiveWithExchange should not be empty
  }

  test("concurrent cdcRollup and bucketed-rollup folds on one session " +
      "leave its SQL conf unchanged and each state equal to its " +
      "sequential fold") {
    val batches = 0 until 4
    val seqCdc = tmpRoot("graft-foldconf-seqcdc")
    val seqRollup = tmpRoot("graft-foldconf-seqrollup")
    batches.foreach { b => foldCdc(seqCdc, b); foldRollup(seqRollup, b) }

    val before = spark.conf.getAll
    val cdcRoot = tmpRoot("graft-foldconf-cdc")
    val rollupRoot = tmpRoot("graft-foldconf-rollup")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutorService(pool)
    try Await.result(Future.sequence(Seq(
      Future(batches.foreach(foldCdc(cdcRoot, _))),
      Future(batches.foreach(foldRollup(rollupRoot, _))))), 10.minutes)
    finally pool.shutdownNow()

    spark.conf.getAll shouldBe before
    cdcState(cdcRoot) shouldBe cdcState(seqCdc)
    rollupState(rollupRoot) shouldBe rollupState(seqRollup)
  }
}
