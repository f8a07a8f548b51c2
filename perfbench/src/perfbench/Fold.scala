package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.app.ViewMaintenance
import graft.model._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Seeded CDC, rollup and join deltas for the view lane, with the
  * benchmark's own model of every view at every batch. */
final class FoldModel(seed: Long, baseKeys: Int, events: Int) {
  val groups = 200
  val regions = 8
  private val rnd = new SplittableRandom(seed * 31 + 7)

  // cdc base images: id -> (grp, region, v)
  val images = mutable.LinkedHashMap[Long, (String, String, Long)]()
  private var nextId = 1L
  private var seq = 0L
  /** group -> (n, total, min, max) of the cdc view after each batch. */
  val cdcViews = mutable.ArrayBuffer[Map[String, (Long, Long, Long, Long)]]()

  // rollup: group -> (n, total, min, max) after each batch
  private val roll = mutable.HashMap[String, (Long, Double, Double, Double)]()
  val rollViews = mutable.ArrayBuffer[Map[String, (Long, Double, Double, Double)]]()

  // join sides
  val joinA = mutable.LinkedHashMap[Long, Long]()            // k -> price
  val joinB = mutable.ArrayBuffer[(Long, Int, Long)]()        // (k, line, qty)
  private var nextK = 1L
  private val pendingB = mutable.ArrayBuffer[(Long, Int, Long)]()

  private def grp() = f"g${rnd.nextInt(groups)}%03d"
  private def region() = s"r${rnd.nextInt(regions)}"

  /** Rows of batch `b` for the three feeds: cdc (id, grp, region, v,
    * seq, op), rollup (g, v), join A (k, price), join B (k, line, qty).
    * Advances the model past the batch. */
  def batch(b: Int): (Seq[Row], Seq[Row], Seq[Row], Seq[Row]) = {
    val cdc = mutable.ArrayBuffer[Row]()
    def emit(id: Long, img: (String, String, Long), op: String): Unit = {
      seq += 1
      cdc += Row(id, img._1, img._2, img._3, seq, op)
    }
    def insert(): Unit = {
      val img = (grp(), region(), rnd.nextLong(1000L))
      images(nextId) = img
      emit(nextId, img, "I")
      nextId += 1
    }
    if (b == 0) (0 until baseKeys).foreach(_ => insert())
    else {
      // 40 % updates (half move group), 20 % deletes, 40 % inserts;
      // distinct keys within a batch (an assumed mix: the README gives
      // the reason for each share)
      val live = images.keysIterator.toArray
      val picked = mutable.LinkedHashSet[Long]()
      val nTouch = events * 6 / 10
      while (picked.size < nTouch) picked += live(rnd.nextInt(live.length))
      picked.toSeq.zipWithIndex.foreach { case (id, i) =>
        val (g, r, _) = images(id)
        if (i % 3 == 2) { emit(id, images(id), "D"); images.remove(id) }
        else {
          val img = (if (i % 2 == 0) grp() else g, r, rnd.nextLong(1000L))
          images(id) = img
          emit(id, img, "U")
        }
      }
      (0 until events - nTouch).foreach(_ => insert())
    }
    cdcViews += images.valuesIterator.toSeq.groupBy(_._1).map { case (g, xs) =>
      val vs = xs.map(_._3)
      g -> (vs.size.toLong, vs.sum, vs.min, vs.max)
    }

    val rollRows = (0 until (if (b == 0) baseKeys else events)).map { _ =>
      val g = grp()
      val v = rnd.nextInt(1000).toDouble
      val (n, t, lo, hi) = roll.getOrElse(g, (0L, 0.0, v, v))
      roll(g) = (n + 1, t + v, math.min(lo, v), math.max(hi, v))
      Row(g, v)
    }
    rollViews += roll.toMap

    // join: new A keys; half of their B lines arrive next batch, plus
    // extra lines for older keys
    val nA = if (b == 0) baseKeys / 2 else events / 2
    val aRows = (0 until nA).map { _ =>
      val k = nextK; nextK += 1
      val price = rnd.nextLong(100000L)
      joinA(k) = price
      Row(k, price)
    }
    val bNow = mutable.ArrayBuffer[(Long, Int, Long)]() ++= pendingB
    pendingB.clear()
    aRows.foreach { r =>
      val k = r.getLong(0)
      (1 to 1 + rnd.nextInt(3)).foreach { l =>
        val line = (k, l, rnd.nextLong(50L))
        if (rnd.nextBoolean()) bNow += line else pendingB += line
      }
    }
    if (b > 0) (0 until events / 10).foreach { _ =>
      val k = 1L + rnd.nextLong(nextK - 1)
      bNow += ((k, 100 + b, rnd.nextLong(50L)))
    }
    joinB ++= bNow
    (cdc.toSeq, rollRows, aRows, bNow.map { case (k, l, q) => Row(k, l, q) }.toSeq)
  }

  /** (rows, order-independent hash) of the join view of all deltas. */
  def joinDigest(): (Long, BigInt) = {
    var n = 0L
    var sum = BigInt(0)
    joinB.foreach { case (k, l, q) =>
      joinA.get(k).foreach { p =>
        n += 1
        sum += WriterRows.hash(s"$k|$l|$p|$q")
      }
    }
    (n, sum)
  }
}

object FoldModel {
  val cdcSchema = StructType(Seq(StructField("id", LongType),
    StructField("grp", StringType), StructField("region", StringType),
    StructField("v", LongType), StructField("seq", LongType),
    StructField("op", StringType)))
  val rollSchema = StructType(Seq(StructField("g", StringType),
    StructField("v", DoubleType)))
  val aSchema = StructType(Seq(StructField("k", LongType),
    StructField("price", LongType)))
  val bSchema = StructType(Seq(StructField("k", LongType),
    StructField("line", IntegerType), StructField("qty", LongType)))
}

/** The view lane: three state roots folded batch by batch through
  * `ViewMaintenance.run` — a cdcRollup (retention on, min/max of `v`,
  * one aux view, 4/2 buckets), a bucketed rollup (retention on, 2
  * buckets) and a join view (4 buckets); few buckets, because each one
  * costs files and filesystem calls on every fold and a run has tens of
  * seconds. Batch 0 (untimed) loads the base; every later batch folds
  * `events` CDC events into each root (op samples), then the read faces
  * run (bulk samples): cdc export as of the middle batch, cdc diff
  * middle -> last, cdc export since the middle batch, base and view
  * lookups, rollup export as of the middle batch and rollup diff. Every
  * fold and read is checked against the model outside the timed span. */
final class FoldWorkload(b: Bench, work: Path, seed: Long, baseKeys: Int,
                         events: Int) extends Workload {
  private val spark = b.spark
  private val model = new FoldModel(seed, baseKeys, events)
  private val dataDir = work.toString
  private var last = -1
  /** (batch index, tasks, filesystem calls) of each join fold of a
    * traced run */
  private val joinFolds = mutable.ArrayBuffer[(Int, Long, Long)]()
  private val deltaBytes = mutable.HashMap[String, Long]().withDefaultValue(0L)

  private def write(rows: Seq[Row], schema: StructType, name: String): Long = {
    val dir = work.resolve(name)
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(dir.toString)
    dirBytes(dir)
  }

  /** Data files under `p` (checksum files left out). */
  private def files(p: Path): Seq[Path] =
    Files.walk(p).iterator.asScala.filter(f => Files.isRegularFile(f) &&
      !f.getFileName.toString.endsWith(".crc")).toSeq

  private def dirBytes(p: Path): Long = files(p).map(Files.size).sum

  private def run(cfg: ViewConfig): ViewMaintenance.Report =
    ViewMaintenance.run(spark, cfg, dataDir)

  private def cdcCfg(batch: Int) = CdcRollupViewConfig("cdc_state", batch,
    keyColumns = Seq("id"), seqColumn = "seq", opColumn = "op",
    keys = Seq("grp"), valueColumns = Seq("v"),
    delta = DeltaInput(s"in/cdc_b$batch"), nBaseBuckets = 4, nAggBuckets = 2,
    minMaxColumns = Seq("v"),
    auxViews = Seq("byRegion" -> Seq("region")))
  private def rollCfg(batch: Int) = RollupViewConfig("roll_state", batch,
    keys = Seq("g"), valueColumn = "v", delta = DeltaInput(s"in/roll_b$batch"),
    nBuckets = 2)
  private def joinCfg(batch: Int) = JoinViewConfig("join_state", batch,
    key = "k", deltaA = DeltaInput(s"in/ja_b$batch"),
    deltaB = DeltaInput(s"in/jb_b$batch"), nBuckets = 4)

  def prepare(): Unit = Files.createDirectories(work)

  /** Batch 0 loads the base into all three roots and switches the two
    * rollups into as-of retention; untimed, it also warms the JIT. */
  def warmUp(): Unit = {
    foldBatch(timed = false)
    run(RetainViewConfig("cdc_state"))
    run(RetainViewConfig("roll_state"))
  }

  private def foldBatch(timed: Boolean): Unit = {
    val batch = last + 1
    val (cdc, roll, a, bb) = model.batch(batch)
    deltaBytes("cdc") += write(cdc, FoldModel.cdcSchema, s"in/cdc_b$batch")
    deltaBytes("rollup") += write(roll, FoldModel.rollSchema, s"in/roll_b$batch")
    deltaBytes("join") += write(a, FoldModel.aSchema, s"in/ja_b$batch") +
      write(bb, FoldModel.bSchema, s"in/jb_b$batch")
    last = batch
    def fold(family: String, cfg: ViewConfig): Unit = {
      val (rep, s) =
        if (timed) b.timed("op", s"fold_$family")(run(cfg))
        else (run(cfg), 0.0)
      if (timed) {
        b.sample(s"fold.$family", s)
        if (b.tracer.isDefined) {
          b.layerSample(s"fold.${family}_s", s)
          b.layerSample(s"fold.${family}_jobs", b.lastCounters.jobs)
          b.layerSample(s"fold.${family}_tasks", b.lastCounters.tasks)
          if (family == "join")
            joinFolds += ((batch, b.lastCounters.tasks, b.lastFsOps))
        }
      }
      b.check(rep.applied, s"fold $family batch $batch not applied")
    }
    fold("cdc", cdcCfg(batch))
    fold("join", joinCfg(batch))
    fold("rollup", rollCfg(batch))
    // batch 0 is checked through the as-of reads (the middle batch of
    // the first round) and the join view of all deltas
    if (timed) checkCurrent()
    if (timed && b.tracer.isDefined) recordState()
  }

  private def recordState(): Unit =
    Seq("cdc" -> "cdc_state", "rollup" -> "roll_state", "join" -> "join_state")
      .foreach { case (family, dir) =>
        val bytes = dirBytes(work.resolve(dir))
        b.layerValue(s"state.$family.bytes", bytes.toDouble)
        b.layerValue(s"state.$family.files", files(work.resolve(dir)).size.toDouble)
        b.layerValue(s"state.$family.bytes_per_delta_byte",
          bytes.toDouble / math.max(1L, deltaBytes(family)))
      }

  // ---- independent checks -------------------------------------------

  private def export(cfg: ExportViewConfig): DataFrame = {
    run(cfg)
    output(cfg.output)
  }

  private def cdcRows(df: DataFrame): Map[String, (Long, Long, Long, Long)] = {
    df.selectExpr("grp", "cast(n as bigint)", "cast(total as bigint)",
      "min_1", "max_1").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
  }

  private def rollRows(df: DataFrame): Map[String, (Long, Double, Double, Double)] =
    df.selectExpr("g", "cast(n as bigint)", "cast(total as double)",
      "cast(vmin as double)", "cast(vmax as double)").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4))).toMap

  private def checkCurrent(): Unit = {
    val cdc = cdcRows(export(ExportViewConfig("cdc_state", "out/cdc_now")))
    b.check(cdc == model.cdcViews(last), s"cdc view at batch $last")
    val roll = rollRows(export(ExportViewConfig("roll_state", "out/roll_now")))
    b.check(roll == model.rollViews(last), s"rollup view at batch $last")
    val jv = export(ExportViewConfig("join_state", "out/join_now"))
    val got = WriterRows.digestExpr(jv,
      "concat_ws('|', cast(k as string), cast(line as string), " +
        "cast(price as string), cast(qty as string))")
    b.check(got == model.joinDigest(), s"join view at batch $last: $got")
  }

  private def changed[V](from: Map[String, V], to: Map[String, V]): Set[String] =
    (from.keySet ++ to.keySet).filter(g => from.get(g) != to.get(g))

  private def readFace(name: String)(cfg: ViewConfig): ViewMaintenance.Report = {
    val (rep, s) = b.timed("bulk", s"read_$name")(run(cfg))
    b.sample(s"read.$name", s)
    rep
  }

  private def output(name: String): DataFrame =
    spark.read.parquet(work.resolve(name).toString)

  private def groupsOf(name: String, col: String): Set[String] =
    output(name).select(col).collect().map(_.getString(0)).toSet

  /** The rows a lookup returned, from its status payload. */
  private def matches(rep: ViewMaintenance.Report): Seq[JsonNode] =
    new ObjectMapper().readTree(rep.detail.get).get("matches").elements.asScala.toSeq

  /** The read faces, each call timed alone and checked after its span. */
  private def readFaces(): Unit = {
    val mid = last / 2
    val cdcChanged = changed(model.cdcViews(mid), model.cdcViews(last))
    readFace("cdc_asof")(ExportViewConfig("cdc_state", "out/cdc_asof",
      asOf = Some(mid.toLong)))
    b.check(cdcRows(output("out/cdc_asof")) == model.cdcViews(mid), "cdc asOf")
    readFace("cdc_diff")(DiffViewConfig("cdc_state", "out/cdc_diff", mid, last))
    b.check(groupsOf("out/cdc_diff", "grp") == cdcChanged, "cdc diff")
    readFace("cdc_since")(ExportViewConfig("cdc_state", "out/cdc_since",
      sinceBatch = Some(mid.toLong)))
    b.check(groupsOf("out/cdc_since", "grp") == cdcChanged, "cdc since")

    // ten live keys and one that never existed
    val ids = model.images.keysIterator.take(10).toSeq :+ -1L
    val base = readFace("cdc_lookup_base")(LookupViewConfig("cdc_state",
      ids.map(i => Map("id" -> i.toString)), layer = Some("base")))
    b.check(matches(base).map(m => m.get("id").asLong ->
        (m.get("grp").asText, m.get("v").asLong)).toMap ==
      ids.flatMap(i => model.images.get(i).map(im => i -> (im._1, im._3))).toMap,
      "cdc base lookup")
    val groups = model.cdcViews(last).keys.toSeq.sorted.take(5)
    val view = readFace("cdc_lookup_view")(LookupViewConfig("cdc_state",
      groups.map(g => Map("grp" -> g)), layer = Some("view")))
    b.check(matches(view).map(m => m.get("grp").asText ->
        (m.get("n").asLong, BigDecimal(m.get("total").asText).toLongExact)).toMap ==
      groups.map { g => val (n, t, _, _) = model.cdcViews(last)(g); g -> (n, t) }.toMap,
      "cdc view lookup")

    readFace("rollup_asof")(ExportViewConfig("roll_state", "out/roll_asof",
      asOf = Some(mid.toLong)))
    b.check(rollRows(output("out/roll_asof")) == model.rollViews(mid), "rollup asOf")
    readFace("rollup_diff")(DiffViewConfig("roll_state", "out/roll_diff", mid, last))
    b.check(groupsOf("out/roll_diff", "g") ==
      changed(model.rollViews(mid), model.rollViews(last)), "rollup diff")
  }

  /** One round: delta batches 1 and 2 folded into every root, then the
    * read faces. A round past the first only reads: a later batch folds
    * more history, so folding on would make the work of a run depend on
    * the machine's speed. */
  def unit(): Unit = {
    while (last < 2) foldBatch(timed = true)
    readFaces()
  }
  val minUnits = 1

  /** `op_s`: geometric mean of the three families' median fold times;
    * `bulk_s`: geometric mean of the read faces' median times. */
  def endToEnd(samples: Stats.Samples): Map[String, Double] =
    Map("op_s" -> geomeanOf(samples, "fold."),
      "bulk_s" -> geomeanOf(samples, "read."))

  /** Join-fold tasks and filesystem calls at the first and last timed
    * batch (1 and 2) of a traced run, and their rise per batch: the
    * cost of a join fold grows with the history it probes. */
  override def finish(): Seq[(String, Double)] =
    if (joinFolds.size < 2) Nil
    else {
      val ((b0, t0, f0), (b1, t1, f1)) = (joinFolds.head, joinFolds.last)
      Seq("fold.join_tasks_first" -> t0.toDouble,
        "fold.join_tasks_last" -> t1.toDouble,
        "fold.join_tasks_per_batch" -> (t1 - t0).toDouble / (b1 - b0),
        "fold.join_fs_ops_first" -> f0.toDouble,
        "fold.join_fs_ops_last" -> f1.toDouble,
        "fold.join_fs_ops_per_batch" -> (f1 - f0).toDouble / (b1 - b0))
    }
}
