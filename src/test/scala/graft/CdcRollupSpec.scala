package graft

import graft.operators.CdcRollup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The retraction-capable CDC rollup: cross-batch updates/deletes fold
  * into exact (n, total) group state; versioned buckets make replay
  * exactly-once. */
class CdcRollupSpec extends SparkSpec {
  import spark.implicits._

  private def tmpRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-cdcr").toString + "/state"

  /** (pk, group, value, seq, op) frame. */
  private def log(rows: (Long, String, Double, Long, String)*): DataFrame =
    rows.toDF("id", "grp", "v", "seq", "op")

  private def fold(root: String, id: Long, d: DataFrame): Boolean =
    CdcRollup.foldBatch(root, id, d, Seq("id"), "seq", "op",
      Seq("grp"), Seq("v"), nBaseBuckets = 4, nAggBuckets = 2)

  private def view(root: String): Map[String, (Long, Double)] =
    CdcRollup.readView(spark, root).map(_.collect().map(r =>
      r.getAs[String]("grp") ->
        ((r.getAs[Long]("n"),
          r.getAs[java.math.BigDecimal]("total").doubleValue()))).toMap)
      .getOrElse(Map.empty)

  test("cross-batch insert/update/delete fold to the one-shot GROUP BY " +
      "over the final images; group-moving update retracts exactly") {
    val root = tmpRoot()
    // batch 0: inserts across two groups
    fold(root, 0L, log(
      (1L, "a", 10.0, 1L, "I"), (2L, "a", 20.0, 1L, "I"),
      (3L, "b", 30.0, 1L, "I"))) shouldBe true
    view(root) shouldBe Map("a" -> ((2L, 30.0)), "b" -> ((1L, 30.0)))
    // batch 1: cross-batch UPDATE moving id=2 from group a to b with a
    // new value, and a same-group value update of id=3
    fold(root, 1L, log(
      (2L, "b", 25.0, 2L, "U"), (3L, "b", 31.0, 2L, "U"))) shouldBe true
    view(root) shouldBe Map("a" -> ((1L, 10.0)), "b" -> ((2L, 56.0)))
    // batch 2: cross-batch DELETE of id=1 empties group a entirely —
    // the group must drop out of the view, not linger at n=0
    fold(root, 2L, log((1L, "a", 0.0, 3L, "D"))) shouldBe true
    view(root) shouldBe Map("b" -> ((2L, 56.0)))
    // the base is the SCD1 current-image table
    val base = CdcRollup.readBase(spark, root).get
      .select("id", "grp", "v").orderBy("id")
    rows(base) shouldBe Seq(Seq(2L, "b", 25.0), Seq(3L, "b", 31.0))
  }

  test("replay of a committed batch is a byte-stable no-op; a crashed " +
      "batch's garbage is reaped and refolded") {
    val root = tmpRoot()
    fold(root, 0L, log((1L, "a", 1.0, 1L, "I"))) shouldBe true
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def stateFiles(): Map[String, Long] = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(root), true)
      val m = scala.collection.mutable.Map[String, Long]()
      while (it.hasNext) { val st = it.next()
        m += st.getPath.toString -> st.getModificationTime }
      m.toMap
    }
    val before = stateFiles()
    fold(root, 0L, log((9L, "z", 99.0, 1L, "I"))) shouldBe false
    stateFiles() shouldBe before
    // fake a crashed batch 1: an unmarked version dir with garbage —
    // readers never see it, and the real batch 1 reaps + refolds
    val aggB0 = fs.listStatus(new org.apache.hadoop.fs.Path(root, "agg"))
      .head.getPath
    Seq(("zz", 77L)).toDF("grp", "n")
      .write.parquet(new org.apache.hadoop.fs.Path(aggB0, "v1").toString)
    view(root) shouldBe Map("a" -> ((1L, 1.0)))
    fold(root, 1L, log((2L, "a", 2.0, 1L, "I"))) shouldBe true
    view(root) shouldBe Map("a" -> ((2L, 3.0)))
  }

  test("delete/update of a key with no current image contributes " +
      "nothing (out-of-order feeds degrade to upsert, documented); " +
      "an empty batch commits its marker") {
    val root = tmpRoot()
    fold(root, 0L, log((7L, "a", 5.0, 1L, "D"))) shouldBe true
    view(root) shouldBe Map.empty
    // a U with no image is an insert (upsert semantics)
    fold(root, 1L, log((8L, "a", 4.0, 1L, "U"))) shouldBe true
    view(root) shouldBe Map("a" -> ((1L, 4.0)))
    // empty delta: exactly-once marker, no state change
    fold(root, 2L, log().filter(lit(false))) shouldBe true
    fold(root, 2L, log((1L, "x", 1.0, 1L, "I"))) shouldBe false
    view(root) shouldBe Map("a" -> ((1L, 4.0)))
  }

  test("within-batch netting: highest seq wins, net delete retracts; " +
      "retraction arithmetic is decimal-exact under adversarial " +
      "doubles") {
    val root = tmpRoot()
    fold(root, 0L, log(
      (1L, "a", 0.1, 1L, "I"), (1L, "a", 0.2, 2L, "U"), // net: 0.2
      (2L, "a", 0.3, 1L, "I"), (2L, "a", 0.3, 2L, "D"), // net: gone
      (3L, "a", 1e15, 1L, "I"))) shouldBe true
    view(root) shouldBe Map("a" -> ((2L, 1e15 + 0.2)))
    // retract the large value: a double accumulator would leave dust
    // ((0.2 + 1e15) - 1e15 != 0.2 in fp64); decimal state is exact
    fold(root, 1L, log((3L, "a", 0.0, 3L, "D"))) shouldBe true
    view(root) shouldBe Map("a" -> ((1L, 0.2)))
  }

  test("layout pin refuses type drift and bucket-count change; " +
      "compactStateTo collapses versions/markers and re-shards") {
    val root = tmpRoot()
    fold(root, 0L, log((1L, "a", 1.0, 1L, "I"),
      (2L, "b", 2.0, 1L, "I"))) shouldBe true
    fold(root, 1L, log((3L, "b", 3.0, 1L, "I"))) shouldBe true
    // drifted value type (double -> string): refuse loud
    intercept[Exception] {
      CdcRollup.foldBatch(root, 2L,
        Seq((4L, "a", "x", 1L, "I")).toDF("id", "grp", "v", "seq", "op"),
        Seq("id"), "seq", "op", Seq("grp"), Seq("v"), 4, 2)
    }.getMessage.toLowerCase should include("layout")
    // changed bucket count: refuse loud (re-shard via compact)
    intercept[Exception] {
      fold2(root, 2L, log((4L, "a", 4.0, 1L, "I")))
    }.getMessage.toLowerCase should include("layout")
    val fresh = root + "_v2"
    CdcRollup.compactStateTo(spark, root, fresh,
      nBaseBuckets = 2, nAggBuckets = 1) shouldBe 2L
    view(fresh) shouldBe view(root)
    // the fresh root SEEDS the source's committed frontier (1): a
    // replay of any pre-compaction id resolves committed and no-ops —
    // with a zeroed marker it would have silently RE-APPLIED
    def freshFold(id: Long, d: DataFrame): Boolean =
      CdcRollup.foldBatch(fresh, id, d, Seq("id"), "seq", "op",
        Seq("grp"), Seq("v"), nBaseBuckets = 2, nAggBuckets = 1)
    freshFold(1L, log((9L, "z", 9.0, 1L, "I"))) shouldBe false
    freshFold(0L, log((9L, "z", 9.0, 1L, "I"))) shouldBe false
    view(fresh) shouldBe view(root)
    // folds continue ABOVE the frontier with the new layout
    freshFold(2L, log((1L, "a", 0.0, 9L, "D"))) shouldBe true
    view(fresh) shouldBe Map("b" -> ((2L, 5.0)))
    // compacting into an occupied root refuses
    intercept[IllegalArgumentException] {
      CdcRollup.compactStateTo(spark, root, fresh, 2, 1)
    }.getMessage should include("already holds a state")
  }

  private def fold2(root: String, id: Long, d: DataFrame): Boolean =
    CdcRollup.foldBatch(root, id, d, Seq("id"), "seq", "op",
      Seq("grp"), Seq("v"), nBaseBuckets = 8, nAggBuckets = 2)

  test("NULL group values merge as ONE group across folds (null-safe " +
      "state merge); NULL pk components refuse loud; reserved payload " +
      "names refuse") {
    val root = tmpRoot()
    def nlog(rows: (Long, Option[String], Double, Long, String)*) =
      rows.toDF("id", "grp", "v", "seq", "op")
    def nfold(id: Long, d: DataFrame) =
      CdcRollup.foldBatch(root, id, d, Seq("id"), "seq", "op",
        Seq("grp"), Seq("v"), 4, 2)
    // batch 0 inserts a NULL-group row; batch 1 adds another and
    // updates the first — a join-based merge that treats null != null
    // would split the NULL group into never-merging state rows
    nfold(0L, nlog((1L, None, 10.0, 1L, "I"))) shouldBe true
    nfold(1L, nlog((2L, None, 5.0, 1L, "I"),
      (1L, None, 11.0, 2L, "U"))) shouldBe true
    val got = CdcRollup.readView(spark, root).get.collect()
    got.length shouldBe 1 // ONE NULL-group row, not two
    got.head.isNullAt(0) shouldBe true
    got.head.getAs[Long]("n") shouldBe 2L
    got.head.getAs[java.math.BigDecimal]("total")
      .doubleValue() shouldBe 16.0
    // a NULL pk can never be matched for update/delete: refuse loud
    val e = intercept[IllegalArgumentException] {
      CdcRollup.foldBatch(root, 2L,
        Seq((Option.empty[java.lang.Long], "a", 1.0, 1L, "I"))
          .toDF("id", "grp", "v", "seq", "op"),
        Seq("id"), "seq", "op", Seq("grp"), Seq("v"), 4, 2)
    }
    e.getMessage should include("NULL in a pk column")
    // payload columns colliding with state/staging names refuse
    val e2 = intercept[IllegalArgumentException] {
      CdcRollup.foldBatch(tmpRoot(), 0L,
        Seq((1L, "a", 1.0, 7L, 1L, "I"))
          .toDF("id", "grp", "v", "n", "seq", "op"),
        Seq("id"), "seq", "op", Seq("grp"), Seq("v"), 4, 2)
    }
    e2.getMessage should include("collide")
  }

  test("bucket isolation: a fold touches ONLY its delta's buckets — " +
      "other buckets keep their version dirs byte-untouched; a stale " +
      "staging dir of the replayed batch is reaped") {
    val root = tmpRoot()
    // ids chosen to hash into different base buckets (verified below)
    fold(root, 0L, log((1L, "a", 1.0, 1L, "I"),
      (2L, "b", 2.0, 1L, "I"))) shouldBe true
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def versions(layer: String): Map[String, Seq[String]] =
      fs.listStatus(new org.apache.hadoop.fs.Path(root, layer)).toSeq
        .map(_.getPath).filter(_.getName.startsWith("bucket="))
        .map(b => b.getName ->
          fs.listStatus(b).toSeq.map(_.getPath.getName).sorted).toMap
    val b0 = versions("base")
    // fold a key hashing into a DIFFERENT bucket than id=1's
    val bucketOf = (id: Long) => spark.range(1).select(
      pmod(xxhash64(lit(id)), lit(4)).cast("int")).head.getInt(0)
    val fresh = (3L to 40L).find(i => bucketOf(i) != bucketOf(1L)).get
    // plant a stale hidden staging dir for batch 1 (a prior crash
    // before any rename): the replay must reap it, not trip on it
    fs.mkdirs(new org.apache.hadoop.fs.Path(root, "base/.staging1"))
    fold(root, 1L, log((fresh, "c", 3.0, 1L, "I"))) shouldBe true
    fs.exists(new org.apache.hadoop.fs.Path(root, "base/.staging1")) shouldBe
      false
    val b1 = versions("base")
    // id=1's bucket: version list identical (no new version, no reap)
    val untouched = s"bucket=${bucketOf(1L)}"
    b1(untouched) shouldBe b0(untouched)
    // the fresh key's bucket gained v1
    b1(s"bucket=${bucketOf(fresh)}") should contain("v1")
    view(root) shouldBe Map("a" -> ((1L, 1.0)), "b" -> ((1L, 2.0)),
      "c" -> ((1L, 3.0)))
  }

  test("multi-measure state: TWO measures fold in ONE pass — " +
      "group-moving update and delete retract both exactly; state " +
      "columns are (n, total_1, total_2)") {
    val root = tmpRoot()
    def mlog(rows: (Long, String, Double, Double, Long, String)*) =
      rows.toDF("id", "grp", "v", "w", "seq", "op")
    def mfold(id: Long, d: DataFrame) =
      CdcRollup.foldBatch(root, id, d, Seq("id"), "seq", "op",
        Seq("grp"), Seq("v", "w"), 4, 2)
    def mview(): Map[String, (Long, Double, Double)] =
      CdcRollup.readView(spark, root).map(_.collect().map(r =>
        r.getAs[String]("grp") -> ((r.getAs[Long]("n"),
          r.getAs[java.math.BigDecimal]("total_1").doubleValue(),
          r.getAs[java.math.BigDecimal]("total_2").doubleValue()))).toMap)
        .getOrElse(Map.empty)
    mfold(0L, mlog((1L, "a", 10.0, 1.0, 1L, "I"),
      (2L, "a", 20.0, 2.0, 1L, "I"),
      (3L, "b", 30.0, 0.5, 1L, "I"))) shouldBe true
    mview() shouldBe Map("a" -> ((2L, 30.0, 3.0)), "b" -> ((1L, 30.0, 0.5)))
    // group-moving update retracts BOTH measures at the old group and
    // inserts both at the new; adversarial double for the second
    // measure (decimal state stays exact under retraction)
    mfold(1L, mlog((2L, "b", 25.0, 1e15, 2L, "U"))) shouldBe true
    mview() shouldBe Map("a" -> ((1L, 10.0, 1.0)),
      "b" -> ((2L, 55.0, 1e15 + 0.5)))
    mfold(2L, mlog((2L, "b", 0.0, 0.0, 3L, "D"))) shouldBe true
    mview() shouldBe Map("a" -> ((1L, 10.0, 1.0)), "b" -> ((1L, 30.0, 0.5)))
    // declaring a different measure set against the pinned state
    // refuses loud (the layout pin carries valueCols)
    intercept[Exception] {
      CdcRollup.foldBatch(root, 3L,
        mlog((9L, "c", 1.0, 1.0, 1L, "I")).withColumnRenamed("w", "w2"),
        Seq("id"), "seq", "op", Seq("grp"), Seq("v", "w2"), 4, 2)
    }.getMessage.toLowerCase should include("layout")
    // duplicate measures refuse
    intercept[IllegalArgumentException] {
      CdcRollup.foldBatch(tmpRoot(), 0L, mlog((1L, "a", 1.0, 1.0, 1L, "I")),
        Seq("id"), "seq", "op", Seq("grp"), Seq("v", "v"), 4, 2)
    }.getMessage should include("duplicate")
  }

  /** (id, grp, v, m(optional), seq, op) frame for the minMax tests:
    * v is measure AND minMax column, m is minMax-only with NULLs. */
  private def mmlog(rows: (Long, String, Double, Option[Double], Long,
      String)*): DataFrame =
    rows.toDF("id", "grp", "v", "m", "seq", "op")

  private def mmfold(root: String, id: Long, d: DataFrame): Boolean =
    CdcRollup.foldBatch(root, id, d, Seq("id"), "seq", "op",
      Seq("grp"), Seq("v"), nBaseBuckets = 4, nAggBuckets = 2,
      minMaxCols = Seq("v", "m"))

  private def mmview(root: String)
      : Map[String, (Long, Double, Option[Double], Option[Double],
        Option[Double], Option[Double])] =
    CdcRollup.readView(spark, root).map(_.collect().map { r =>
      def d(c: String): Option[Double] =
        if (r.isNullAt(r.fieldIndex(c))) None
        else Some(r.getAs[Double](c))
      r.getAs[String]("grp") -> ((r.getAs[Long]("n"),
        r.getAs[java.math.BigDecimal]("total").doubleValue(),
        d("min_1"), d("max_1"), d("min_2"), d("max_2")))
    }.toMap).getOrElse(Map.empty)

  test("minMax state: exact per-group MIN/MAX under retraction — " +
      "deleting an extremum recomputes from survivors, group-moving " +
      "updates recompute BOTH groups, an all-NULL surviving column " +
      "stores NULL (presence beats coalesce), untouched groups keep " +
      "their stored values byte-untouched") {
    val root = tmpRoot()
    mmfold(root, 0L, mmlog(
      (1L, "a", 10.0, Some(5.0), 1L, "I"),
      (2L, "a", 20.0, Some(1.0), 1L, "I"),
      (3L, "a", 30.0, None, 1L, "I"),
      (4L, "b", 40.0, Some(9.0), 1L, "I"),
      (5L, "c", 7.0, Some(2.0), 1L, "I"))) shouldBe true
    mmview(root) shouldBe Map(
      "a" -> ((3L, 60.0, Some(10.0), Some(30.0), Some(1.0), Some(5.0))),
      "b" -> ((1L, 40.0, Some(40.0), Some(40.0), Some(9.0), Some(9.0))),
      "c" -> ((1L, 7.0, Some(7.0), Some(7.0), Some(2.0), Some(2.0))))
    // batch 1: DELETE the m-extremum holder (id 2, m=1.0) and MOVE
    // id 3 into group b — both groups' min/max must recompute from
    // the surviving images, not from any invertible shortcut
    mmfold(root, 1L, mmlog(
      (2L, "a", 0.0, None, 2L, "D"),
      (3L, "b", 35.0, None, 2L, "U"))) shouldBe true
    mmview(root) shouldBe Map(
      "a" -> ((1L, 10.0, Some(10.0), Some(10.0), Some(5.0), Some(5.0))),
      "b" -> ((2L, 75.0, Some(35.0), Some(40.0), Some(9.0), Some(9.0))),
      "c" -> ((1L, 7.0, Some(7.0), Some(7.0), Some(2.0), Some(2.0))))
    // batch 2: empty group a entirely; NULL out b's last non-NULL m —
    // the recomputed MIN/MAX of an all-NULL column is NULL, and a
    // coalesce against the old state would wrongly resurrect 9.0
    mmfold(root, 2L, mmlog(
      (1L, "a", 0.0, None, 3L, "D"),
      (4L, "b", 40.0, None, 3L, "U"))) shouldBe true
    mmview(root) shouldBe Map(
      "b" -> ((2L, 75.0, Some(35.0), Some(40.0), None, None)),
      "c" -> ((1L, 7.0, Some(7.0), Some(7.0), Some(2.0), Some(2.0))))
    // the replay discipline holds with the grp layer in the commit
    mmfold(root, 2L, mmlog((9L, "z", 9.0, None, 1L, "I"))) shouldBe false
    mmview(root).keySet shouldBe Set("b", "c")
  }

  test("minMax columns keep their OWN types: string and date MIN/MAX " +
      "recompute exactly under retraction (no numeric cast sneaks in)") {
    val root = tmpRoot()
    def dlog(rows: (Long, String, Double, String, java.sql.Date, Long,
        String)*) = rows.toDF("id", "grp", "v", "s", "d", "seq", "op")
    def dfold(id: Long, d: DataFrame) =
      CdcRollup.foldBatch(root, id, d, Seq("id"), "seq", "op",
        Seq("grp"), Seq("v"), 4, 2, minMaxCols = Seq("s", "d"))
    val d1 = java.sql.Date.valueOf("2020-01-01")
    val d2 = java.sql.Date.valueOf("2021-06-15")
    val d3 = java.sql.Date.valueOf("2019-12-31")
    dfold(0L, dlog(
      (1L, "a", 1.0, "banana", d1, 1L, "I"),
      (2L, "a", 2.0, "apple", d2, 1L, "I"),
      (3L, "a", 3.0, "cherry", d3, 1L, "I"))) shouldBe true
    val v0 = CdcRollup.readView(spark, root).get.collect().head
    v0.getAs[String]("min_1") shouldBe "apple"
    v0.getAs[String]("max_1") shouldBe "cherry"
    v0.getAs[java.sql.Date]("min_2") shouldBe d3
    v0.getAs[java.sql.Date]("max_2") shouldBe d2
    // delete BOTH extremum holders in one batch: the string max and
    // the date min go; survivors decide
    dfold(1L, dlog(
      (3L, "a", 0.0, "x", d3, 2L, "D"))) shouldBe true
    val v1 = CdcRollup.readView(spark, root).get.collect().head
    v1.getAs[String]("max_1") shouldBe "banana"
    v1.getAs[java.sql.Date]("min_2") shouldBe d1
    v1.getAs[Long]("n") shouldBe 2L
  }

  test("minMax pin migration: a sums-only state refuses a minMax fold " +
      "(grp layer was never maintained) and vice versa; compact " +
      "carries the grp layer so recompute keeps working at the fresh " +
      "root; lookupBase/readBase ignore the extra layer") {
    // sums-only state + minMaxCols → pin mismatch, loud
    val plain = tmpRoot()
    fold(plain, 0L, log((1L, "a", 1.0, 1L, "I"))) shouldBe true
    intercept[Exception] {
      mmfold(plain, 1L, mmlog((2L, "a", 2.0, Some(1.0), 2L, "I")))
    }.getMessage.toLowerCase should include("layout")
    // minMax state + sums-only fold → pin mismatch, loud
    val mm = tmpRoot()
    mmfold(mm, 0L, mmlog(
      (1L, "a", 10.0, Some(5.0), 1L, "I"),
      (2L, "a", 20.0, Some(1.0), 1L, "I"),
      (3L, "b", 30.0, Some(7.0), 1L, "I"))) shouldBe true
    intercept[Exception] {
      CdcRollup.foldBatch(mm, 1L,
        mmlog((4L, "a", 4.0, None, 1L, "I")).drop("m"),
        Seq("id"), "seq", "op", Seq("grp"), Seq("v"), 4, 2)
    }.getMessage.toLowerCase should include("layout")
    // compact (re-shard) carries base+agg+grp; min/max keep
    // recomputing at the fresh root — an extremum delete AFTER the
    // compact can only come out right if the grp layer survived
    val fresh = mm + "_v2"
    CdcRollup.compactStateTo(spark, mm, fresh,
      nBaseBuckets = 2, nAggBuckets = 1) shouldBe 2L
    mmview(fresh) shouldBe mmview(mm)
    CdcRollup.foldBatch(fresh, 1L,
      mmlog((2L, "a", 0.0, None, 2L, "D")),
      Seq("id"), "seq", "op", Seq("grp"), Seq("v"),
      nBaseBuckets = 2, nAggBuckets = 1,
      minMaxCols = Seq("v", "m")) shouldBe true
    mmview(fresh)("a") shouldBe
      ((1L, 10.0, Some(10.0), Some(10.0), Some(5.0), Some(5.0)))
    // the base serving path is oblivious to the extra layer
    rows(CdcRollup.lookupBase(spark, fresh, Seq(1L).toDF("id")).get
      .select("id", "grp", "v")) shouldBe Seq(Seq(1L, "a", 10.0))
  }

  test("lookupView: bucket-pruned GROUP lookup into the agg layer — " +
      "equals the view filter, serves the NULL group (null-safe " +
      "semi), reads only the touched agg buckets, refuses drift") {
    val root = tmpRoot()
    def nlog(rows: (Long, Option[String], Double, Long, String)*) =
      rows.toDF("id", "grp", "v", "seq", "op")
    CdcRollup.foldBatch(root, 0L, nlog(
      (1L, Some("a"), 1.0, 1L, "I"), (2L, Some("b"), 2.0, 1L, "I"),
      (3L, None, 3.0, 1L, "I"), (4L, Some("a"), 4.0, 1L, "I")),
      Seq("id"), "seq", "op", Seq("grp"), Seq("v"), 4, 2) shouldBe true
    val got = CdcRollup.lookupView(spark, root,
      Seq(Some("a"), Option.empty[String]).toDF("grp")).get
    got.collect().map { r =>
      (if (r.isNullAt(0)) None else Some(r.getString(0))) ->
        ((r.getAs[Long]("n"),
          r.getAs[java.math.BigDecimal]("total").doubleValue()))
    }.toMap shouldBe Map(
      Some("a") -> ((2L, 5.0)), None -> ((1L, 3.0)))
    // IO pruning: only agg bucket dirs of the probed groups open
    got.inputFiles should not be empty
    got.inputFiles.foreach { f =>
      withClue(f) { f.contains("/agg/") shouldBe true }
    }
    // group column set / type drift refuse
    intercept[IllegalArgumentException] {
      CdcRollup.lookupView(spark, root, Seq(1L).toDF("id"))
    }.getMessage should include("exactly the pinned group columns")
    intercept[IllegalArgumentException] {
      CdcRollup.lookupView(spark, root,
        Seq(1).toDF("grp").select(col("grp").cast("int")))
    }.getMessage should include("type-sensitive")
    // groups that hit no state row: empty, not an error
    CdcRollup.lookupView(spark, root, Seq("zz").toDF("grp")).get
      .count() shouldBe 0L
  }

  test("batch ids are monotone: an UNCOMMITTED id below the committed " +
      "frontier refuses loud (its versions would be invisible); a " +
      "COMMITTED id stays a quiet no-op") {
    val root = tmpRoot()
    fold(root, 0L, log((1L, "a", 1.0, 1L, "I"))) shouldBe true
    fold(root, 5L, log((2L, "a", 2.0, 1L, "I"))) shouldBe true
    // id 3 never committed and the frontier is 5: loud refusal, state
    // untouched — a silent success would vanish the batch's effect
    val e = intercept[IllegalArgumentException] {
      fold(root, 3L, log((3L, "a", 3.0, 1L, "I")))
    }
    e.getMessage should include("out of order")
    view(root) shouldBe Map("a" -> ((2L, 3.0)))
    // replay of committed id 0: quiet no-op, the scheduler idiom
    fold(root, 0L, log((9L, "z", 9.0, 1L, "I"))) shouldBe false
    view(root) shouldBe Map("a" -> ((2L, 3.0)))
  }

  test("cleanOrphanBatchDirs: abandoned staging and uncommitted " +
      "versions below the frontier go regardless of age; fresh " +
      "in-flight staging above the frontier survives; committed " +
      "state is untouched and reads byte-identically") {
    val root = tmpRoot()
    fold(root, 0L, log((1L, "a", 1.0, 1L, "I"),
      (2L, "b", 2.0, 1L, "I"))) shouldBe true
    fold(root, 4L, log((3L, "b", 3.0, 1L, "I"))) shouldBe true
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def p(s: String) = new org.apache.hadoop.fs.Path(s"$root/$s")
    // abandoned id 2 (below frontier 4): staging + an unmarked version
    fs.mkdirs(p("base/.staging2"))
    val bucket = fs.listStatus(p("agg")).head.getPath
    Seq(("zz", 7L)).toDF("grp", "n").write
      .parquet(new org.apache.hadoop.fs.Path(bucket, "v2").toString)
    // in-flight id 9 (above frontier, fresh): must survive the sweep
    fs.mkdirs(p("base/.staging9"))
    val before = view(root)
    val swept = CdcRollup.cleanOrphanBatchDirs(spark, root)
    swept.exists(_.endsWith("base/.staging2")) shouldBe true
    swept.exists(_.endsWith("/v2")) shouldBe true
    swept.exists(_.endsWith("base/.staging9")) shouldBe false
    fs.exists(p("base/.staging9")) shouldBe true
    // aged in-flight staging above the frontier goes too
    CdcRollup.cleanOrphanBatchDirs(spark, root, olderThanMs = 0L)
      .exists(_.endsWith("base/.staging9")) shouldBe true
    view(root) shouldBe before
  }

  test("foldMarkers: per-batch markers collapse into _APPLIED_UPTO_; " +
      "UNCOMMITTED gap garbage below the frontier is swept BEFORE the " +
      "watermark exists, readers resolve versions identically, a " +
      "subsumed id no-ops, and later folds continue") {
    val root = tmpRoot()
    // ids 0 and 2 with a GAP at 1 — the uncommitted-garbage sweep must
    // fire on a version dir of the gap id, which the watermark would
    // otherwise legitimize as committed state
    fold(root, 0L, log((1L, "a", 1.0, 1L, "I"))) shouldBe true
    fold(root, 2L, log((2L, "b", 2.0, 1L, "I"),
      (1L, "a", 1.5, 2L, "U"))) shouldBe true
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // plant crash garbage of the abandoned gap id 1 (below frontier 2,
    // NO marker): exactly what foldMarkers claims to sweep
    val bucket = fs.listStatus(new org.apache.hadoop.fs.Path(root, "agg"))
      .head.getPath
    val garbage = new org.apache.hadoop.fs.Path(bucket, "v1")
    Seq(("zz", 7L)).toDF("grp", "n").write.parquet(garbage.toString)
    val before = view(root)
    // fresh markers + the default 24h age gate: NOTHING folds — ids
    // inside their replay window keep per-id markers (the gate that
    // keeps out-of-order submissions loud, see the monotone spec)
    CdcRollup.foldMarkers(spark, root) shouldBe None
    def rootNames() = fs.listStatus(
      new org.apache.hadoop.fs.Path(root)).map(_.getPath.getName).toSet
    rootNames().filter(_.matches("_APPLIED_\\d+")).size shouldBe 2
    // gate at 0: everything is aged — markers fold, gap garbage goes
    CdcRollup.foldMarkers(spark, root, olderThanMs = 0L) shouldBe Some(2L)
    fs.exists(garbage) shouldBe false
    rootNames() should contain("_APPLIED_UPTO_2")
    rootNames().filter(_.matches("_APPLIED_\\d+")) shouldBe empty
    // readers resolve identically through the watermark
    view(root) shouldBe before
    // an id at/below the watermark resolves committed: quiet no-op
    // (the documented cost of subsuming an ABANDONED aged gap)
    fold(root, 1L, log((9L, "z", 9.0, 1L, "I"))) shouldBe false
    view(root) shouldBe before
    // and the stream continues: a fresh id folds normally, then a
    // second marker fold advances the watermark
    fold(root, 3L, log((3L, "c", 3.0, 1L, "I"))) shouldBe true
    view(root) shouldBe (before + ("c" -> ((1L, 3.0))))
    CdcRollup.foldMarkers(spark, root, olderThanMs = 0L) shouldBe Some(3L)
    rootNames() should contain("_APPLIED_UPTO_3")
    rootNames() should not contain "_APPLIED_UPTO_2"
    view(root) shouldBe (before + ("c" -> ((1L, 3.0))))
    // a fully-watermarked root (zero per-id markers) compacts like
    // any other: versions resolve through the watermark
    val fresh = root + "_c"
    CdcRollup.compactStateTo(spark, root, fresh, 2, 1) shouldBe 3L
    view(fresh) shouldBe view(root)
  }

  test("foldMarkers age gate keeps the monotone guard loud: with " +
      "fresh per-id markers an out-of-order never-delivered id " +
      "refuses instead of vanishing under a premature watermark") {
    val root = tmpRoot()
    fold(root, 0L, log((1L, "a", 1.0, 1L, "I"))) shouldBe true
    fold(root, 5L, log((2L, "a", 2.0, 1L, "I"))) shouldBe true
    // the GC cadence runs foldMarkers on every tick (the streaming
    // sink); with the age gate it must NOT watermark fresh ids
    CdcRollup.foldMarkers(spark, root) shouldBe None
    // so the never-delivered gap id 3 still hits the loud monotone
    // refusal — the silent-vanish class the gate exists to prevent
    val e = intercept[IllegalArgumentException] {
      fold(root, 3L, log((3L, "a", 3.0, 1L, "I")))
    }
    e.getMessage should include("out of order")
    view(root) shouldBe Map("a" -> ((2L, 3.0)))
  }

  test("compactStateTo retry after a crash that pinned the fresh root " +
      "but committed nothing: reclaimed, not refused") {
    val root = tmpRoot()
    fold(root, 0L, log((1L, "a", 1.0, 1L, "I"),
      (2L, "b", 2.0, 1L, "I"))) shouldBe true
    val fresh = root + "_v2"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // simulate the crash window: pin written, layers half-staged, no
    // marker — exactly what a kill between pinLayout and _APPLIED_0
    // leaves behind
    graft.sources.PartitionedStore.pinLayout(fs,
      new org.apache.hadoop.fs.Path(fresh), fresh,
      "cdcRollup|stale|stale|stale|stale|9|9")
    fs.mkdirs(new org.apache.hadoop.fs.Path(fresh, "base/bucket=0/v0"))
    CdcRollup.compactStateTo(spark, root, fresh,
      nBaseBuckets = 2, nAggBuckets = 1) shouldBe 2L
    view(fresh) shouldBe view(root)
    // a COMMITTED fresh root still refuses
    intercept[IllegalArgumentException] {
      CdcRollup.compactStateTo(spark, root, fresh, 2, 1)
    }.getMessage should include("already holds a state")
    // a non-empty, non-view directory refuses rather than wiping it
    val occupied = tmpRoot()
    fs.mkdirs(new org.apache.hadoop.fs.Path(occupied, "somedata"))
    intercept[IllegalArgumentException] {
      CdcRollup.compactStateTo(spark, root, occupied, 2, 1)
    }.getMessage should include("not empty")
  }

  test("lookupBase: bucket-pruned point lookup — equals the full-base " +
      "filter, reads ONLY the keys' bucket files, refuses type drift " +
      "and NULL keys") {
    val root = tmpRoot()
    fold(root, 0L, log((1L to 40L).map(i =>
      (i, s"g${i % 3}", i.toDouble, 1L, "I")): _*)) shouldBe true
    fold(root, 1L, log((3L, "gX", 3.5, 2L, "U"))) shouldBe true
    val keys = Seq(3L, 17L).toDF("id")
    val got = CdcRollup.lookupBase(spark, root, keys).get
    rows(got.select("id", "grp", "v").orderBy("id")) shouldBe
      Seq(Seq(3L, "gX", 3.5), Seq(17L, "g2", 17.0))
    // IO pruning: every file the lookup plan reads lives under the
    // two keys' OWN bucket dirs — the other buckets never open
    val bucketOf = (id: Long) => spark.range(1).select(
      pmod(xxhash64(lit(id)), lit(4)).cast("int")).head.getInt(0)
    val allowed = Set(3L, 17L).map(bucketOf).map(b => s"/bucket=$b/")
    val baseFiles = got.inputFiles.filter(_.contains("/base/"))
    baseFiles should not be empty
    baseFiles.foreach { f =>
      withClue(f) { allowed.exists(f.contains) shouldBe true }
    }
    // a key frame missing a pk column / carrying extras refuses
    intercept[IllegalArgumentException] {
      CdcRollup.lookupBase(spark, root, Seq((3L, "x")).toDF("id", "zz"))
    }.getMessage should include("exactly the pinned pk columns")
    // type drift refuses (int key vs pinned bigint — xxhash64 would
    // probe the wrong bucket and miss silently)
    intercept[IllegalArgumentException] {
      CdcRollup.lookupBase(spark, root,
        Seq(3).toDF("id").select(col("id").cast("int")))
    }.getMessage should include("type-sensitive")
    // NULL keys refuse
    intercept[IllegalArgumentException] {
      CdcRollup.lookupBase(spark, root,
        Seq(Option.empty[java.lang.Long]).toDF("id"))
    }.getMessage should include("NULL")
    // keys that hit no image: empty result, not an error
    CdcRollup.lookupBase(spark, root, Seq(9999L).toDF("id"))
      .map(_.count()).getOrElse(0L) shouldBe 0L
  }

  test("randomized as-of/diff differential: at EVERY batch of a " +
      "random adversarially-cut CDC log, readViewAsOf equals the " +
      "one-shot GROUP BY over that prefix's final images, and " +
      "diffView between random batch pairs equals the model diff " +
      "(seeded, 3 trials)") {
    val rnd = new scala.util.Random(20260816L)
    (0 until 3).foreach { trial =>
      val root = tmpRoot()
      CdcRollup.enableRetention(spark, root)
      case class Ev(id: Long, grp: Option[String], g2: Option[String],
                    v: Option[Double], seq: Long, op: String)
      val events = (1 to 12).flatMap { id =>
        val n = 1 + rnd.nextInt(4)
        (1 to n).map { s =>
          Ev(id.toLong,
            if (rnd.nextInt(5) == 0) None else Some(s"g${rnd.nextInt(3)}"),
            if (rnd.nextInt(5) == 0) None else Some(s"h${rnd.nextInt(2)}"),
            if (rnd.nextInt(6) == 0) None else Some(rnd.nextInt(1000) / 10.0),
            s.toLong,
            if (s == 1) "I" else if (rnd.nextBoolean()) "U" else "D")
        }
      }
      val stream = events.sortBy(e => (e.seq, e.id))
      val nCuts = 2 + rnd.nextInt(4)
      val cuts = (0 +: Seq.fill(nCuts)(rnd.nextInt(stream.length + 1))
        :+ stream.length).sorted
      val parts = cuts.zip(cuts.tail).map { case (a, b) =>
        stream.slice(a, b) }
      def foldAll(r: String): Unit =
        parts.zipWithIndex.foreach { case (evs, i) =>
          val df = evs.map(e => (e.id, e.grp, e.g2, e.v, e.seq, e.op))
            .toDF("id", "grp", "g2", "v", "seq", "op")
          CdcRollup.foldBatch(r, i.toLong, df, Seq("id"), "seq", "op",
            Seq("grp"), Seq("v"), 4, 2,
            auxViews = Seq("byg2" -> Seq("g2"))) shouldBe true
        }
      foldAll(root)
      // the CHANGE-LOG twin: the same adversarial parts with
      // retention OFF — its forward-only pulls must equal the
      // retained root's snapshot diffs byte-for-byte (below)
      val twin = tmpRoot()
      CdcRollup.enableChangeLog(spark, twin)
      foldAll(twin)
      // the independent model: state after batches 0..i = final
      // images of the stream PREFIX those batches carried
      def model(i: Int): Map[Option[String], (Long, Double)] =
        stream.take(cuts(i + 1)).groupBy(_.id).values
          .map(_.maxBy(_.seq)).filter(_.op != "D").toSeq
          .groupBy(_.grp).map { case (g, evs) =>
            g -> ((evs.size.toLong, evs.flatMap(_.v).sum))
          }
      def asOf(i: Int): Map[Option[String], (Long, Double)] =
        CdcRollup.readViewAsOf(spark, root, i.toLong)
          .map(_.collect().map { r =>
            val g = if (r.isNullAt(0)) None
                    else Some(r.getAs[String]("grp"))
            g -> ((r.getAs[Long]("n"),
              r.getAs[java.math.BigDecimal]("total").doubleValue()))
          }.toMap).getOrElse(Map.empty)
      // the aux view rides the SAME folds and the SAME as-of axis:
      // model it by regrouping the same prefix finals on g2
      def modelAux(i: Int): Map[Option[String], (Long, Double)] =
        stream.take(cuts(i + 1)).groupBy(_.id).values
          .map(_.maxBy(_.seq)).filter(_.op != "D").toSeq
          .groupBy(_.g2).map { case (g, evs) =>
            g -> ((evs.size.toLong, evs.flatMap(_.v).sum))
          }
      def auxAsOf(i: Int): Map[Option[String], (Long, Double)] =
        CdcRollup.readAuxViewAsOf(spark, root, "byg2", i.toLong)
          .map(_.collect().map { r =>
            val g = if (r.isNullAt(0)) None
                    else Some(r.getAs[String]("g2"))
            g -> ((r.getAs[Long]("n"),
              r.getAs[java.math.BigDecimal]("total").doubleValue()))
          }.toMap).getOrElse(Map.empty)
      parts.indices.foreach { i =>
        val (got, want) = (asOf(i), model(i))
        withClue(s"trial $trial asOf $i (cuts $cuts): ") {
          got.keySet shouldBe want.keySet
          want.foreach { case (g, (n, t)) =>
            got(g)._1 shouldBe n
            got(g)._2 shouldBe (t +- 1e-9)
          }
        }
        val (agot, awant) = (auxAsOf(i), modelAux(i))
        withClue(s"trial $trial aux asOf $i (cuts $cuts): ") {
          agot.keySet shouldBe awant.keySet
          awant.foreach { case (g, (n, t)) =>
            agot(g)._1 shouldBe n
            agot(g)._2 shouldBe (t +- 1e-9)
          }
        }
      }
      // diff between random pairs ≡ the model diff
      (0 until 3).foreach { _ =>
        val i = rnd.nextInt(parts.length)
        val j = i + rnd.nextInt(parts.length - i)
        val (mi, mj) = (model(i), model(j))
        val want = (mi.keySet ++ mj.keySet).flatMap { g =>
          (mi.get(g), mj.get(g)) match {
            // the model's double sums can drift at 1e-15 under
            // reordering where the state's decimals are exact —
            // compare (n, total) with a float tolerance (real
            // changes move in >= 0.1 steps here)
            case (Some(a), Some(b))
                if a._1 == b._1 && math.abs(a._2 - b._2) < 1e-9 => None
            case (Some(_), Some(_)) => Some(g -> "changed")
            case (Some(_), None)    => Some(g -> "removed")
            case (None, Some(_))    => Some(g -> "added")
            case _                  => None
          }
        }.toMap
        val got = CdcRollup.diffView(spark, root, i.toLong, j.toLong)
          .collect().map { r =>
            val g = if (r.isNullAt(0)) None
                    else Some(r.getAs[String]("grp"))
            g -> r.getAs[String]("change")
          }.toMap
        withClue(s"trial $trial diff($i,$j) (cuts $cuts): ") {
          got shouldBe want
        }
        // the aux view diffs against ITS model regrouping
        val (ai, aj) = (modelAux(i), modelAux(j))
        val awant = (ai.keySet ++ aj.keySet).flatMap { g =>
          (ai.get(g), aj.get(g)) match {
            case (Some(a), Some(b))
                if a._1 == b._1 && math.abs(a._2 - b._2) < 1e-9 => None
            case (Some(_), Some(_)) => Some(g -> "changed")
            case (Some(_), None)    => Some(g -> "removed")
            case (None, Some(_))    => Some(g -> "added")
            case _                  => None
          }
        }.toMap
        val agot = CdcRollup.diffView(spark, root, i.toLong, j.toLong,
          auxView = Some("byg2"))
          .collect().map { r =>
            val g = if (r.isNullAt(0)) None
                    else Some(r.getAs[String]("g2"))
            g -> r.getAs[String]("change")
          }.toMap
        withClue(s"trial $trial aux diff($i,$j) (cuts $cuts): ") {
          agot shouldBe awant
        }
        // the BASE layer diffs per KEY against the model images
        // (image equality is exact here — raw doubles, no summation)
        def modelBase(x: Int): Map[Long,
            (Option[String], Option[String], Option[Double])] =
          stream.take(cuts(x + 1)).groupBy(_.id).values
            .map(_.maxBy(_.seq)).filter(_.op != "D")
            .map(e => e.id -> ((e.grp, e.g2, e.v))).toMap
        val (bi, bj) = (modelBase(i), modelBase(j))
        val bwant = (bi.keySet ++ bj.keySet).flatMap { id =>
          (bi.get(id), bj.get(id)) match {
            case (Some(a), Some(b)) if a == b => None
            case (Some(_), Some(_)) => Some(id -> "changed")
            case (Some(_), None)    => Some(id -> "removed")
            case (None, Some(_))    => Some(id -> "added")
            case _                  => None
          }
        }.toMap
        val bgot = CdcRollup.diffBase(spark, root, i.toLong, j.toLong)
          .collect().map(r =>
            r.getAs[Long]("id") -> r.getAs[String]("change")).toMap
        withClue(s"trial $trial base diff($i,$j) (cuts $cuts): ") {
          bgot shouldBe bwant
        }
      }
      // forward-only pulls from the change-log twin ≡ the retained
      // root's diffs to the frontier, for random 'since' points —
      // the netting (first _from + last _to, self-cancelling moves
      // dropped) under adversarial batch cuts, NULL groups/values,
      // deletes and re-adds; base + view + aux grains, byte-for-byte
      val last = (parts.length - 1).toLong
      (0 until 3).foreach { _ =>
        val i = rnd.nextInt(parts.length).toLong
        withClue(s"trial $trial log pulls since $i (cuts $cuts): ") {
          rows(CdcRollup.readBaseLog(spark, twin, i)
            .orderBy("id")) shouldBe
            rows(CdcRollup.diffBase(spark, root, i, last)
              .orderBy("id"))
          rows(CdcRollup.readViewLog(spark, twin, i)
            .orderBy("grp")) shouldBe
            rows(CdcRollup.diffView(spark, root, i, last)
              .orderBy("grp"))
          rows(CdcRollup.readViewLog(spark, twin, i, Some("byg2"))
            .orderBy("g2")) shouldBe
            rows(CdcRollup.diffView(spark, root, i, last,
              auxView = Some("byg2")).orderBy("g2"))
        }
      }
    }
  }

  test("randomized differential: random multi-measure + minMax CDC " +
      "logs with NULL groups/values, ADVERSARIALLY split across " +
      "batches (random cut points — uneven, single-event and empty " +
      "batches), fold to the one-shot GROUP BY over the final images " +
      "— and a minMax AUX view folds to ITS one-shot GROUP BY " +
      "(seeded, 3 trials)") {
    val rnd = new scala.util.Random(20260815L)
    (0 until 3).foreach { trial =>
      val root = tmpRoot()
      // per key: an I at seq 1, then 0-3 U/D events at later seqs —
      // includes re-insert-after-delete (upsert semantics) and NULL
      // group / NULL measure values
      case class Ev(id: Long, grp: Option[String], g2: Option[String],
                    v: Option[Double], w: Option[Double], seq: Long,
                    op: String)
      val events = (1 to 14).flatMap { id =>
        val n = 1 + rnd.nextInt(4)
        (1 to n).map { s =>
          Ev(id.toLong,
            if (rnd.nextInt(5) == 0) None else Some(s"g${rnd.nextInt(3)}"),
            if (rnd.nextInt(5) == 0) None else Some(s"h${rnd.nextInt(2)}"),
            if (rnd.nextInt(6) == 0) None else Some(rnd.nextInt(1000) / 10.0),
            Some(rnd.nextInt(100) / 4.0),
            s.toLong,
            if (s == 1) "I" else if (rnd.nextBoolean()) "U" else "D")
        }
      }
      // ADVERSARIAL batch partition: sort by seq (each key's events
      // are seq-ascending in the sorted stream, so ANY contiguous cut
      // respects the per-key order contract) and slice at random cut
      // points — repetition allowed, so batches may be empty, a
      // single event, or lopsided; seq boundaries are NOT respected,
      // so one seq level can straddle two batches
      val stream = events.sortBy(e => (e.seq, e.id))
      val nCuts = 2 + rnd.nextInt(4)
      val cuts = (0 +: Seq.fill(nCuts)(rnd.nextInt(stream.length + 1))
        :+ stream.length).sorted
      // repeated cut points yield EMPTY batches — those must commit
      // their marker and change nothing
      val parts = cuts.zip(cuts.tail).map { case (a, b) =>
        stream.slice(a, b) }
      parts.zipWithIndex.foreach { case (evs, i) =>
        val df = evs.map(e => (e.id, e.grp, e.g2, e.v, e.w, e.seq, e.op))
          .toDF("id", "grp", "g2", "v", "w", "seq", "op")
        CdcRollup.foldBatch(root, i.toLong, df, Seq("id"), "seq", "op",
          Seq("grp"), Seq("v", "w"), 4, 2,
          minMaxCols = Seq("v", "w"),
          auxViews = Seq("byg2" -> Seq("g2")),
          auxMinMaxCols = Map("byg2" -> Seq("v"))) shouldBe true
      }
      // expected: last event per key decides; D = no image; sums skip
      // NULL measure values (an all-NULL group still totals 0, not
      // NULL — the state accumulator starts at 0); MIN/MAX over the
      // surviving images' values, NULL when all are NULL
      val finals = events.groupBy(_.id).values
        .map(_.maxBy(_.seq)).filter(_.op != "D").toSeq
      val expected = finals.groupBy(_.grp).map { case (g, evs) =>
        g -> ((evs.size.toLong,
          evs.flatMap(_.v).sum,
          evs.flatMap(_.w).sum,
          evs.flatMap(_.v).minOption,
          evs.flatMap(_.v).maxOption,
          evs.flatMap(_.w).minOption,
          evs.flatMap(_.w).maxOption))
      }
      val got = CdcRollup.readView(spark, root).get.collect().map { r =>
        val g = if (r.isNullAt(0)) None else Some(r.getAs[String]("grp"))
        def d(c: String): Option[Double] =
          if (r.isNullAt(r.fieldIndex(c))) None
          else Some(r.getAs[Double](c))
        g -> ((r.getAs[Long]("n"),
          r.getAs[java.math.BigDecimal]("total_1").doubleValue(),
          r.getAs[java.math.BigDecimal]("total_2").doubleValue(),
          d("min_1"), d("max_1"), d("min_2"), d("max_2")))
      }.toMap
      withClue(s"trial $trial (cuts $cuts): ") {
        got.keySet shouldBe expected.keySet
        expected.foreach { case (g, (n, sv, sw, nv, xv, nw, xw)) =>
          val (gn, gv, gw, gnv, gxv, gnw, gxw) = got(g)
          withClue(s"group $g: ") {
            gn shouldBe n
            gv shouldBe (sv +- 1e-9)
            gw shouldBe (sw +- 1e-9)
            gnv shouldBe nv
            gxv shouldBe xv
            gnw shouldBe nw
            gxw shouldBe xw
          }
        }
      }
      // the minMax AUX view equals ITS one-shot GROUP BY over the
      // same final images — group-moving updates move extrema across
      // BOTH dimensions independently
      val expectedAux = finals.groupBy(_.g2).map { case (g, evs) =>
        g -> ((evs.size.toLong,
          evs.flatMap(_.v).sum,
          evs.flatMap(_.v).minOption,
          evs.flatMap(_.v).maxOption))
      }
      val gotAux = CdcRollup.readAuxView(spark, root, "byg2").get
        .collect().map { r =>
          val g = if (r.isNullAt(0)) None else Some(r.getAs[String]("g2"))
          def d(c: String): Option[Double] =
            if (r.isNullAt(r.fieldIndex(c))) None
            else Some(r.getAs[Double](c))
          g -> ((r.getAs[Long]("n"),
            r.getAs[java.math.BigDecimal]("total_1").doubleValue(),
            d("min_1"), d("max_1")))
        }.toMap
      withClue(s"trial $trial aux (cuts $cuts): ") {
        gotAux.keySet shouldBe expectedAux.keySet
        expectedAux.foreach { case (g, (n, sv, nv, xv)) =>
          val (gn, gv, gnv, gxv) = gotAux(g)
          withClue(s"aux group $g: ") {
            gn shouldBe n
            gv shouldBe (sv +- 1e-9)
            gnv shouldBe nv
            gxv shouldBe xv
          }
        }
      }
    }
  }

  test("bucket versions stay bounded: superseded versions are reaped " +
      "after each fold (steady state ~1 version per bucket)") {
    val root = tmpRoot()
    // same key every batch → same buckets rewritten every fold
    (0 until 5).foreach { i =>
      fold(root, i.toLong, log((1L, "a", i.toDouble, 1L, "U"))) shouldBe true
    }
    view(root) shouldBe Map("a" -> ((1L, 4.0)))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    for (layer <- Seq("base", "agg")) {
      val dir = new org.apache.hadoop.fs.Path(root, layer)
      fs.listStatus(dir).toSeq.map(_.getPath)
        .filter(_.getName.startsWith("bucket=")).foreach { b =>
          withClue(s"$layer/${b.getName}: ") {
            fs.listStatus(b).length shouldBe 1 // only the latest version
          }
        }
    }
  }

  // ---- as-of snapshot reads -----------------------------------------

  private def viewAsOf(root: String, a: Long): Map[String, (Long, Double)] =
    CdcRollup.readViewAsOf(spark, root, a).map(_.collect().map(r =>
      r.getAs[String]("grp") ->
        ((r.getAs[Long]("n"),
          r.getAs[java.math.BigDecimal]("total").doubleValue()))).toMap)
      .getOrElse(Map.empty)

  test("as-of reads serve the exact view every earlier batch saw, " +
      "including a fully-retracted group; above the frontier = current") {
    val root = tmpRoot()
    CdcRollup.enableRetention(spark, root) shouldBe -1L
    fold(root, 0L, log(
      (1L, "a", 10.0, 1L, "I"), (2L, "a", 20.0, 1L, "I"),
      (3L, "b", 30.0, 1L, "I"))) shouldBe true
    // batch 1 moves id=2 a→b; batch 2 deletes group a entirely
    fold(root, 1L, log((2L, "b", 25.0, 2L, "U"))) shouldBe true
    fold(root, 2L, log((1L, "a", 0.0, 3L, "D"))) shouldBe true
    viewAsOf(root, 0L) shouldBe
      Map("a" -> ((2L, 30.0)), "b" -> ((1L, 30.0)))
    viewAsOf(root, 1L) shouldBe
      Map("a" -> ((1L, 10.0)), "b" -> ((2L, 55.0)))
    // batch 2 retracted group a to n=0 — the snapshot right after it
    // must NOT resurrect the group (the empty-cover version resolves)
    viewAsOf(root, 2L) shouldBe Map("b" -> ((2L, 55.0)))
    viewAsOf(root, 2L) shouldBe view(root)
    // an id above the frontier is the current state (nothing newer
    // folded yet) — the axis is total, not exact-match
    viewAsOf(root, 99L) shouldBe view(root)
    // base snapshots ride the same protocol
    val b0 = CdcRollup.readBaseAsOf(spark, root, 0L).get
      .select("id", "grp", "v").orderBy("id")
    rows(b0) shouldBe Seq(
      Seq(1L, "a", 10.0), Seq(2L, "a", 20.0), Seq(3L, "b", 30.0))
    val b2 = CdcRollup.readBaseAsOf(spark, root, 2L).get
      .select("id", "grp", "v").orderBy("id")
    rows(b2) shouldBe Seq(Seq(2L, "b", 25.0), Seq(3L, "b", 30.0))
  }

  test("as-of refuses loud on a non-retained state and below the " +
      "floor; enabling after folds floors at the frontier") {
    val root = tmpRoot()
    fold(root, 0L, log((1L, "a", 10.0, 1L, "I"))) shouldBe true
    // never retained: the history was reaped eagerly — refuse
    val e1 = intercept[IllegalStateException] {
      CdcRollup.readViewAsOf(spark, root, 0L)
    }
    e1.getMessage should include("not in retention mode")
    fold(root, 1L, log((1L, "a", 11.0, 2L, "U"))) shouldBe true
    // enable AFTER two folds: floor = committed frontier (1) — batch
    // 0's snapshot is gone (eager reap) and must refuse, not serve
    // a silently-wrong image
    CdcRollup.enableRetention(spark, root) shouldBe 1L
    val e2 = intercept[IllegalArgumentException] {
      CdcRollup.readViewAsOf(spark, root, 0L)
    }
    e2.getMessage should include("floor")
    viewAsOf(root, 1L) shouldBe Map("a" -> ((1L, 11.0)))
    // re-enabling is idempotent and never lowers the floor
    CdcRollup.enableRetention(spark, root) shouldBe 1L
    fold(root, 2L, log((1L, "a", 12.0, 3L, "U"))) shouldBe true
    viewAsOf(root, 1L) shouldBe Map("a" -> ((1L, 11.0)))
    viewAsOf(root, 2L) shouldBe Map("a" -> ((1L, 12.0)))
  }

  test("readViewSince: the consumer pull equals diffView(afterId, " +
      "frontier); empty pull at the frontier; ahead-of-frontier and " +
      "below-floor refuse loud; aux pulls ride the same face") {
    val root = tmpRoot()
    def alog(rows: (Long, String, String, Double, Long, String)*) =
      rows.toDF("id", "grp", "grp2", "v", "seq", "op")
    def afold(id: Long, d: DataFrame) =
      CdcRollup.foldBatch(root, id, d, Seq("id"), "seq", "op",
        Seq("grp"), Seq("v"), nBaseBuckets = 4, nAggBuckets = 2,
        auxViews = Seq("by_g2" -> Seq("grp2")))
    CdcRollup.enableRetention(spark, root) shouldBe -1L
    afold(0L, alog(
      (1L, "a", "x", 10.0, 1L, "I"), (2L, "a", "y", 20.0, 1L, "I"),
      (3L, "b", "x", 30.0, 1L, "I"))) shouldBe true
    afold(1L, alog((2L, "b", "x", 25.0, 2L, "U"))) shouldBe true
    afold(2L, alog((1L, "a", "x", 0.0, 3L, "D"))) shouldBe true
    CdcRollup.committedFrontier(spark, root) shouldBe Some(2L)
    def asMap(df: DataFrame) = df.collect().map { r =>
      r.getAs[String]("grp") ->
        ((Option(r.getAs[java.lang.Long]("n_from")).map(_.toLong),
          Option(r.getAs[java.lang.Long]("n_to")).map(_.toLong),
          r.getAs[String]("change")))
    }.toMap
    // pull since batch 0: a moved to n=1 then deleted → removed;
    // b gained id 2 → changed. Equals diffView(0, frontier).
    val pull = CdcRollup.readViewSince(spark, root, 0L)
    asMap(pull) shouldBe Map(
      "a" -> ((Some(2L), None, "removed")),
      "b" -> ((Some(1L), Some(2L), "changed")))
    rows(pull.orderBy("grp")) shouldBe
      rows(CdcRollup.diffView(spark, root, 0L, 2L).orderBy("grp"))
    // the pull is stable on replay (retained versions are immutable)
    asMap(CdcRollup.readViewSince(spark, root, 0L)) shouldBe asMap(pull)
    // a consumer current at the frontier pulls an EMPTY change set
    // with the full diff schema
    val empty = CdcRollup.readViewSince(spark, root, 2L)
    empty.count() shouldBe 0L
    empty.columns.toSeq shouldBe pull.columns.toSeq
    // ahead of the frontier: a frontier this state never produced
    intercept[IllegalArgumentException] {
      CdcRollup.readViewSince(spark, root, 3L)
    }.getMessage should include("AHEAD of the committed frontier")
    // aux pulls: by_g2 — y removed (id 2 left), x changed
    asMap(CdcRollup.readViewSince(spark, root, 0L, Some("by_g2"))
      .withColumnRenamed("grp2", "grp")) shouldBe Map(
      "y" -> ((Some(1L), None, "removed")),
      "x" -> ((Some(2L), Some(2L), "changed")))
    intercept[IllegalArgumentException] {
      CdcRollup.readViewSince(spark, root, 0L, Some("nope"))
    }.getMessage should include("no aux view")
    // below the floor: reap to floor 1, then a since-0 pull refuses —
    // the pull cadence must fit inside the retention window
    import org.apache.hadoop.fs.Path
    val fs = new Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    graft.operators.BatchMarkers.clearFloors(fs, new Path(root))
    graft.operators.BatchMarkers.writeFloor(fs, new Path(root), 1L)
    intercept[IllegalArgumentException] {
      CdcRollup.readViewSince(spark, root, 0L)
    }.getMessage should include("floor")
    // ...while a since-1 pull still serves
    asMap(CdcRollup.readViewSince(spark, root, 1L)) shouldBe Map(
      "a" -> ((Some(1L), None, "removed")))
  }

  test("diffBase/readBaseSince: the per-KEY image change set between " +
      "snapshots — added/removed/changed rows with _from/_to payloads; " +
      "unchanged keys riding a touched bucket are dropped; the base " +
      "pull shares the since-face rules") {
    val root = tmpRoot()
    CdcRollup.enableRetention(spark, root) shouldBe -1L
    fold(root, 0L, log(
      (1L, "a", 10.0, 1L, "I"), (2L, "a", 20.0, 1L, "I"),
      (3L, "b", 30.0, 1L, "I"))) shouldBe true
    // batch 1: update id 2 (group move + value), delete id 3,
    // insert id 4
    fold(root, 1L, log(
      (2L, "b", 25.0, 2L, "U"),
      (3L, "b", 0.0, 2L, "D"),
      (4L, "c", 40.0, 2L, "I"))) shouldBe true
    def m(df: DataFrame) = df.collect().map { r =>
      r.getAs[Long]("id") -> ((
        Option(r.getAs[String]("grp_from")),
        Option(r.getAs[String]("grp_to")),
        r.getAs[String]("change")))
    }.toMap
    val d = CdcRollup.diffBase(spark, root, 0L, 1L)
    m(d) shouldBe Map(
      2L -> ((Some("a"), Some("b"), "changed")),
      3L -> ((Some("b"), None, "removed")),
      4L -> ((None, Some("c"), "added")))
    // id 1 shares buckets with churned keys but did not change — it
    // must NOT leak into the change set
    d.filter(col("id") === 1L).count() shouldBe 0L
    // the _from/_to payload carries the value movement too
    val r2 = d.filter(col("id") === 2L).head()
    r2.getAs[Double]("v_from") shouldBe 20.0
    r2.getAs[Double]("v_to") shouldBe 25.0
    // 100 TB pin: the diff reads ONLY base buckets batch 1 touched
    // (a committed version in (0, 1]) — never the whole base layer
    val touched = Seq(2L, 3L, 4L).map { k =>
      spark.range(1).select(
        pmod(xxhash64(lit(k)), lit(4)).cast("int")).head().getInt(0)
    }.toSet
    val baseFiles = d.inputFiles.filter(_.contains("/base/"))
    baseFiles should not be empty
    baseFiles.foreach { f =>
      withClue(f) {
        touched.exists(b => f.contains(s"/bucket=$b/")) shouldBe true
      }
    }
    // consumer pull face: equals the diff to the frontier; empty at
    // the frontier; ahead refuses
    rows(CdcRollup.readBaseSince(spark, root, 0L).orderBy("id")) shouldBe
      rows(d.orderBy("id"))
    CdcRollup.readBaseSince(spark, root, 1L).count() shouldBe 0L
    intercept[IllegalArgumentException] {
      CdcRollup.readBaseSince(spark, root, 9L)
    }.getMessage should include("AHEAD of the committed frontier")
  }

  test("per-bucket retention floors: a cold key's as-of LOOKUP " +
      "outlives hot-bucket churn; range reads stay gated by the " +
      "global floor; a reaped bucket's lookup refuses per-bucket; " +
      "legacy (seedless) states fall back to the global floor; fsck " +
      "flags a seed above the floor") {
    val root = tmpRoot()
    // two groups in DIFFERENT agg buckets (nAgg=2) and two pks in
    // different base buckets (nBase=4) — chosen by the same hash the
    // state pins
    def gBucket(g: String) = spark.range(1).select(
      pmod(xxhash64(lit(g)), lit(2)).cast("int")).head().getInt(0)
    def kBucket(k: Long) = spark.range(1).select(
      pmod(xxhash64(lit(k)), lit(4)).cast("int")).head().getInt(0)
    val cands = (0 until 20).map(i => s"g$i")
    val hot = cands.find(g => gBucket(g) == 0).get
    val cold = cands.find(g => gBucket(g) == 1).get
    val hotId = 1L
    val coldId = (2L to 20L).find(k => kBucket(k) != kBucket(hotId)).get
    CdcRollup.enableRetention(spark, root) shouldBe -1L
    fold(root, 0L, log(
      (hotId, hot, 10.0, 1L, "I"), (coldId, cold, 20.0, 1L, "I")))
      .shouldBe(true)
    // batches 1-2 churn ONLY the hot group/pk
    fold(root, 1L, log((hotId, hot, 11.0, 2L, "U"))) shouldBe true
    fold(root, 2L, log((hotId, hot, 12.0, 3L, "U"))) shouldBe true
    // reap everything superseded: the hot buckets' old versions go,
    // the GLOBAL floor advances to 2 — but the cold buckets' chains
    // are untouched (their latest version is never reaped)
    val (deleted, floor) = CdcRollup.reapRetainedVersions(spark, root, 0L)
    floor shouldBe 2L
    deleted should not be empty
    // range reads below the global floor refuse (a reaped version
    // inside a range is invisible to changed-bucket listings — only
    // the global floor witnesses it)
    intercept[IllegalArgumentException] {
      CdcRollup.readViewAsOf(spark, root, 0L)
    }.getMessage should include("floor")
    intercept[IllegalArgumentException] {
      CdcRollup.diffView(spark, root, 0L, 2L)
    }.getMessage should include("floor")
    // ...but the COLD group's bucket kept its chain: the point lookup
    // serves the batch-0 image below the global floor
    import spark.implicits._
    val hit = CdcRollup.lookupView(spark, root, Seq(cold).toDF("grp"),
      asOf = Some(0L)).get
    hit.select("total").head().getDecimal(0).doubleValue() shouldBe 20.0
    CdcRollup.lookupBase(spark, root, Seq(coldId).toDF("id"),
      asOf = Some(0L)).get.select("v").head().getDouble(0) shouldBe 20.0
    // the HOT group's bucket was reaped: per-bucket refusal, named
    intercept[IllegalArgumentException] {
      CdcRollup.lookupView(spark, root, Seq(hot).toDF("grp"),
        asOf = Some(0L))
    }.getMessage should include("retained chain starts at")
    intercept[IllegalArgumentException] {
      CdcRollup.lookupBase(spark, root, Seq(hotId).toDF("id"),
        asOf = Some(0L))
    }.getMessage should include("retained chain starts at")
    // at/above the global floor everything serves as before
    CdcRollup.lookupView(spark, root, Seq(hot).toDF("grp"),
      asOf = Some(2L)).get.count() shouldBe 1L
    // fsck: a planted seed ABOVE the floor is a named error
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.create(new org.apache.hadoop.fs.Path(root, "_ASOF_SEED_99"),
      true).close()
    val audit = graft.app.ViewFsck.fsckJson(spark, root)
    audit should include(""""ok":false""")
    audit should include("seed 99 is above the floor")
    fs.delete(new org.apache.hadoop.fs.Path(root, "_ASOF_SEED_99"),
      false)
    // legacy states (retained before seeds existed): no seed file →
    // the cold lookup falls back to the conservative global floor
    fs.listStatus(new org.apache.hadoop.fs.Path(root)).toSeq
      .map(_.getPath)
      .filter(_.getName.startsWith("_ASOF_SEED_"))
      .foreach(p => fs.delete(p, false))
    intercept[IllegalArgumentException] {
      CdcRollup.lookupView(spark, root, Seq(cold).toDF("grp"),
        asOf = Some(0L))
    }.getMessage should include("floor")
  }

  test("retention reap deletes only ranges whose whole lifetime " +
      "predates the window, advances the floor past them, and never " +
      "touches a bucket's latest version") {
    val root = tmpRoot()
    CdcRollup.enableRetention(spark, root)
    (0 until 4).foreach { i =>
      fold(root, i.toLong,
        log((1L, "a", (i + 1).toDouble, 1L, "U"))) shouldBe true
    }
    // history accretes in retention mode: the rewritten bucket holds
    // all four versions (the eager reap is off)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val aggBuckets = fs.listStatus(
      new org.apache.hadoop.fs.Path(root, "agg")).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("bucket="))
    aggBuckets.map(b => fs.listStatus(b).length).max shouldBe 4
    // a fresh window reaps nothing (every superseding version is new)
    val (none, f0) = CdcRollup.reapRetainedVersions(spark, root,
      24L * 3600 * 1000)
    none shouldBe empty
    f0 shouldBe -1L
    // window 0: every superseded version goes; floor lands on the
    // newest superseding id (3)
    val (gone, floor) = CdcRollup.reapRetainedVersions(spark, root, 0L)
    gone should not be empty
    floor shouldBe 3L
    CdcRollup.asofFloor(spark, root) shouldBe Some(3L)
    // below the new floor refuses; at it serves; latest survived
    intercept[IllegalArgumentException] {
      CdcRollup.readViewAsOf(spark, root, 2L)
    }.getMessage should include("floor")
    viewAsOf(root, 3L) shouldBe Map("a" -> ((1L, 4.0)))
    view(root) shouldBe Map("a" -> ((1L, 4.0)))
    // steady state restored: one VERSION per touched bucket again
    // (the reaped bucket also keeps its per-bucket _ASOF_FLOOR_ file
    // — the point-lookup depth gate)
    aggBuckets.foreach { b =>
      fs.listStatus(b).count(_.getPath.getName
        .startsWith("v")) should be <= 1
    }
    // reaping again is a no-op at the same floor
    CdcRollup.reapRetainedVersions(spark, root, 0L) shouldBe
      ((Nil, 3L))
  }

  test("aux views: N rollups over ONE shared base fold in one pass " +
      "and match their one-shot GROUP BYs; replay is a no-op; a " +
      "changed aux set refuses on the pin; compact and GC carry the " +
      "aux layers") {
    val root = tmpRoot()
    def alog(rows: (Long, String, String, Double, Long, String)*) =
      rows.toDF("id", "grp", "grp2", "v", "seq", "op")
    val aux = Seq("by_g2" -> Seq("grp2"), "by_both" -> Seq("grp", "grp2"))
    def afold(id: Long, d: org.apache.spark.sql.DataFrame) =
      CdcRollup.foldBatch(root, id, d, Seq("id"), "seq", "op",
        Seq("grp"), Seq("v"), nBaseBuckets = 4, nAggBuckets = 2,
        auxViews = aux)
    afold(0L, alog(
      (1L, "a", "x", 10.0, 1L, "I"), (2L, "a", "y", 20.0, 1L, "I"),
      (3L, "b", "x", 30.0, 1L, "I"))) shouldBe true
    // batch 1: group-moving update on BOTH dimensions + a delete
    afold(1L, alog(
      (2L, "b", "x", 25.0, 2L, "U"),
      (3L, "b", "x", 0.0, 2L, "D"))) shouldBe true
    def viewOf(df: org.apache.spark.sql.DataFrame, cols: Seq[String]) =
      df.collect().map { r =>
        cols.map(r.getAs[String]) ->
          ((r.getAs[Long]("n"),
            r.getAs[java.math.BigDecimal]("total").doubleValue()))
      }.toMap
    // main view unchanged semantics
    view(root) shouldBe Map("a" -> ((1L, 10.0)), "b" -> ((1L, 25.0)))
    // aux views equal their one-shot GROUP BYs over the final images
    // (images: 1=(a,x,10), 2=(b,x,25))
    viewOf(CdcRollup.readAuxView(spark, root, "by_g2").get,
      Seq("grp2")) shouldBe
      Map(Seq("x") -> ((2L, 35.0)))
    viewOf(CdcRollup.readAuxView(spark, root, "by_both").get,
      Seq("grp", "grp2")) shouldBe
      Map(Seq("a", "x") -> ((1L, 10.0)), Seq("b", "x") -> ((1L, 25.0)))
    // replay of a committed id: quiet no-op, aux untouched
    afold(1L, alog((9L, "z", "z", 99.0, 1L, "I"))) shouldBe false
    viewOf(CdcRollup.readAuxView(spark, root, "by_g2").get,
      Seq("grp2")) shouldBe Map(Seq("x") -> ((2L, 35.0)))
    // an undeclared aux name refuses (it would read silently empty)
    intercept[IllegalArgumentException] {
      CdcRollup.readAuxView(spark, root, "nope")
    }.getMessage should include("no aux view")
    // a CHANGED aux set refuses on the pin — those layers were never
    // maintained together
    intercept[graft.model.UserException] {
      CdcRollup.foldBatch(root, 2L,
        alog((4L, "c", "z", 1.0, 1L, "I")), Seq("id"), "seq", "op",
        Seq("grp"), Seq("v"), 4, 2,
        auxViews = Seq("by_g2" -> Seq("grp2")))
    }.getMessage should include("pinned")
    // GC sweeps aux-layer crash garbage like every other layer
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(new org.apache.hadoop.fs.Path(root,
      "aux_by_g2/.staging0"))
    CdcRollup.cleanOrphanBatchDirs(spark, root, olderThanMs = 0L)
      .exists(_.contains("aux_by_g2")) shouldBe true
    // bucket-pruned point lookup on the aux layer (typed keys, the
    // lookupView discipline); an undeclared name refuses
    val aprobe = Seq("x").toDF("grp2")
    val hit = CdcRollup.lookupAuxView(spark, root, "by_g2", aprobe).get
    hit.select("n").head().getLong(0) shouldBe 2L
    intercept[IllegalArgumentException] {
      CdcRollup.lookupAuxView(spark, root, "nope", aprobe)
    }.getMessage should include("no aux view")
    // compact carries the aux layers (re-sharded on their own keys)
    val fresh = tmpRoot()
    CdcRollup.compactStateTo(spark, root, fresh, 2, 2) shouldBe 2L
    viewOf(CdcRollup.readAuxView(spark, fresh, "by_both").get,
      Seq("grp", "grp2")) shouldBe
      Map(Seq("a", "x") -> ((1L, 10.0)), Seq("b", "x") -> ((1L, 25.0)))
    // and the fresh pin still refuses the changed aux set
    intercept[graft.model.UserException] {
      CdcRollup.foldBatch(fresh, 2L,
        alog((4L, "c", "z", 1.0, 1L, "I")), Seq("id"), "seq", "op",
        Seq("grp"), Seq("v"), 2, 2)
    }.getMessage should include("pinned")
  }

  test("empty FIRST batch materializes the declared grp/aux layer " +
      "dirs (a stream's empty startup micro-batch must not fsck as " +
      "corrupt); a malformed aux pin field refuses as the named parse " +
      "error, never a MatchError") {
    val root = tmpRoot()
    val empty = Seq.empty[(Long, String, String, Double, Long, String)]
      .toDF("id", "grp", "grp2", "v", "seq", "op")
    CdcRollup.foldBatch(root, 0L, empty, Seq("id"), "seq", "op",
      Seq("grp"), Seq("v"), nBaseBuckets = 4, nAggBuckets = 2,
      minMaxCols = Seq("v"),
      auxViews = Seq("by_g2" -> Seq("grp2"))) shouldBe true
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.exists(new org.apache.hadoop.fs.Path(root, "grp")) shouldBe true
    fs.exists(new org.apache.hadoop.fs.Path(root,
      "aux_by_g2")) shouldBe true
    // the committed-but-empty state audits CLEAN: before the fix the
    // declared-layer checks fired ok:false on a healthy startup shape
    val audit = graft.app.ViewFsck.fsckJson(spark, root)
    audit should include(""""ok":true""")
    audit should include(""""errors":[]""")
    // and the state keeps working: a real fold lands on the dirs
    CdcRollup.foldBatch(root, 1L,
      Seq((1L, "a", "x", 10.0, 1L, "I"))
        .toDF("id", "grp", "grp2", "v", "seq", "op"),
      Seq("id"), "seq", "op", Seq("grp"), Seq("v"), 4, 2,
      minMaxCols = Seq("v"),
      auxViews = Seq("by_g2" -> Seq("grp2"))) shouldBe true
    view(root) shouldBe Map("a" -> ((1L, 10.0)))
    // malformed aux field in a pin: IllegalArgumentException (the
    // named refusal fsck catches and reports), never a MatchError
    for (bad <- Seq("aux:noequals", "aux:a=", "aux:=v"))
      intercept[IllegalArgumentException] {
        CdcRollup.parseLayout(
          s"cdcRollup|id:bigint|id|grp|v|2|2|$bad", "someroot")
      }.getMessage should include("unrecognized layout pin")
    // fsck on a state carrying a malformed aux pin REPORTS instead of
    // crashing — it is exactly the tool meant to diagnose this
    val badRoot = tmpRoot()
    graft.sources.PartitionedStore.pinLayout(fs,
      new org.apache.hadoop.fs.Path(badRoot), badRoot,
      "cdcRollup|id:bigint|id|grp|v|2|2|aux:noequals")
    val badAudit = graft.app.ViewFsck.fsckJson(spark, badRoot)
    badAudit should include(""""ok":false""")
    badAudit should include("malformed layout pin")
  }

  test("per-aux MIN/MAX: an aux view declared in auxMinMaxCols " +
      "carries exact extrema under group-moving updates and extremum " +
      "deletes (its own grp_aux image layer); sums-only siblings keep " +
      "their bytes; changed aux minMax set refuses on the pin; " +
      "compact + diff + fsck carry the layer") {
    val root = tmpRoot()
    def alog(rows: (Long, String, String, Double, Long, String)*) =
      rows.toDF("id", "grp", "grp2", "v", "seq", "op")
    val aux = Seq("by_g2" -> Seq("grp2"), "plain" -> Seq("grp", "grp2"))
    val auxMm = Map("by_g2" -> Seq("v"))
    def afold(root: String, id: Long, d: DataFrame) =
      CdcRollup.foldBatch(root, id, d, Seq("id"), "seq", "op",
        Seq("grp"), Seq("v"), nBaseBuckets = 4, nAggBuckets = 2,
        auxViews = aux, auxMinMaxCols = auxMm)
    CdcRollup.enableRetention(spark, root)
    afold(root, 0L, alog(
      (1L, "a", "x", 10.0, 1L, "I"), (2L, "a", "y", 20.0, 1L, "I"),
      (3L, "b", "x", 30.0, 1L, "I"), (4L, "b", "x", 5.0, 1L, "I")))
      .shouldBe(true)
    // batch 1: delete x's MAX (id 3, v=30) and MOVE id 2 y→x with a
    // new extremum value 40 — the recompute must drop 30, adopt 40
    afold(root, 1L, alog(
      (3L, "b", "x", 0.0, 2L, "D"),
      (2L, "b", "x", 40.0, 2L, "U"))) shouldBe true
    def mmOf(df: DataFrame) = df.collect().map { r =>
      r.getAs[String]("grp2") ->
        ((r.getAs[Long]("n"),
          Option(r.getAs[java.lang.Double]("min_1")).map(_.toDouble),
          Option(r.getAs[java.lang.Double]("max_1")).map(_.toDouble)))
    }.toMap
    // one-shot truth over the final images {1=(a,x,10), 2=(b,x,40),
    // 4=(b,x,5)}: x → n=3, min 5, max 40; y retracted out
    mmOf(CdcRollup.readAuxView(spark, root, "by_g2").get) shouldBe
      Map("x" -> ((3L, Some(5.0), Some(40.0))))
    // the sums-only sibling has NO min/max columns
    CdcRollup.readAuxView(spark, root, "plain").get.columns
      .count(_.startsWith("min")) shouldBe 0
    // the image layer exists, bucketed by the AUX key
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.exists(new org.apache.hadoop.fs.Path(root,
      "grp_aux_by_g2")) shouldBe true
    // fsck audits the state clean (declared ↔ present, both ways)
    val audit = graft.app.ViewFsck.fsckJson(spark, root)
    audit should include(""""ok":true""")
    // a planted undeclared grp_aux layer is an ERROR
    fs.mkdirs(new org.apache.hadoop.fs.Path(root, "grp_aux_plain"))
    graft.app.ViewFsck.fsckJson(spark, root) should
      include("declares no minMax columns for aux view 'plain'")
    fs.delete(new org.apache.hadoop.fs.Path(root, "grp_aux_plain"),
      true)
    // CHANGED aux minMax set refuses on the pin — the grp_aux layer
    // for the new set was never maintained
    intercept[graft.model.UserException] {
      CdcRollup.foldBatch(root, 2L,
        alog((9L, "z", "z", 9.0, 1L, "I")), Seq("id"), "seq", "op",
        Seq("grp"), Seq("v"), 4, 2, auxViews = aux,
        auxMinMaxCols = Map("plain" -> Seq("v")))
    }.getMessage should include("pinned")
    // ...and so does dropping it from a state that pinned it
    intercept[graft.model.UserException] {
      CdcRollup.foldBatch(root, 2L,
        alog((9L, "z", "z", 9.0, 1L, "I")), Seq("id"), "seq", "op",
        Seq("grp"), Seq("v"), 4, 2, auxViews = aux)
    }.getMessage should include("pinned")
    // diffView on the minMax aux: extremum columns ride the change
    // set (batch 0 → frontier: x's max moved 30 → 40)
    val d = CdcRollup.diffView(spark, root, 0L, 1L, Some("by_g2"))
      .filter(col("grp2") === "x").head()
    d.getAs[Double]("max_1_from") shouldBe 30.0
    d.getAs[Double]("max_1_to") shouldBe 40.0
    // compact carries aux + grp_aux (re-sharded on the aux key) and
    // the fresh state keeps folding with exact extrema
    val fresh = tmpRoot()
    CdcRollup.compactStateTo(spark, root, fresh, 2, 1) shouldBe 2L
    fs.exists(new org.apache.hadoop.fs.Path(fresh,
      "grp_aux_by_g2")) shouldBe true
    mmOf(CdcRollup.readAuxView(spark, fresh, "by_g2").get) shouldBe
      Map("x" -> ((3L, Some(5.0), Some(40.0))))
    def freshFold(id: Long, d: DataFrame) =
      CdcRollup.foldBatch(fresh, id, d, Seq("id"), "seq", "op",
        Seq("grp"), Seq("v"), 2, 1, auxViews = aux,
        auxMinMaxCols = auxMm)
    // delete the min (id 4, v=5): exact recompute from the carried
    // image layer, not a stale stored extremum
    freshFold(2L, alog((4L, "b", "x", 0.0, 3L, "D"))) shouldBe true
    mmOf(CdcRollup.readAuxView(spark, fresh, "by_g2").get) shouldBe
      Map("x" -> ((2L, Some(10.0), Some(40.0))))
  }

  test("compact keeps a declared layer whose every row retracted: the " +
      "fresh root still carries the (empty) grp and aux dirs — the pin " +
      "promises them — and folding onward from empty works") {
    val root = tmpRoot()
    def alog(rows: (Long, String, String, Double, Long, String)*) =
      rows.toDF("id", "grp", "grp2", "v", "seq", "op")
    def afold(r: String, id: Long, d: org.apache.spark.sql.DataFrame) =
      CdcRollup.foldBatch(r, id, d, Seq("id"), "seq", "op",
        Seq("grp"), Seq("v"), 2, 2, minMaxCols = Seq("v"),
        auxViews = Seq("byg2" -> Seq("grp2")))
    afold(root, 0L, alog((1L, "a", "x", 10.0, 1L, "I"))) shouldBe true
    afold(root, 1L, alog((1L, "a", "x", 0.0, 2L, "D"))) shouldBe true
    CdcRollup.readView(spark, root) shouldBe None
    val fresh = tmpRoot()
    CdcRollup.compactStateTo(spark, root, fresh, 2, 2) shouldBe 0L
    val fs = new org.apache.hadoop.fs.Path(fresh)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.exists(new org.apache.hadoop.fs.Path(fresh, "grp")) shouldBe true
    fs.exists(new org.apache.hadoop.fs.Path(fresh,
      "aux_byg2")) shouldBe true
    CdcRollup.readAuxView(spark, fresh, "byg2") shouldBe None
    // life goes on: a fresh fold above the frontier repopulates all
    // layers, min/max and aux included
    afold(fresh, 2L, alog((2L, "b", "y", 5.0, 1L, "I"))) shouldBe true
    val v = CdcRollup.readView(spark, fresh).get.collect()
    v.length shouldBe 1
    v.head.getAs[Double]("max_1") shouldBe 5.0
    CdcRollup.readAuxView(spark, fresh, "byg2").get
      .select("n").head().getLong(0) shouldBe 1L
  }

  test("diffView labels added/removed/changed between two snapshots, " +
      "drops identical groups, and prunes BOTH reads to the buckets " +
      "the version chain says changed") {
    val root = tmpRoot()
    CdcRollup.enableRetention(spark, root)
    // find two groups hashing to DIFFERENT agg buckets (nAgg = 2) so
    // the pruning assertion below has an untouched bucket to prove on
    val cands = ('a' to 'z').map(_.toString)
    def bucketOf(g: String): Int = spark.range(1)
      .select(pmod(xxhash64(lit(g)), lit(2)).cast("int")).head().getInt(0)
    val g0 = cands.head
    val g1 = cands.find(bucketOf(_) != bucketOf(g0)).get
    // batch 0: both groups; batches 1-2 touch ONLY g0's world:
    // id=1 value update (changed), id=4 insert into a NEW group g2
    // (added, same bucket as g0 or not — label still right), id=2
    // delete (g0 loses a member but survives)
    val g2 = cands.find(c => c != g0 && bucketOf(c) == bucketOf(g0)).get
    fold(root, 0L, log(
      (1L, g0, 10.0, 1L, "I"), (2L, g0, 20.0, 1L, "I"),
      (3L, g1, 30.0, 1L, "I"))) shouldBe true
    fold(root, 1L, log(
      (1L, g0, 15.0, 2L, "U"), (4L, g2, 40.0, 2L, "I"))) shouldBe true
    fold(root, 2L, log((2L, g0, 0.0, 3L, "D"))) shouldBe true
    val diff = CdcRollup.diffView(spark, root, 0L, 2L)
    val got = diff.collect().map { r =>
      r.getAs[String]("grp") -> ((r.getAs[String]("change"),
        Option(r.getAs[java.lang.Long]("n_from")).map(_.toLong),
        Option(r.getAs[java.math.BigDecimal]("total_from"))
          .map(_.doubleValue()),
        Option(r.getAs[java.lang.Long]("n_to")).map(_.toLong),
        Option(r.getAs[java.math.BigDecimal]("total_to"))
          .map(_.doubleValue())))
    }.toMap
    got shouldBe Map(
      g0 -> (("changed", Some(2L), Some(30.0), Some(1L), Some(15.0))),
      g2 -> (("added", None, None, Some(1L), Some(40.0))))
    // g1 untouched: dropped — and NEVER READ: every input file of
    // the diff plan lives in g0/g2's bucket
    diff.inputFiles should not be empty
    diff.inputFiles.foreach { f =>
      f should include(s"bucket=${bucketOf(g0)}")
    }
    // a group REMOVED between the snapshots
    fold(root, 3L, log((1L, g0, 0.0, 4L, "D"))) shouldBe true
    val rm = CdcRollup.diffView(spark, root, 2L, 3L).collect()
    rm.map(_.getAs[String]("grp")).toSeq shouldBe Seq(g0)
    rm.head.getAs[String]("change") shouldBe "removed"
    // self-diff and a span with no folds are empty
    CdcRollup.diffView(spark, root, 3L, 3L).count() shouldBe 0L
    CdcRollup.diffView(spark, root, 3L, 99L).count() shouldBe 0L
    // refusals: inverted span; below the floor after a reap
    intercept[IllegalArgumentException] {
      CdcRollup.diffView(spark, root, 2L, 1L)
    }.getMessage should include("fromId")
    CdcRollup.reapRetainedVersions(spark, root, 0L)._2 shouldBe 3L
    intercept[IllegalArgumentException] {
      CdcRollup.diffView(spark, root, 0L, 3L)
    }.getMessage should include("floor")
    // non-retained state refuses
    val plain = tmpRoot()
    fold(plain, 0L, log((1L, "a", 1.0, 1L, "I"))) shouldBe true
    intercept[IllegalStateException] {
      CdcRollup.diffView(spark, plain, 0L, 0L)
    }.getMessage should include("retention")
  }

  test("diffView on a minMax state: an extremum-only change (same " +
      "sums) still surfaces, with typed min/max columns on both sides") {
    val root = tmpRoot()
    CdcRollup.enableRetention(spark, root)
    def mm(rows: (Long, String, Double, Double, Long, String)*) =
      rows.toDF("id", "grp", "v", "m", "seq", "op")
    def mfold(id: Long, d: org.apache.spark.sql.DataFrame) =
      CdcRollup.foldBatch(root, id, d, Seq("id"), "seq", "op",
        Seq("grp"), Seq("v"), nBaseBuckets = 2, nAggBuckets = 2,
        minMaxCols = Seq("m"))
    mfold(0L, mm((1L, "a", 10.0, 5.0, 1L, "I"),
      (2L, "a", 10.0, 9.0, 1L, "I"))) shouldBe true
    // batch 1: same VALUE (sums identical) but the max-holder's m
    // drops — only min/max change
    mfold(1L, mm((2L, "a", 10.0, 1.0, 2L, "U"))) shouldBe true
    val d = CdcRollup.diffView(spark, root, 0L, 1L).collect()
    d.length shouldBe 1
    val r = d.head
    r.getAs[String]("change") shouldBe "changed"
    r.getAs[Long]("n_from") shouldBe r.getAs[Long]("n_to")
    r.getAs[Double]("max_1_from") shouldBe 9.0
    r.getAs[Double]("max_1_to") shouldBe 5.0
    r.getAs[Double]("min_1_from") shouldBe 5.0
    r.getAs[Double]("min_1_to") shouldBe 1.0
  }

  test("as-of point lookups are bucket-pruned and serve the old image; " +
      "compact carries retention mode but floors at the frontier") {
    val root = tmpRoot()
    CdcRollup.enableRetention(spark, root)
    fold(root, 0L, log(
      (1L, "a", 10.0, 1L, "I"), (2L, "b", 20.0, 1L, "I"))) shouldBe true
    fold(root, 1L, log((1L, "a", 99.0, 2L, "U"))) shouldBe true
    val probe = Seq(1L).toDF("id")
    // as-of 0 serves the PRE-update image; current serves the new one
    val oldImg = CdcRollup.lookupBase(spark, root, probe, Some(0L)).get
    rows(oldImg.select("id", "grp", "v")) shouldBe Seq(Seq(1L, "a", 10.0))
    val newImg = CdcRollup.lookupBase(spark, root, probe).get
    rows(newImg.select("id", "grp", "v")) shouldBe Seq(Seq(1L, "a", 99.0))
    // the as-of path stays bucket-pruned: only key 1's bucket is read
    val nBase = 4
    val expectBucket = oldImg.sparkSession.range(1)
      .select(pmod(xxhash64(lit(1L)), lit(nBase)).cast("int"))
      .head().getInt(0)
    val pruned = CdcRollup.lookupBase(spark, root, probe, Some(0L)).get
    pruned.inputFiles.foreach { f =>
      f should include(s"bucket=$expectBucket")
    }
    // group-keyed as-of lookup
    val gprobe = Seq("a").toDF("grp")
    val v0 = CdcRollup.lookupView(spark, root, gprobe, Some(0L)).get
    v0.select("n").head().getLong(0) shouldBe 1L
    v0.select(col("total").cast("double")).head().getDouble(0) shouldBe 10.0
    // compact: retention survives, history does not — the fresh floor
    // is the frontier and pre-compaction snapshots refuse loud
    val fresh = tmpRoot()
    CdcRollup.compactStateTo(spark, root, fresh) shouldBe 2L
    CdcRollup.asofFloor(spark, fresh) shouldBe Some(1L)
    intercept[IllegalArgumentException] {
      CdcRollup.readViewAsOf(spark, fresh, 0L)
    }.getMessage should include("floor")
    viewAsOf(fresh, 1L) shouldBe view(root)
  }

  // ---- retention enable crash windows & pinned consumer pulls ------

  test("enableRetention: the floor lands BEFORE the seed, a stale " +
      "floorless seed is cleared on enable, and the floor-only crash " +
      "residue errs conservative (retention ON)") {
    import org.apache.hadoop.fs.Path
    val root = tmpRoot()
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    fold(root, 0L, log((1L, "a", 10.0, 1L, "I"))) shouldBe true
    // legacy crash residue: a seed with NO floor (the old seed-first
    // enable order). Retention is OFF, so these folds reap eagerly...
    graft.operators.BatchMarkers.writeSeed(fs, rootPath, 0L)
    fold(root, 1L, log((1L, "a", 11.0, 2L, "U"))) shouldBe true
    fold(root, 2L, log((1L, "a", 12.0, 3L, "U"))) shouldBe true
    // ...so the stale seed must NOT survive the enable: kept, it
    // would approve bucket-pruned as-of lookups at >= 0 on chains
    // those un-retained folds already destroyed
    CdcRollup.enableRetention(spark, root) shouldBe 2L
    graft.operators.BatchMarkers.readSeed(fs, rootPath) shouldBe Some(2L)
    val probe = Seq(1L).toDF("id")
    intercept[IllegalArgumentException] {
      CdcRollup.lookupBase(spark, root, probe, asOf = Some(0L))
    }.getMessage should include("retained chain starts at 2")
    // the NEW order's crash window (floor written, seed not yet):
    // retention is already ON — the next fold KEEPS history, and
    // below-floor reads refuse on the conservative global floor
    val root2 = tmpRoot()
    val p2 = new Path(root2)
    fold(root2, 0L, log((1L, "a", 1.0, 1L, "I"))) shouldBe true
    graft.operators.BatchMarkers.writeFloor(fs, p2, 0L)
    fold(root2, 1L, log((1L, "a", 2.0, 2L, "U"))) shouldBe true
    CdcRollup.readViewAsOf(spark, root2, 0L).get
      .select(col("total").cast("double")).head().getDouble(0) shouldBe 1.0
    // re-running the enable completes idempotently on the floor
    CdcRollup.enableRetention(spark, root2) shouldBe 0L
  }

  test("readViewSincePinned/readBaseSincePinned return the ONE " +
      "frontier the pull resolved against — the range and the " +
      "reported value can never diverge") {
    val root = tmpRoot()
    CdcRollup.enableRetention(spark, root) shouldBe -1L
    fold(root, 0L, log(
      (1L, "a", 10.0, 1L, "I"), (2L, "b", 20.0, 1L, "I"))) shouldBe true
    fold(root, 1L, log((1L, "a", 11.0, 2L, "U"))) shouldBe true
    val (d, f) = CdcRollup.readViewSincePinned(spark, root, 0L)
    f shouldBe 1L
    rows(d.orderBy("grp")) shouldBe
      rows(CdcRollup.diffView(spark, root, 0L, 1L).orderBy("grp"))
    val (db, fb) = CdcRollup.readBaseSincePinned(spark, root, 0L)
    fb shouldBe 1L
    rows(db.orderBy("id")) shouldBe
      rows(CdcRollup.diffBase(spark, root, 0L, 1L).orderBy("id"))
    // the unpinned faces stay byte-compatible delegates
    rows(CdcRollup.readViewSince(spark, root, 0L).orderBy("grp")) shouldBe
      rows(d.orderBy("grp"))
  }

  test("parseLayout: a trailing '~' in an aux pin entry refuses — a " +
      "malformed pin must never silently parse as sums-only") {
    intercept[IllegalArgumentException] {
      CdcRollup.parseLayout(
        "cdcRollup|id:bigint,grp:string,v:double|id|grp|v|4|2|aux:a=grp~",
        "/x")
    }.getMessage should include("unrecognized layout pin")
    // the two well-formed shapes still parse
    CdcRollup.parseLayout(
      "cdcRollup|id:bigint,grp:string,v:double|id|grp|v|4|2|aux:a=grp~v",
      "/x").auxMinMax shouldBe Map("a" -> Seq("v"))
    CdcRollup.parseLayout(
      "cdcRollup|id:bigint,grp:string,v:double|id|grp|v|4|2|aux:a=grp",
      "/x").auxMinMax shouldBe Map.empty
  }

  // ---- fold-time CDC change log -------------------------------------

  test("change log: forward-only pulls equal readBaseSince with " +
      "retention OFF — multi-fold moves net to one change, self-" +
      "cancelling moves drop, no-op updates never log, re-pulls are " +
      "byte-stable") {
    val root = tmpRoot()
    CdcRollup.enableChangeLog(spark, root) shouldBe -1L
    // a retained twin provides the equality oracle (diffBase over COW
    // history vs the log-only pull)
    val twin = tmpRoot()
    CdcRollup.enableRetention(spark, twin) shouldBe -1L
    def foldBoth(id: Long, d: DataFrame): Unit = {
      fold(root, id, d) shouldBe true
      fold(twin, id, d) shouldBe true
    }
    foldBoth(0L, log(
      (1L, "a", 10.0, 1L, "I"), (2L, "a", 20.0, 1L, "I"),
      (3L, "b", 30.0, 1L, "I"), (4L, "c", 40.0, 1L, "I")))
    // fold 1: id1 moves (will move again), id2 deleted (will re-add
    // identical), id3 NO-OP update (must not log), id5 added (will be
    // removed), id4 value change (will revert)
    foldBoth(1L, log(
      (1L, "b", 11.0, 2L, "U"), (2L, "a", 0.0, 2L, "D"),
      (3L, "b", 30.0, 2L, "U"), (5L, "d", 50.0, 2L, "I"),
      (4L, "c", 41.0, 2L, "U")))
    // fold 2: id1 moves again, id2 re-added IDENTICAL, id5 removed,
    // id4 reverts — only id1 survives the net
    foldBoth(2L, log(
      (1L, "d", 12.0, 3L, "U"), (2L, "a", 20.0, 3L, "I"),
      (5L, "d", 0.0, 3L, "D"), (4L, "c", 40.0, 3L, "U")))
    val (pull, frontier) = CdcRollup.readBaseLogPinned(spark, root, 0L)
    frontier shouldBe 2L
    rows(pull.orderBy("id")) shouldBe
      rows(CdcRollup.readBaseSince(spark, twin, 0L).orderBy("id"))
    val m = pull.collect().map(r => r.getAs[Long]("id") ->
      ((r.getAs[String]("grp_from"), r.getAs[String]("grp_to"),
        r.getAs[String]("change")))).toMap
    m shouldBe Map(1L -> (("a", "d", "changed")))
    // a partial range nets only its own folds — equals the twin diff
    rows(CdcRollup.readBaseLog(spark, root, 1L).orderBy("id")) shouldBe
      rows(CdcRollup.diffBase(spark, twin, 1L, 2L).orderBy("id"))
    // the GROUP-level feed nets the same way: row-equal to the
    // retained twin's readViewSince / diffView at every range
    rows(CdcRollup.readViewLog(spark, root, 0L).orderBy("grp")) shouldBe
      rows(CdcRollup.readViewSince(spark, twin, 0L).orderBy("grp"))
    rows(CdcRollup.readViewLog(spark, root, 1L).orderBy("grp")) shouldBe
      rows(CdcRollup.diffView(spark, twin, 1L, 2L).orderBy("grp"))
    // re-pull byte-stable; empty pull at the frontier keeps the schema
    rows(CdcRollup.readBaseLog(spark, root, 0L).orderBy("id")) shouldBe
      rows(pull.orderBy("id"))
    val empty = CdcRollup.readBaseLog(spark, root, 2L)
    empty.count() shouldBe 0L
    empty.columns.toSeq shouldBe pull.columns.toSeq
    // an EMPTY fold still materializes its (dataless) log dir — the
    // gap signal stays unambiguous — and pulls stay empty
    fold(root, 3L, log()) shouldBe true
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.exists(new org.apache.hadoop.fs.Path(root, "log/b3")) shouldBe true
    CdcRollup.readBaseLog(spark, root, 2L).count() shouldBe 0L
    // refusals: ahead of the frontier; not in change-log mode; below
    // the coverage bound (enabled after a fold)
    intercept[IllegalArgumentException] {
      CdcRollup.readBaseLog(spark, root, 9L)
    }.getMessage should include("AHEAD of the committed frontier")
    intercept[IllegalStateException] {
      CdcRollup.readBaseLog(spark, twin, 0L)
    }.getMessage should include("not in change-log mode")
    val late = tmpRoot()
    fold(late, 0L, log((9L, "a", 1.0, 1L, "I"))) shouldBe true
    CdcRollup.enableChangeLog(spark, late) shouldBe 0L
    intercept[IllegalArgumentException] {
      CdcRollup.readBaseLog(spark, late, -1L)
    }.getMessage should include("below the change-log start")
  }

  test("change log: a committed fold missing its b<id> dir is a " +
      "COVERAGE GAP — pulls spanning it refuse loud instead of " +
      "netting a silently incomplete change set; ranges past the " +
      "gap still serve; the layers gap independently") {
    import org.apache.hadoop.fs.Path
    val root = tmpRoot()
    CdcRollup.enableChangeLog(spark, root) shouldBe -1L
    fold(root, 0L, log((1L, "a", 10.0, 1L, "I"))) shouldBe true
    fold(root, 1L, log((2L, "b", 20.0, 2L, "I"))) shouldBe true
    fold(root, 2L, log((3L, "c", 30.0, 3L, "I"))) shouldBe true
    val fs = new Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // mint the gap shape by hand — the same residue enableChangeLog
    // leaves when it races an in-flight fold (the fold read
    // logOn=false at start, yet commits above the enable-time bound)
    fs.delete(new Path(root, "log/b1"), true) shouldBe true
    val e = intercept[IllegalStateException] {
      CdcRollup.readBaseLog(spark, root, 0L).collect()
    }
    e.getMessage should include("no log dir")
    e.getMessage should include("does not cover the range")
    // the group-level layer gaps INDEPENDENTLY: its own dirs are
    // intact, so the view pull over the same (0, 2] range still
    // serves its two folds' group adds...
    CdcRollup.readViewLog(spark, root, 0L).count() shouldBe 2L
    // ...until its own dir goes
    fs.delete(new Path(root, "log_view/b1"), true) shouldBe true
    intercept[IllegalStateException] {
      CdcRollup.readViewLog(spark, root, 0L).collect()
    }.getMessage should include("does not cover the range")
    // a range past the gap still serves — coverage is per-range
    rows(CdcRollup.readBaseLog(spark, root, 1L)
      .select("id")) shouldBe Seq(Seq(3L))
    CdcRollup.readBaseLog(spark, root, 2L).count() shouldBe 0L
  }

  test("change log: replay no-ops, crash garbage stays invisible and " +
      "gets reaped, foldMarkers keeps pulls resolving, compact " +
      "carries the log with retention OFF, and reapChangeLog " +
      "advances the bound before deleting") {
    import org.apache.hadoop.fs.Path
    val root = tmpRoot()
    CdcRollup.enableChangeLog(spark, root) shouldBe -1L
    fold(root, 0L, log((1L, "a", 10.0, 1L, "I"))) shouldBe true
    fold(root, 1L, log((1L, "b", 11.0, 2L, "U"))) shouldBe true
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    // replay of a committed id: quiet no-op, the log is untouched
    val before = fs.listStatus(new Path(root, "log"))
      .map(_.getPath.getName).toSet
    fold(root, 1L, log((1L, "z", 99.0, 9L, "U"))) shouldBe false
    fs.listStatus(new Path(root, "log"))
      .map(_.getPath.getName).toSet shouldBe before
    // an UNCOMMITTED planted log dir (real data) is invisible to pulls
    import spark.implicits._
    Seq((1L, "x", "y", 0.0, 9.9, "changed", 2L))
      .toDF("id", "grp_from", "grp_to", "v_from", "v_to",
        "change", "__batch_id")
      .write.parquet(s"$root/log/b2")
    fs.mkdirs(new Path(root, "log/.staging2"))
    val p01 = CdcRollup.readBaseLog(spark, root, 0L).collect()
    p01.length shouldBe 1
    p01.head.getAs[String]("grp_to") shouldBe "b"
    // the refold of that id reaps the planted garbage FIRST
    fold(root, 2L, log((1L, "c", 12.0, 3L, "U"))) shouldBe true
    val p12 = CdcRollup.readBaseLog(spark, root, 1L).collect()
    p12.length shouldBe 1
    p12.head.getAs[String]("grp_from") shouldBe "b"
    p12.head.getAs[String]("grp_to") shouldBe "c"
    // abandoned-garbage gc: plant an uncommitted dir + staging shell
    Seq((1L, "x", "y", 0.0, 9.9, "changed", 9L))
      .toDF("id", "grp_from", "grp_to", "v_from", "v_to",
        "change", "__batch_id")
      .write.parquet(s"$root/log/b9")
    fs.mkdirs(new Path(root, "log/.staging9"))
    val swept = CdcRollup.cleanOrphanBatchDirs(spark, root,
      olderThanMs = 0L)
    swept.exists(_.endsWith("log/b9")) shouldBe true
    swept.exists(_.endsWith("log/.staging9")) shouldBe true
    // marker folding: pulls keep resolving through the watermark
    CdcRollup.foldMarkers(spark, root, olderThanMs = 0L) shouldBe Some(2L)
    val net02 = CdcRollup.readBaseLog(spark, root, 0L).collect()
    net02.length shouldBe 1
    net02.head.getAs[String]("grp_from") shouldBe "a"
    net02.head.getAs[String]("grp_to") shouldBe "c"
    // compact (retention OFF) carries the log and the bound — the
    // forward-only consumer's pull survives the swap byte-for-byte
    val fresh = tmpRoot()
    CdcRollup.compactStateTo(spark, root, fresh) shouldBe 1L
    CdcRollup.changeLogFrom(spark, fresh) shouldBe Some(-1L)
    rows(CdcRollup.readBaseLog(spark, fresh, 0L).orderBy("id")) shouldBe
      rows(CdcRollup.readBaseLog(spark, root, 0L).orderBy("id"))
    // reap: the bound advances past everything deleted; the reaped
    // range refuses, the bound itself still serves (empty)
    val (deleted, newFrom) = CdcRollup.reapChangeLog(spark, root, 0L)
    newFrom shouldBe 2L
    deleted should not be empty
    intercept[IllegalArgumentException] {
      CdcRollup.readBaseLog(spark, root, 0L)
    }.getMessage should include("below the change-log start")
    CdcRollup.readBaseLog(spark, root, 2L).count() shouldBe 0L
    intercept[IllegalStateException] {
      CdcRollup.reapChangeLog(spark, tmpRoot(), 0L)
    }.getMessage should include("not in change-log mode")
  }

  // ---- compact-time schema evolution --------------------------------

  test("compact-time schema evolution: an added NULLABLE payload " +
      "column migrates the pin and NULL-fills existing images; " +
      "post-migration folds carry it and the view equals the " +
      "one-shot; retypes/namespace names/old-schema deltas refuse; " +
      "a change-log state re-baselines its bound") {
    val root = tmpRoot()
    CdcRollup.enableChangeLog(spark, root) shouldBe -1L
    fold(root, 0L, log(
      (1L, "a", 10.0, 1L, "I"), (2L, "b", 20.0, 1L, "I"))) shouldBe true
    fold(root, 1L, log((1L, "a", 11.0, 2L, "U"))) shouldBe true
    val fresh = tmpRoot()
    CdcRollup.compactStateTo(spark, root, fresh, 4, 2,
      addColumns = Seq("w" -> "double")) shouldBe 2L
    // existing images carry the new column as typed NULL
    val base = CdcRollup.readBase(spark, fresh).get
    base.columns should contain("w")
    base.schema("w").dataType.catalogString shouldBe "double"
    rows(base.select(col("id"), col("w")).orderBy("id")) shouldBe
      Seq(Seq(1L, null), Seq(2L, null))
    // the change-log bound RE-BASELINED at the frontier: old log rows
    // lack the column, so the old range refuses rather than mixing
    // schemas
    CdcRollup.changeLogFrom(spark, fresh) shouldBe Some(1L)
    intercept[IllegalArgumentException] {
      CdcRollup.readBaseLog(spark, fresh, 0L)
    }.getMessage should include("below the change-log start")
    // post-migration folds must carry the column — and do
    def log2(rows: (Long, String, Double, java.lang.Double, Long,
        String)*) = rows.toDF("id", "grp", "v", "w", "seq", "op")
    def fold2(id: Long, d: DataFrame) =
      CdcRollup.foldBatch(fresh, id, d, Seq("id"), "seq", "op",
        Seq("grp"), Seq("v"), nBaseBuckets = 4, nAggBuckets = 2)
    fold2(2L, log2((3L, "c", 30.0, 7.5, 3L, "I"),
      (1L, "a", 12.0, 1.0, 4L, "U"))) shouldBe true
    // the view equals the one-shot over the union of all folds
    view(fresh) shouldBe Map(
      "a" -> ((1L, 12.0)), "b" -> ((1L, 20.0)), "c" -> ((1L, 30.0)))
    rows(CdcRollup.readBase(spark, fresh).get
      .select(col("id"), col("w")).orderBy("id")) shouldBe
      Seq(Seq(1L, 1.0), Seq(2L, null), Seq(3L, 7.5))
    // the forward-only pull from the re-baselined bound carries the
    // new column in both payload sides
    val pull = CdcRollup.readBaseLog(spark, fresh, 1L)
    pull.columns should contain("w_from")
    pull.columns should contain("w_to")
    pull.count() shouldBe 2L // id1 changed, id3 added
    // an OLD-schema delta refuses on the migrated pin
    intercept[graft.model.UserException] {
      fold(fresh, 3L, log((4L, "d", 1.0, 5L, "I")))
    }.getMessage should include("pinned to layout")
    // retype / state-namespace / unparseable-type refusals
    intercept[IllegalArgumentException] {
      CdcRollup.compactStateTo(spark, root, tmpRoot(), 4, 2,
        addColumns = Seq("v" -> "string"))
    }.getMessage should include("already declared")
    intercept[IllegalArgumentException] {
      CdcRollup.compactStateTo(spark, root, tmpRoot(), 4, 2,
        addColumns = Seq("total" -> "double"))
    }.getMessage should include("state/staging namespace")
    intercept[IllegalArgumentException] {
      CdcRollup.compactStateTo(spark, root, tmpRoot(), 4, 2,
        addColumns = Seq("x" -> "not a type"))
    }.getMessage should include("unparseable")
  }

  test("view change log: aux views pull their own group feeds with " +
      "retention OFF — equal to the retained twin's aux " +
      "readViewSince; compact carries every log layer") {
    val root = tmpRoot(); val twin = tmpRoot()
    CdcRollup.enableChangeLog(spark, root) shouldBe -1L
    CdcRollup.enableRetention(spark, twin) shouldBe -1L
    def alog(rows: (Long, String, String, Double, Long, String)*) =
      rows.toDF("id", "grp", "grp2", "v", "seq", "op")
    def afold(r: String, id: Long, d: DataFrame) =
      CdcRollup.foldBatch(r, id, d, Seq("id"), "seq", "op",
        Seq("grp"), Seq("v"), nBaseBuckets = 4, nAggBuckets = 2,
        auxViews = Seq("by_g2" -> Seq("grp2")))
    def both(id: Long, d: DataFrame): Unit = {
      afold(root, id, d) shouldBe true
      afold(twin, id, d) shouldBe true
    }
    both(0L, alog((1L, "a", "x", 10.0, 1L, "I"),
      (2L, "a", "y", 20.0, 1L, "I"), (3L, "b", "x", 30.0, 1L, "I")))
    both(1L, alog((2L, "b", "x", 25.0, 2L, "U")))
    both(2L, alog((1L, "a", "x", 0.0, 3L, "D")))
    rows(CdcRollup.readViewLog(spark, root, 0L).orderBy("grp")) shouldBe
      rows(CdcRollup.readViewSince(spark, twin, 0L).orderBy("grp"))
    rows(CdcRollup.readViewLog(spark, root, 0L, Some("by_g2"))
      .orderBy("grp2")) shouldBe
      rows(CdcRollup.readViewSince(spark, twin, 0L, Some("by_g2"))
        .orderBy("grp2"))
    // an undeclared aux refuses; below-bound and not-in-mode refusals
    // ride the shared face
    intercept[IllegalArgumentException] {
      CdcRollup.readViewLog(spark, root, 0L, Some("nope"))
    }.getMessage should include("no aux view")
    intercept[IllegalStateException] {
      CdcRollup.readViewLog(spark, twin, 0L)
    }.getMessage should include("not in change-log mode")
    // compact carries EVERY log layer: the aux feed's pull survives
    // the swap byte-for-byte
    val fresh = tmpRoot()
    CdcRollup.compactStateTo(spark, root, fresh, 4, 2)
    rows(CdcRollup.readViewLog(spark, fresh, 0L, Some("by_g2"))
      .orderBy("grp2")) shouldBe
      rows(CdcRollup.readViewLog(spark, root, 0L, Some("by_g2"))
        .orderBy("grp2"))
  }

  test("a fold that fails after persisting its aux contributions " +
      "releases every persisted frame") {
    val root = tmpRoot()
    def afold(id: Long, d: DataFrame): Boolean =
      CdcRollup.foldBatch(root, id, d, Seq("id"), "seq", "op",
        Seq("grp"), Seq("v"), 4, 2, auxViews = Seq("byg2" -> Seq("g2")))
    afold(0L, (1L to 20L).map(i => (i, s"g${i % 3}", s"h${i % 2}",
      i.toDouble, 1L, "I")).toDF("id", "grp", "g2", "v", "seq", "op")) shouldBe
      true
    // corrupt every aux-layer data file: the next fold persists and
    // probes its aux contribution, then fails reading the aux state
    val parts = java.nio.file.Files
      .walk(java.nio.file.Paths.get(root, "aux_byg2")).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.endsWith(".parquet"))
    parts should not be empty
    parts.foreach(p => java.nio.file.Files.write(p,
      "not parquet".getBytes("UTF-8")))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    an[Exception] should be thrownBy afold(1L, Seq(
      (2L, "g0", "h1", 5.0, 2L, "U"), (21L, "g1", "h0", 1.0, 2L, "I"))
      .toDF("id", "grp", "g2", "v", "seq", "op"))
    spark.sparkContext.getPersistentRDDs.keySet shouldBe before
  }
}
