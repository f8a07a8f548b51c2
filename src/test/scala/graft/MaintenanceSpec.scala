package graft

import graft.operators.Maintenance
import java.nio.file.Files

class MaintenanceSpec extends SparkSpec {
  import spark.implicits._

  test("compactParquet merges many small files into few, preserving rows") {
    val dir = Files.createTempDirectory("graft-compact").toString + "/t"
    val df = (1 to 10000).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    df.repartition(50).write.parquet(dir) // 50 tiny files
    def parquetFiles = Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .count(_.getName.endsWith(".parquet"))
    parquetFiles shouldBe 50

    Maintenance.compactParquet(spark, dir, targetFileBytes = 10L * 1024 * 1024)
    parquetFiles shouldBe 1
    spark.read.parquet(dir).count() shouldBe 10000
    spark.read.parquet(dir).agg(org.apache.spark.sql.functions.sum("id"))
      .collect().head.getLong(0) shouldBe (1L to 10000L).sum
  }

  test("compactBucketed collapses append-accreted files, keeps spec and rows") {
    import org.apache.spark.sql.functions._
    val name = "graft_cb_spec"
    try {
      val base = (0L until 400L).map(i => (i, i % 37)).toDF("k", "v")
      graft.sources.BucketedStore.writeBucketed(base, name, Seq("k"), 4)
      // 5 micro-batch appends: each adds ≥1 file per touched bucket
      (1 to 5).foreach { b =>
        graft.sources.BucketedStore.appendBucketed(
          (0L until 40L).map(i => (1000L * b + i, i)).toDF("k", "v"),
          name, Seq("k"), 4)
      }
      def files = {
        val loc = new java.io.File(java.net.URI.create(
          spark.sessionState.catalog.getTableMetadata(
            spark.sessionState.sqlParser.parseTableIdentifier(name))
            .location.toString))
        Option(loc.listFiles()).toSeq.flatten
          .count(_.getName.endsWith(".parquet"))
      }
      files should be >= 20 // ≥4 per write × 6 writes, minus empties
      val before = rows(spark.table(name).orderBy("k"))
      // the bucket spec comes from the CATALOG — no caller-supplied
      // keys/buckets that could silently re-spec the index
      Maintenance.compactBucketed(spark, name)
      files shouldBe 4 // exactly one file per bucket
      rows(spark.table(name).orderBy("k")) shouldBe before
      // the rewritten table still carries the bucket spec (catalog-level)
      val meta = spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(name))
      meta.bucketSpec.map(_.numBuckets) shouldBe Some(4)
      meta.bucketSpec.map(_.bucketColumnNames) shouldBe Some(Seq("k"))
      // no stage residue
      spark.catalog.listTables().collect()
        .map(_.name).filter(_.contains("__compact_")) shouldBe empty
    } finally spark.sql(s"DROP TABLE IF EXISTS $name")
  }

  test("compactBucketed leaves the session conf unchanged and still " +
      "writes one file per bucket with auto bucketed scan on") {
    val name = "graft_cb_conf"
    val autoKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val autoWas = spark.conf.get(autoKey)
    spark.conf.set(autoKey, "true")
    try {
      graft.sources.BucketedStore.writeBucketed(
        (0L until 200L).map(i => (i, i % 11)).toDF("k", "v"), name,
        Seq("k"), 4)
      (1 to 3).foreach { b =>
        graft.sources.BucketedStore.appendBucketed(
          (0L until 30L).map(i => (1000L * b + i, i)).toDF("k", "v"),
          name, Seq("k"), 4)
      }
      val before = rows(spark.table(name).orderBy("k"))
      val conf = spark.conf.getAll
      Maintenance.compactBucketed(spark, name) shouldBe 4
      spark.conf.getAll shouldBe conf
      val loc = new java.io.File(java.net.URI.create(
        spark.sessionState.catalog.getTableMetadata(
          spark.sessionState.sqlParser.parseTableIdentifier(name))
          .location.toString))
      Option(loc.listFiles()).toSeq.flatten
        .count(_.getName.endsWith(".parquet")) shouldBe 4
      rows(spark.table(name).orderBy("k")) shouldBe before
    } finally {
      spark.conf.set(autoKey, autoWas)
      spark.sql(s"DROP TABLE IF EXISTS $name")
    }
  }

  test("compactBucketed accretion gate: below-threshold table is left untouched") {
    val name = "graft_cb_gate"
    try {
      graft.sources.BucketedStore.writeBucketed(
        (0L until 100L).map(i => (i, i)).toDF("k", "v"), name, Seq("k"), 4)
      def fileNames: Set[String] = {
        val loc = new java.io.File(java.net.URI.create(
          spark.sessionState.catalog.getTableMetadata(
            spark.sessionState.sqlParser.parseTableIdentifier(name))
            .location.toString))
        Option(loc.listFiles()).toSeq.flatten.map(_.getName)
          .filter(_.endsWith(".parquet")).toSet
      }
      val before = fileNames
      // freshly written: at most one file per bucket — nothing accreted
      Maintenance.compactBucketed(spark, name, maxFilesPerBucket = 4) shouldBe 0
      fileNames shouldBe before // not rewritten, same physical files
      // size-JUSTIFIED files are not accretion: with a 1-byte target
      // every file is justified by bytes alone, so even a 1-file-per-
      // bucket allowance skips (a flat buckets*max cap would misfire
      // here forever once a table outgrows it — the gate measures
      // accretion over the max(buckets, bytes/target) baseline)
      Maintenance.compactBucketed(spark, name, targetFileBytes = 1,
        maxFilesPerBucket = 1) shouldBe 0
      fileNames shouldBe before
      // gate off (default) → the rewrite happens
      Maintenance.compactBucketed(spark, name) should be > 0
      fileNames should not be before
    } finally spark.sql(s"DROP TABLE IF EXISTS $name")
  }

  test("recoverCompactSwap completes a crashed DROP-RENAME swap; never clobbers a live table") {
    val name = "graft_rcs"
    val stage = s"${name}__compact_00abcdef"
    try {
      graft.sources.BucketedStore.writeBucketed(
        (0L until 200L).map(i => (i, i % 7)).toDF("k", "v"), name, Seq("k"), 4)
      val before = rows(spark.table(name).orderBy("k"))
      // live target + stranded pre-swap stage: recovery must refuse
      // (the stage may be missing appends that landed after it was cut)
      graft.sources.BucketedStore.writeBucketed(
        spark.table(name), stage, Seq("k"), 4)
      Maintenance.recoverCompactSwap(spark, name) shouldBe false
      rows(spark.table(name).orderBy("k")) shouldBe before
      // simulate the crash window: DROP landed, RENAME didn't — the
      // stage table is now the only copy
      spark.sql(s"DROP TABLE $name")
      // and an ADJACENT crash (during the DROP's data deletion) left a
      // partial unregistered dir at the managed location: recovery
      // must not wedge on the collision NOR delete the dir — it is
      // moved aside for manual inspection
      val leftover = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.defaultTablePath(
          spark.sessionState.sqlParser.parseTableIdentifier(name)))
      val lfs = leftover.getFileSystem(spark.sessionState.newHadoopConf())
      lfs.mkdirs(leftover)
      lfs.create(new org.apache.hadoop.fs.Path(leftover, "partial.parquet"),
        true).close()
      // the warehouse persists across test runs — diff the remnant
      // set, don't count absolutely
      def remnantDirs: Set[String] = lfs.listStatus(leftover.getParent)
        .map(_.getPath.getName)
        .filter(_.startsWith(leftover.getName + "__remnant_")).toSet
      val staleRemnants = remnantDirs
      Maintenance.recoverCompactSwap(spark, name) shouldBe true
      rows(spark.table(name).orderBy("k")) shouldBe before
      val fresh = (remnantDirs -- staleRemnants).toSeq
      fresh.length shouldBe 1
      lfs.exists(new org.apache.hadoop.fs.Path(leftover.getParent,
        s"${fresh.head}/partial.parquet")) shouldBe true
      lfs.delete(new org.apache.hadoop.fs.Path(leftover.getParent,
        fresh.head), true)
      val meta = spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(name))
      meta.bucketSpec.map(_.numBuckets) shouldBe Some(4)
      spark.catalog.tableExists(stage) shouldBe false
      // idempotent: nothing left to recover
      Maintenance.recoverCompactSwap(spark, name) shouldBe false
      // two surviving stages with the target missing is ambiguous —
      // loud, not a guess
      spark.sql(s"ALTER TABLE $name RENAME TO $stage")
      graft.sources.BucketedStore.writeBucketed(
        spark.table(stage), s"${name}__compact_00012345", Seq("k"), 4)
      an[graft.model.UserException] should be thrownBy
        Maintenance.recoverCompactSwap(spark, name)
    } finally Seq(name, stage, s"${name}__compact_00012345")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("recoverIvfCompaction: licensed stage restores a stranded list, markerless stage is cleared") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    val rnd = new scala.util.Random(11)
    def vec(c: Int) = Array.tabulate(16)(d =>
      (if (d == c % 16) 10f else 0f) + rnd.nextFloat() * 0.1f)
    val corpus = (0L until 120L).map(i => (i, vec(i.toInt % 4)))
      .toDF("vec_id", "embedding")
    val path = Files.createTempDirectory("graft-ivf-recover").toString
    Similarity.saveIvfIndex(corpus, "vec_id", "embedding", path, nCentroids = 4)
    val q = corpus.filter(col("vec_id") < 4)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val before = rows(Similarity.ivfTopKPersisted(spark, path, q,
      "vec_id", "embedding", k = 3).orderBy("q_id", "rnk"))
    val assign = new java.io.File(s"$path/assignments")
    val lists = assign.listFiles().filter(_.getName.startsWith("centroid="))
    lists.length shouldBe 4
    // simulate a crash inside swapChildren: one list's delete(dst)
    // happened and the rename didn't — its only copy sits in the
    // licensed stage; a second list was staged but not yet swapped
    // (live copy still present)
    val stage = new java.io.File(assign, "_compact_00000001")
    stage.mkdir()
    val gone = lists.head
    val kept = lists(1)
    java.nio.file.Files.move(gone.toPath,
      new java.io.File(stage, gone.getName).toPath)
    locally { // flat copy (a centroid list dir holds only data files)
      val dst = new java.io.File(stage, kept.getName); dst.mkdir()
      kept.listFiles().filter(_.isFile).foreach(f =>
        java.nio.file.Files.copy(f.toPath,
          new java.io.File(dst, f.getName).toPath))
    }
    new java.io.File(stage, "_APPLIED_SWAP").createNewFile()
    // plus a markerless stage from a crash BEFORE any destructive step
    val preswap = new java.io.File(assign, "_compact_00000002")
    preswap.mkdir()
    new java.io.File(preswap, "junk").createNewFile()

    // non-single-writer write paths fail LOUD on the crashed swap
    // (auto-recovering from them could race a live compactor if the
    // single-writer contract were being violated)
    an[graft.model.UserException] should be thrownBy
      Similarity.appendToIvfIndex(
        Seq((9999L, vec(0))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", path)
    an[graft.model.UserException] should be thrownBy
      Similarity.ingestEmbeddingBatch(spark, path,
        Seq((9999L, vec(0))).toDF("vec_id", "embedding"),
        "vec_id", "embedding")
    // recovery COMPLETES the licensed swap with the staged copies —
    // both children are swapped in (a live dir the crash caught
    // mid-delete would be undetectably partial; the staged copy is
    // complete by construction), the markerless stage is cleared
    Maintenance.recoverIvfCompaction(spark, path).toSet shouldBe
      Set(gone.getName, kept.getName)
    new java.io.File(assign, gone.getName).exists() shouldBe true
    new java.io.File(assign, kept.getName).exists() shouldBe true
    stage.exists() shouldBe false
    preswap.exists() shouldBe false
    // the healed index answers exactly as before the crash
    rows(Similarity.ivfTopKPersisted(spark, path, q,
      "vec_id", "embedding", k = 3).orderBy("q_id", "rnk")) shouldBe before
  }

  test("compactBucketed refuses a table without a bucket spec") {
    val name = "graft_cb_plain"
    try {
      (1 to 10).map(i => (i.toLong, i)).toDF("k", "v")
        .write.saveAsTable(name)
      an[IllegalArgumentException] should be thrownBy
        Maintenance.compactBucketed(spark, name)
    } finally spark.sql(s"DROP TABLE IF EXISTS $name")
  }

  test("compactIvfIndex collapses touched lists only; probe results and fingerprint unchanged") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    val rnd = new scala.util.Random(7)
    def vec(c: Int) = Array.tabulate(16)(d =>
      (if (d == c % 16) 10f else 0f) + rnd.nextFloat() * 0.1f)
    val corpus = (0L until 200L).map(i => (i, vec(i.toInt % 4)))
      .toDF("vec_id", "embedding")
    val path = Files.createTempDirectory("graft-ivf-compact").toString
    Similarity.saveIvfIndex(corpus, "vec_id", "embedding", path, nCentroids = 4)
    // 6 appends → each touched centroid dir accretes a file per batch
    (1 to 6).foreach { b =>
      Similarity.appendToIvfIndex(
        (0L until 8L).map(i => (10000L * b + i, vec(i.toInt % 4)))
          .toDF("vec_id", "embedding"),
        "vec_id", "embedding", path)
    }
    def filesPerList: Map[String, Int] = {
      val dirs = Option(new java.io.File(s"$path/assignments").listFiles())
        .toSeq.flatten.filter(f => f.isDirectory &&
          f.getName.startsWith("centroid="))
      dirs.map(d => d.getName -> Option(d.listFiles()).toSeq.flatten
        .count(_.getName.endsWith(".parquet"))).toMap
    }
    filesPerList.values.max should be > 4
    val q = corpus.filter(col("vec_id") < 4)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val before = rows(Similarity.ivfTopKPersisted(spark, path, q,
      "vec_id", "embedding", k = 3).orderBy("q_id", "rnk"))
    val fpBefore = Similarity.readIndexFingerprint(spark, path)

    val compacted = Maintenance.compactIvfIndex(spark, path,
      maxFilesPerList = 4)
    compacted.nonEmpty shouldBe true
    filesPerList.values.max should be <= 4
    // second run: nothing left over the threshold
    Maintenance.compactIvfIndex(spark, path, maxFilesPerList = 4) shouldBe empty
    // content untouched: same probe results, same fingerprint, no
    // stage residue visible to partition discovery
    rows(Similarity.ivfTopKPersisted(spark, path, q,
      "vec_id", "embedding", k = 3).orderBy("q_id", "rnk")) shouldBe before
    Similarity.readIndexFingerprint(spark, path) shouldBe fpBefore
    Option(new java.io.File(s"$path/assignments").listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("_compact_")) shouldBe empty
  }

  test("profile computes per-column stats in one aggregation pass") {
    val df = Seq((1, Some("a")), (2, None), (2, Some("c")))
      .toDF("id", "s")
    val got = rows(Maintenance.profile(df).orderBy("column"))
    got shouldBe Seq(
      Seq("id", 3L, 0L, 2L, "1", "2"),
      Seq("s", 3L, 1L, 2L, "a", "c"))
    // one aggregate over the data — not one scan per column
    val scans = Maintenance.profile(df).queryExecution.optimizedPlan
      .collectLeaves().length
    scans shouldBe 1
  }

  test("profileDrift flags null-rate, distinct, and bounds changes per column") {
    val before = Seq((1, Some("a")), (2, Some("b")), (3, Some("c")))
      .toDF("id", "s")
    val after = Seq((1, Some("a")), (2, None: Option[String]),
      (4, Some("d")), (5, Some("d"))).toDF("id", "s")
    val got = rows(Maintenance.profileDrift(before, after).orderBy("column"))
      .map(r => r.head -> r).toMap
    val id = got("id")
    id(3) shouldBe 0.0                       // null_rate_delta
    id(4) shouldBe 1L                        // distinct 3 -> 4
    id(5) shouldBe true                      // max 3 -> 5
    val s = got("s")
    (s(3).asInstanceOf[Double] - 0.25).abs should be < 1e-9
    s(4) shouldBe -1L                        // distinct 3 -> 2
    s(5) shouldBe true                       // max c -> d
  }

  test("cleanOrphanStages removes stranded stage/compact dirs, leaves tables") {
    val base = Files.createTempDirectory("graft-orphan").toString
    def mk(name: String): Unit = {
      val d = java.nio.file.Paths.get(base, name)
      Files.createDirectories(d)
      Files.writeString(d.resolve("part-0.parquet"), "x")
    }
    mk("orders")
    mk("events")
    mk("orders__stage_ab12cd34")
    mk("events__compact_ef56ab78")
    mk("x__stage_backup") // marker substring but NOT the generated shape
    // crash-mid-swap signature: target gone, stage holds the only copy
    mk("lost__stage_deadbeef")
    // partition-scoped variant: target TABLE exists, but the stage
    // holds a partition the target lacks (deleted before its rename)
    mk("events/p_date=2024-01-01")
    mk("events__stage_0badcafe/p_date=2024-01-02")
    // age guard: a fresh (in-flight) staging dir survives the default cutoff
    Maintenance.cleanOrphanStages(spark, base) shouldBe Nil
    val deleted = Maintenance.cleanOrphanStages(spark, base, olderThanMs = 0L)
    deleted.map(p => p.substring(p.lastIndexOf('/') + 1)).sorted shouldBe
      Seq("events__compact_ef56ab78", "orders__stage_ab12cd34")
    new java.io.File(base, "orders").exists() shouldBe true
    new java.io.File(base, "x__stage_backup").exists() shouldBe true
    new java.io.File(base, "orders__stage_ab12cd34").exists() shouldBe false
    // the recoverable stages were NOT deleted (each holds the only
    // copy of its data) and are reported for rename-in recovery
    new java.io.File(base, "lost__stage_deadbeef").exists() shouldBe true
    new java.io.File(base, "events__stage_0badcafe").exists() shouldBe true
    Maintenance.recoverableStages(spark, base)
      .map(p => p.substring(p.lastIndexOf('/') + 1)).sorted shouldBe
      Seq("events__stage_0badcafe", "lost__stage_deadbeef")
    Maintenance.cleanOrphanStages(spark, base, olderThanMs = 0L) shouldBe Nil
  }

  test("cleanTableOrphanStages sweeps only the named table's deletable shells") {
    val base = Files.createTempDirectory("graft-orphan-t").toString
    def mk(name: String): Unit = {
      val d = java.nio.file.Paths.get(base, name)
      Files.createDirectories(d)
      Files.writeString(d.resolve("part-0.parquet"), "x")
    }
    mk("dim"); mk("other")
    mk("dim__stage_ab12cd34")
    mk("dim__compact_ef56ab78")
    mk("other__stage_12345678") // different table: out of scope
    mk("dim__stage_deadbeef/p_bucket=3") // recoverable: partition absent
    Maintenance.cleanTableOrphanStages(spark, s"$base/dim") shouldBe Nil // age gate
    val deleted = Maintenance.cleanTableOrphanStages(
      spark, s"$base/dim", olderThanMs = 0L)
    deleted.map(_.split('/').last).sorted shouldBe
      Seq("dim__compact_ef56ab78", "dim__stage_ab12cd34")
    new java.io.File(base, "other__stage_12345678").exists() shouldBe true
    new java.io.File(base, "dim__stage_deadbeef").exists() shouldBe true
  }

  test("rollup/SCD2 state roots stay bounded across batches + healed crashes") {
    import org.apache.spark.sql.functions._
    // N folds through the bucketed rollup, a healed-crash shell planted
    // every few batches (the swap protocol preserves them by design);
    // the streaming sinks' gcTick cadence runs this sweep — after it,
    // the root must hold exactly the live state + pin, independent of N
    val root = Files.createTempDirectory("graft-gc-roll").toString
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    (0 until 6).foreach { i =>
      graft.streaming.EventStreams.applyRollupBatchBucketed(
        orders.filter(col("o_orderkey") % 6 === i), root, i.toLong,
        Seq("o_custkey"), "o_totalprice", nBuckets = 8)
      if (i % 2 == 0) {
        // healed crash leftover: shell whose buckets all exist live
        val d = java.nio.file.Paths.get(root, f"state__stage_$i%08x")
        Files.createDirectories(d.resolve("bucket=0"))
        Files.writeString(d.resolve("bucket=0").resolve("p.parquet"), "x")
      }
    }
    new java.io.File(root).list().count(
      _.startsWith("state__stage_")) shouldBe 3
    Maintenance.cleanTableOrphanStages(spark, s"$root/state",
      olderThanMs = 0L) should have size 3
    // live state + pin (+ its repair witness) + the monotone-guard
    // frontier file, nothing else
    new java.io.File(root).list().filterNot(_.startsWith("."))
      .sorted.toSeq shouldBe
      Seq("_CONFIG", "_CONFIG_WITNESS", "_LAST_BATCH", "state")
    // the swept state still folds and reads correctly
    val got = graft.operators.IncrementalAgg.finalizeState(
      spark.read.parquet(s"$root/state").drop("bucket"), Seq("o_custkey"))
    val want = orders.groupBy("o_custkey")
      .agg(count(lit(1)).as("n")).count()
    got.count() shouldBe want
  }

  test("approxDistinct profile: one Expand-free scan, <=5% error vs exact") {
    val orders = spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_orderstatus")
    val approx = Maintenance.profile(orders, approxDistinct = true)
    // still exactly one scan…
    approx.queryExecution.optimizedPlan.collectLeaves().length shouldBe 1
    // …and no Expand: exact multi-column count_distinct multiplies the
    // scan per column; the sketch keeps the plan flat
    approx.queryExecution.executedPlan.toString should not include "Expand"
    Maintenance.profile(orders).queryExecution.executedPlan.toString should
      include("Expand")

    val exactByCol = rows(Maintenance.profile(orders).orderBy("column"))
      .map(r => r.head -> r(3).asInstanceOf[Long]).toMap
    rows(approx.orderBy("column")).foreach { r =>
      val (c, est) = (r.head, r(3).asInstanceOf[Long])
      val exact = exactByCol(c)
      math.abs(est - exact).toDouble should be <= math.max(1.0, 0.05 * exact)
    }
  }

  test("snapshotDiff: added/removed/changed only, NULL shifts detected, " +
      "missing columns refused") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val before = Seq(
      (1L, Option("a"), Option("x")), // unchanged
      (2L, Option("b"), Option("y")), // changed (content edit)
      (3L, Option("c"), Option("z")), // removed
      (5L, Option("e"), None),        // NULL shift: (e, NULL) ->
      (6L, None, None))               // all-NULL, unchanged
      .toDF("id", "t", "l")
    val after = Seq(
      (1L, Option("a"), Option("x")),
      (2L, Option("B"), Option("y")),
      (4L, Option("d"), Option("w")), // added
      (5L, None, Option("e")),        // -> (NULL, e): MUST be changed
      (6L, None, None))
      .toDF("id", "t", "l")
    val got = rows(Maintenance.snapshotDiff(before, after, "id",
      Seq("t", "l")).orderBy("id"))
    // the \u0002 NULL sentinel keeps (e, NULL) != (NULL, e) — a bare
    // concat_ws would hash both to "e" and silently miss the change
    got shouldBe Seq(Seq(2L, "changed"), Seq(3L, "removed"),
      Seq(4L, "added"), Seq(5L, "changed"))
    // output is change-sized: ids 1 and 6 never surface
    intercept[IllegalArgumentException] {
      Maintenance.snapshotDiff(before, after.drop("l"), "id", Seq("t", "l"))
    }.getMessage should include("both snapshots")
  }

  test("snapshotDiff signature is injective: boundary-shifting values " +
      "and NULL-vs-literal-marker are distinct (r11 ADVICE)") {
    import spark.implicits._
    val before = Seq(
      (1L, Option("ab"), Option("c")), // ("ab","c") vs ("a","bc"):
      (2L, None, Option("x")),         // NULL vs the literal marker
      (3L, Option("N"), Option("y")),  // unchanged control
      (4L, Option("2:a"), Option("b"))) // value embedding the encoding
      .toDF("id", "t", "l")
    val after = Seq(
      (1L, Option("a"), Option("bc")), // a separator-joined concat
      (2L, Option("N"), Option("x")),  // would hash these pairs equal
      (3L, Option("N"), Option("y")),
      (4L, Option("2"), Option("a:b")))
      .toDF("id", "t", "l")
    rows(Maintenance.snapshotDiff(before, after, "id", Seq("t", "l"))
      .orderBy("id")) shouldBe Seq(
      Seq(1L, "changed"), Seq(2L, "changed"), Seq(4L, "changed"))
  }
}
