package graft

import graft.streaming.EventStreams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** AS-OF retention for the plain bucketed rollup family
  * ([[EventStreams.enableRollupRetention]] /
  * [[EventStreams.readRollupViewAsOf]]): per-bucket COW history
  * versions committed by root markers, floor-gated honesty, reap +
  * compact + gc interplay — the CdcRollup retention contract,
  * rollup-flavored. */
class RollupHistorySpec extends SparkSpec {
  import spark.implicits._

  private def tmpRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-rolh").toString + "/state"

  /** (key, value) batch frame. */
  private def batch(rows: (String, Double)*): DataFrame =
    rows.toDF("g", "v")

  private def fold(root: String, id: Long, d: DataFrame): Seq[Int] =
    EventStreams.applyRollupBatchBucketed(d, root, id, Seq("g"), "v",
      nBuckets = 4)

  /** Finalized view as a comparable map: g -> (n, total, vmin, vmax). */
  private def toMap(df: DataFrame): Map[String, (Long, Double, Double,
      Double)] =
    df.collect().map(r => r.getAs[String]("g") ->
      ((r.getAs[Long]("n"), r.getAs[Double]("total"),
        r.getAs[Double]("vmin"), r.getAs[Double]("vmax")))).toMap

  private def viewAsOf(root: String, a: Long) =
    toMap(EventStreams.readRollupViewAsOf(spark, root, a).get
      .select(col("g"), col("n"), col("total"), col("vmin"), col("vmax")))

  /** The one-shot expectation over the given batches. */
  private def oneShot(batches: DataFrame*) =
    toMap(batches.reduce(_ unionByName _).groupBy("g")
      .agg(count("v").as("n"),
        sum(col("v").cast("decimal(38,6)")).cast("double").as("total"),
        min("v").as("vmin"), max("v").as("vmax")))

  test("as-of reads serve the exact finalized view every earlier " +
      "batch saw; above the frontier = current; untouched buckets " +
      "resolve through their own chains") {
    val root = tmpRoot()
    EventStreams.enableRollupRetention(spark, root) shouldBe -1L
    val b0 = batch(("a", 10.0), ("b", 20.0), ("c", 30.0))
    // batch 1 touches ONLY group a's bucket — b and c's buckets must
    // keep resolving their batch-0 versions at every later as-of
    val b1 = batch(("a", 1.0))
    val b2 = batch(("b", 2.0), ("c", 3.0))
    fold(root, 0L, b0)
    fold(root, 1L, b1)
    fold(root, 2L, b2)
    viewAsOf(root, 0L) shouldBe oneShot(b0)
    viewAsOf(root, 1L) shouldBe oneShot(b0, b1)
    viewAsOf(root, 2L) shouldBe oneShot(b0, b1, b2)
    // the axis is total: ids between folds / above the frontier
    // resolve to the highest committed version at or below them
    viewAsOf(root, 99L) shouldBe viewAsOf(root, 2L)
    // the current state agrees with the frontier snapshot
    val cur = toMap(graft.operators.IncrementalAgg.finalizeState(
      spark.read.parquet(s"$root/state").drop("bucket"), Seq("g")))
    cur shouldBe viewAsOf(root, 2L)
  }

  test("retention refuses loud: non-retained state; below the floor " +
      "after enabling late (the baseline snapshot is the floor); " +
      "pre-guard states refuse the enable itself") {
    val root = tmpRoot()
    fold(root, 0L, batch(("a", 10.0)))
    intercept[IllegalStateException] {
      EventStreams.readRollupViewAsOf(spark, root, 0L)
    }.getMessage should include("not in retention mode")
    fold(root, 1L, batch(("a", 11.0)))
    // enable AFTER two folds: the floor is the frontier, the current
    // state snapshots as the baseline every bucket resolves to
    EventStreams.enableRollupRetention(spark, root) shouldBe 1L
    intercept[IllegalArgumentException] {
      EventStreams.readRollupViewAsOf(spark, root, 0L)
    }.getMessage should include("floor")
    viewAsOf(root, 1L) shouldBe
      oneShot(batch(("a", 10.0)), batch(("a", 11.0)))
    // idempotent — never lowers the floor
    EventStreams.enableRollupRetention(spark, root) shouldBe 1L
    fold(root, 2L, batch(("b", 5.0)))
    viewAsOf(root, 1L) shouldBe
      oneShot(batch(("a", 10.0)), batch(("a", 11.0)))
    viewAsOf(root, 2L) shouldBe
      oneShot(batch(("a", 10.0)), batch(("a", 11.0)), batch(("b", 5.0)))
    // pre-guard state (rows but no _LAST_BATCH): the baseline has no
    // position on the version axis — refuse the enable
    val legacy = tmpRoot()
    fold(legacy, 0L, batch(("a", 1.0)))
    val fs = new org.apache.hadoop.fs.Path(legacy)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(legacy, "_LAST_BATCH"), false)
    intercept[IllegalArgumentException] {
      EventStreams.enableRollupRetention(spark, legacy)
    }.getMessage should include("pre-guard")
  }

  test("a crash between swap and history commit backfills on replay; " +
      "an uncommitted planted version stays invisible; gc sweeps " +
      "abandoned history garbage") {
    import org.apache.hadoop.fs.Path
    val root = tmpRoot()
    EventStreams.enableRollupRetention(spark, root) shouldBe -1L
    val b0 = batch(("a", 10.0), ("b", 20.0))
    val b1 = batch(("a", 1.0))
    fold(root, 0L, b0)
    fold(root, 1L, b1)
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    // simulate the crash window: the swap committed but the history
    // version + marker never landed (delete both), then REPLAY the id
    val histDir = new Path(root, "history")
    fs.listStatus(histDir).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("bucket="))
      .foreach(b => fs.delete(new Path(b, "v1"), true))
    fs.delete(new Path(root, "_APPLIED_1"), false)
    // inside the crash window the id's history is invisible: as-of 1
    // resolves to the batch-0 snapshot (the fold's effect appears
    // atomically with the marker), never a partial chain
    viewAsOf(root, 1L) shouldBe oneShot(b0)
    fold(root, 1L, b1) // replay: per-bucket markers no-op the fold...
    // ...and commitHistory backfills the version from the live state
    viewAsOf(root, 1L) shouldBe oneShot(b0, b1)
    // an uncommitted planted version is invisible to as-of reads
    val anyBucket = fs.listStatus(histDir).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("bucket="))
      .find(b => fs.exists(new Path(b, "v1"))).get
    spark.read.parquet(new Path(anyBucket, "v1").toString)
      .write.parquet(new Path(anyBucket, "v7").toString)
    viewAsOf(root, 99L) shouldBe oneShot(b0, b1)
    // gc: the planted id is above the frontier — the 24h gate spares
    // it, the 0h gate declares it abandoned
    EventStreams.cleanRollupHistoryOrphans(spark, root) shouldBe Nil
    val swept = EventStreams.cleanRollupHistoryOrphans(spark, root,
      olderThanMs = 0L)
    swept.exists(_.endsWith("/v7")) shouldBe true
  }

  test("reapRollupHistory advances the floor past everything reaped " +
      "(floor first — conservative), never touches a bucket's latest; " +
      "foldRollupMarkers keeps as-of resolving through the watermark") {
    val root = tmpRoot()
    EventStreams.enableRollupRetention(spark, root) shouldBe -1L
    val b0 = batch(("a", 10.0), ("b", 20.0))
    val b1 = batch(("a", 1.0))
    val b2 = batch(("a", 2.0))
    fold(root, 0L, b0); fold(root, 1L, b1); fold(root, 2L, b2)
    // marker folding first: committedness must resolve through the
    // watermark for every later read and reap
    EventStreams.foldRollupMarkers(spark, root, olderThanMs = 0L)
      .shouldBe(Some(2L))
    viewAsOf(root, 1L) shouldBe oneShot(b0, b1)
    val (deleted, floor) = EventStreams.reapRollupHistory(spark, root, 0L)
    deleted should not be empty
    floor shouldBe 2L
    intercept[IllegalArgumentException] {
      EventStreams.readRollupViewAsOf(spark, root, 1L)
    }.getMessage should include("floor")
    // the latest chain survives: the frontier snapshot still serves
    viewAsOf(root, 2L) shouldBe oneShot(b0, b1, b2)
    // nothing left to reap — idempotent
    EventStreams.reapRollupHistory(spark, root, 0L)._1 shouldBe Nil
  }

  test("diffRollupView: the finalized change set between snapshots — " +
      "added/changed labels, ride-along keys dropped, empty diff " +
      "keeps the schema, the as-of axis is total; " +
      "readRollupViewSince pins ONE frontier from the committed " +
      "markers; refusals: not retained, reversed range, ahead of " +
      "the frontier, below the floor after a reap") {
    val root = tmpRoot()
    EventStreams.enableRollupRetention(spark, root) shouldBe -1L
    val b0 = batch(("a", 10.0), ("b", 20.0), ("c", 30.0))
    val b1 = batch(("a", 1.0))
    val b2 = batch(("b", 2.0), ("d", 4.0))
    fold(root, 0L, b0); fold(root, 1L, b1); fold(root, 2L, b2)
    def diffMap(from: Long, to: Long) =
      EventStreams.diffRollupView(spark, root, from, to).collect()
        .map(r => r.getAs[String]("g") ->
          ((r.getAs[String]("change"),
            Option(r.getAs[java.lang.Long]("n_from")).map(_.toLong),
            Option(r.getAs[java.lang.Long]("n_to")).map(_.toLong))))
        .toMap
    // (0,1]: only a changed (n 1→2); b/c ride along in a's touched
    // bucket's snapshots when they share it — compared and dropped
    diffMap(0L, 1L) shouldBe Map("a" -> (("changed", Some(1L), Some(2L))))
    // version-chain pruning, plan-pinned: BOTH snapshot reads of the
    // (0,1] diff touch ONLY the bucket batch 1 versioned (group a's)
    val aBucket = spark.range(1)
      .select(pmod(xxhash64(lit("a")), lit(4)).cast("int"))
      .head().getInt(0)
    EventStreams.diffRollupView(spark, root, 0L, 1L).inputFiles
      .foreach(f => f should include(s"bucket=$aBucket"))
    // (1,2]: b changed, d added (insert-only — 'removed' can't arise)
    diffMap(1L, 2L) shouldBe Map(
      "b" -> (("changed", Some(1L), Some(2L))),
      "d" -> (("added", None, Some(1L))))
    diffMap(0L, 2L).keySet shouldBe Set("a", "b", "d")
    // the empty diff keeps the full output schema
    val same = EventStreams.diffRollupView(spark, root, 2L, 2L)
    same.count() shouldBe 0L
    same.columns.toSeq should contain allOf
      ("g", "n_from", "total_from", "n_to", "total_to", "change")
    // toId above the frontier reads each chain's tip — the axis is
    // total, like the as-of face
    diffMap(0L, 99L) shouldBe diffMap(0L, 2L)
    // since-pull: one frontier resolution pins range AND report
    val (d02, f2) = EventStreams.readRollupViewSincePinned(spark, root, 0L)
    f2 shouldBe 2L
    rows(d02.orderBy("g")) shouldBe
      rows(EventStreams.diffRollupView(spark, root, 0L, 2L).orderBy("g"))
    intercept[IllegalArgumentException] {
      EventStreams.readRollupViewSince(spark, root, 9L)
    }.getMessage should include("AHEAD of the committed frontier")
    intercept[IllegalArgumentException] {
      EventStreams.diffRollupView(spark, root, 2L, 1L)
    }.getMessage should include("must be <=")
    val bare = tmpRoot()
    fold(bare, 0L, batch(("a", 1.0)))
    intercept[IllegalStateException] {
      EventStreams.diffRollupView(spark, bare, 0L, 0L)
    }.getMessage should include("not in retention mode")
    // after a reap the floor gates the from side loud...
    EventStreams.foldRollupMarkers(spark, root, olderThanMs = 0L)
    EventStreams.reapRollupHistory(spark, root, 0L)._2 shouldBe 2L
    intercept[IllegalArgumentException] {
      EventStreams.diffRollupView(spark, root, 0L, 2L)
    }.getMessage should include("floor")
    // ...while the still-servable frontier diff stays empty-clean
    EventStreams.diffRollupView(spark, root, 2L, 2L).count() shouldBe 0L
  }

  test("rollup change log: forward-only pulls equal diffRollupView " +
      "on a retained twin at every cut; empty folds witness dataless " +
      "dirs; a lost witness heals at the next fold; a raced enable " +
      "refuses then advances on re-enable; coverage gaps refuse " +
      "loud; reap advances the bound before deleting") {
    import org.apache.hadoop.fs.Path
    val root = tmpRoot(); val twin = tmpRoot()
    EventStreams.enableRollupChangeLog(spark, root) shouldBe -1L
    EventStreams.enableRollupRetention(spark, twin) shouldBe -1L
    def foldBoth(id: Long, d: DataFrame): Unit = {
      fold(root, id, d); fold(twin, id, d); ()
    }
    val b0 = batch(("a", 10.0), ("b", 20.0))
    val b1 = batch(("a", 1.0), ("c", 30.0))
    val b2 = batch(("a", 2.0))
    foldBoth(0L, b0); foldBoth(1L, b1); foldBoth(2L, b2)
    // the log pull IS the retained twin's snapshot diff, at every cut
    for (after <- Seq(-1L, 0L, 1L, 2L))
      rows(EventStreams.readRollupViewLog(spark, root, after)
        .orderBy("g")) shouldBe
        rows(EventStreams.diffRollupView(spark, twin, after, 2L)
          .orderBy("g"))
    val (_, f1) = EventStreams.readRollupViewLogPinned(spark, root, 0L)
    f1 shouldBe 2L
    // empty fold: dataless b<id> dir + witness — the gap signal stays
    // unambiguous, pulls of its range stay empty
    foldBoth(3L, batch())
    val fs = new Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.exists(new Path(root, "log/b3")) shouldBe true
    EventStreams.readRollupViewLog(spark, root, 2L).count() shouldBe 0L
    // replay of the frontier id: per-bucket markers no-op the fold,
    // the log dir is untouched, the pull byte-stable
    fold(root, 3L, batch())
    rows(EventStreams.readRollupViewLog(spark, root, 0L)
      .orderBy("g")) shouldBe
      rows(EventStreams.diffRollupView(spark, twin, 0L, 2L).orderBy("g"))
    // refusals: not in change-log mode; ahead of the frontier
    intercept[IllegalStateException] {
      EventStreams.readRollupViewLog(spark, twin, 0L)
    }.getMessage should include("not in change-log mode")
    intercept[IllegalArgumentException] {
      EventStreams.readRollupViewLog(spark, root, 9L)
    }.getMessage should include("AHEAD")
    // crashed-pre-witness: the swap landed, the marker didn't — the
    // NEXT fold heals it from the log dir + post-swap evidence
    fs.delete(new Path(root, "_APPLIED_3"), false) shouldBe true
    fold(root, 4L, batch(("d", 5.0)))
    graft.operators.BatchMarkers.read(fs, new Path(root))
      .committed(3L) shouldBe true
    // (1, 4]: a changed (folds 2), d added (fold 4) — 2 net rows
    EventStreams.readRollupViewLog(spark, root, 1L).count() shouldBe 2L
    // coverage gap: a committed witness in range with no dir refuses
    fs.delete(new Path(root, "log/b1"), true) shouldBe true
    intercept[IllegalStateException] {
      EventStreams.readRollupViewLog(spark, root, 0L).collect()
    }.getMessage should include("does not cover the range")
    EventStreams.readRollupViewLog(spark, root, 1L).count() shouldBe 2L
    // raced enable: a fold that committed with no witness AND no log
    // dir blocks later folds loud; re-enabling advances past the gap
    val raced = tmpRoot()
    EventStreams.enableRollupChangeLog(spark, raced) shouldBe -1L
    fold(raced, 0L, batch(("x", 1.0)))
    val rfs = new Path(raced)
      .getFileSystem(spark.sessionState.newHadoopConf())
    rfs.delete(new Path(raced, "log/b0"), true) shouldBe true
    rfs.delete(new Path(raced, "_APPLIED_0"), false) shouldBe true
    intercept[graft.model.UserException] {
      fold(raced, 1L, batch(("y", 2.0)))
    }.getMessage should include("committed without logging")
    EventStreams.enableRollupChangeLog(spark, raced) shouldBe 0L
    fold(raced, 1L, batch(("y", 2.0)))
    rows(EventStreams.readRollupViewLog(spark, raced, 0L)
      .select(col("g"), col("change"))) shouldBe
      Seq(Seq("y", "added"))
    // reap: bound written BEFORE deleting; below-bound refuses, the
    // frontier pull stays servable-empty; non-log states refuse
    val (deleted, bound) =
      EventStreams.reapRollupChangeLog(spark, root, 0L)
    deleted should not be empty
    bound shouldBe 4L
    intercept[IllegalArgumentException] {
      EventStreams.readRollupViewLog(spark, root, 3L)
    }.getMessage should include("below the change-log start")
    EventStreams.readRollupViewLog(spark, root, 4L).count() shouldBe 0L
    intercept[IllegalStateException] {
      EventStreams.reapRollupChangeLog(spark, twin, 0L)
    }.getMessage should include("not in change-log mode")
  }

  test("randomized differential: rollup diffs under random batch " +
      "cuts equal the full-outer comparison of one-shot GROUP BYs " +
      "over the batch prefixes (seeded, 3 trials); the since-pull " +
      "twins diff(after, frontier)") {
    val rnd = new scala.util.Random(17)
    for (_ <- 1 to 3) {
      val root = tmpRoot()
      EventStreams.enableRollupRetention(spark, root) shouldBe -1L
      val keys = ('a' to 'j').map(_.toString)
      val batches = (0 to 3).map { _ =>
        batch(Seq.fill(rnd.nextInt(7) + 1)(
          (keys(rnd.nextInt(keys.size)),
            (rnd.nextInt(100) + 1) * 1.0)): _*)
      }
      batches.zipWithIndex.foreach { case (b, i) => fold(root, i.toLong, b) }
      val from = rnd.nextInt(4)
      val to = from + rnd.nextInt(4 - from)
      // expectation from the one-shot prefixes, in plain test code
      val fm = oneShot(batches.take(from + 1): _*)
      val tm = oneShot(batches.take(to + 1): _*)
      val expected = (fm.keySet ++ tm.keySet).flatMap { k =>
        (fm.get(k), tm.get(k)) match {
          case (None, Some(t)) => Some(k -> (("added", None, Some(t))))
          case (Some(f), Some(t)) if f != t =>
            Some(k -> (("changed", Some(f), Some(t))))
          case _ => None // identical (or both absent): not a change
        }
      }.toMap
      val got = EventStreams.diffRollupView(spark, root,
        from.toLong, to.toLong).collect().map { r =>
        def side(sfx: String) =
          Option(r.getAs[java.lang.Long](s"n$sfx")).map(n =>
            (n.toLong, r.getAs[Double](s"total$sfx"),
              r.getAs[Double](s"vmin$sfx"), r.getAs[Double](s"vmax$sfx")))
        r.getAs[String]("g") ->
          ((r.getAs[String]("change"), side("_from"), side("_to")))
      }.toMap
      got shouldBe expected
      // the since-pull is the same diff pinned at the committed
      // frontier (3 — every batch here is non-empty)
      val (pull, frontier) =
        EventStreams.readRollupViewSincePinned(spark, root, from.toLong)
      frontier shouldBe 3L
      rows(pull.orderBy("g")) shouldBe
        rows(EventStreams.diffRollupView(spark, root, from.toLong, 3L)
          .orderBy("g"))
    }
  }

  test("as-of point lookups are bucket-pruned over the history " +
      "chains; compact carries retention mode but floors at the " +
      "frontier") {
    val root = tmpRoot()
    EventStreams.enableRollupRetention(spark, root) shouldBe -1L
    val b0 = batch(("a", 10.0), ("b", 20.0))
    val b1 = batch(("a", 1.0))
    fold(root, 0L, b0); fold(root, 1L, b1)
    val probe = Seq("b").toDF("g")
    val hit = EventStreams.lookupRollupState(spark, root, probe,
      asOf = Some(0L)).get
    rows(hit.select(col("g"), col("n"), col("total"))) shouldBe
      Seq(Seq("b", 1L, 20.0))
    // pruned: only b's bucket's history files are read
    val expectBucket = spark.range(1)
      .select(pmod(xxhash64(lit("b")), lit(4)).cast("int"))
      .head().getInt(0)
    hit.inputFiles.foreach { f =>
      f should include(s"bucket=$expectBucket")
    }
    // the as-of axis discriminates: group a has ONE row at batch 0,
    // two at batch 1 — each lookup resolves its bucket's own chain
    val a0 = EventStreams.lookupRollupState(spark,
      root, Seq("a").toDF("g"), asOf = Some(0L)).get
    rows(a0.select(col("g"), col("n"), col("total"))) shouldBe
      Seq(Seq("a", 1L, 10.0))
    val a1 = EventStreams.lookupRollupState(spark,
      root, Seq("a").toDF("g"), asOf = Some(1L)).get
    rows(a1.select(col("g"), col("n"), col("total"))) shouldBe
      Seq(Seq("a", 2L, 11.0))
    // compact: retention survives, history does not — fresh floor =
    // frontier, below refuses, the frontier snapshot serves
    val fresh = tmpRoot()
    EventStreams.compactRollupStateTo(spark, root, fresh)
    EventStreams.rollupAsofFloor(spark, fresh) shouldBe Some(1L)
    intercept[IllegalArgumentException] {
      EventStreams.readRollupViewAsOf(spark, fresh, 0L)
    }.getMessage should include("floor")
    toMap(EventStreams.readRollupViewAsOf(spark, fresh, 1L).get
      .select(col("g"), col("n"), col("total"), col("vmin"),
        col("vmax"))) shouldBe oneShot(b0, b1)
  }

  test("a change-log reap between a crash and its replay keeps the " +
      "unwitnessed emission: the replay completes and a pull from the " +
      "old frontier equals diffRollupView") {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val root = tmpRoot(); val ahead = tmpRoot(); val twin = tmpRoot()
    EventStreams.enableRollupChangeLog(spark, root) shouldBe -1L
    EventStreams.enableRollupChangeLog(spark, ahead) shouldBe -1L
    EventStreams.enableRollupRetention(spark, twin) shouldBe -1L
    val b0 = batch(("a", 10.0), ("b", 20.0))
    val b1 = batch(("a", 1.0), ("c", 30.0))
    val b2 = batch(("a", 2.0), ("d", 4.0))
    Seq(root, ahead, twin).foreach { r => fold(r, 0L, b0); fold(r, 1L, b1) }
    fold(ahead, 2L, b2); fold(twin, 2L, b2)
    // the crash: batch 2's emission is renamed in (a pure function of
    // the old state and the batch, identical on every attempt) but its
    // swap and witness never landed
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(root).getFileSystem(conf)
    FileUtil.copy(fs, new Path(ahead, "log/b2"), fs,
      new Path(root, "log/b2"), false, conf) shouldBe true
    EventStreams.reapRollupChangeLog(spark, root, 0L)._2 shouldBe 1L
    fs.exists(new Path(root, "log/b2")) shouldBe true
    fold(root, 2L, b2) // the replay finds the dir and skips re-emission
    rows(EventStreams.readRollupViewLog(spark, root, 1L).orderBy("g")) shouldBe
      rows(EventStreams.diffRollupView(spark, twin, 1L, 2L).orderBy("g"))
  }
}
