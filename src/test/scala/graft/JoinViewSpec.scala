package graft

import graft.operators.JoinView
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class JoinViewSpec extends SparkSpec {
  import spark.implicits._

  private def aRows(ids: Range): DataFrame =
    ids.map(i => (i.toLong, s"a$i")).toDF("k", "a_val")
  private def bRows(ids: Range): DataFrame =
    ids.map(i => (i.toLong, i * 10.0)).toDF("k", "b_val")

  private def canon(df: DataFrame): Seq[Seq[Any]] =
    rows(df.orderBy("k", "a_val", "b_val"))

  test("delta fold equals the one-shot join after every batch") {
    var st = JoinView.init(aRows(1 to 10), bRows(5 to 15), "k")
    canon(st.view) shouldBe canon(aRows(1 to 10).join(bRows(5 to 15), "k"))
    // batch 1: new as overlap old bs and vice versa
    st = JoinView.applyDelta(st, aRows(11 to 20), bRows(16 to 18), "k")
    canon(st.view) shouldBe canon(aRows(1 to 20).join(bRows(5 to 18), "k"))
    // batch 2: one-sided delta (empty ΔB)
    st = JoinView.applyDelta(st, aRows(21 to 25), bRows(5 until 5), "k")
    canon(st.view) shouldBe canon(aRows(1 to 25).join(bRows(5 to 18), "k"))
    // batch 3: empty ΔA, ΔB keys hitting EVERY a-generation so far
    st = JoinView.applyDelta(st, aRows(1 until 1), bRows(1 to 25), "k")
    canon(st.view) shouldBe canon(
      aRows(1 to 25).join(bRows(5 to 18).unionByName(bRows(1 to 25)), "k"))
  }

  test("duplicate join keys multiply correctly across delta folds") {
    // two a-rows and two b-rows on the same key, arriving in
    // different batches → 4 view rows, each pair exactly once
    val a1 = Seq((1L, "x")).toDF("k", "a_val")
    val a2 = Seq((1L, "y")).toDF("k", "a_val")
    val b1 = Seq((1L, 1.0)).toDF("k", "b_val")
    val b2 = Seq((1L, 2.0)).toDF("k", "b_val")
    var st = JoinView.init(a1, b1, "k")
    st = JoinView.applyDelta(st, a2, b2, "k")
    canon(st.view) shouldBe canon(a1.unionByName(a2)
      .join(b1.unionByName(b2), "k"))
    st.view.count() shouldBe 4L
  }

  test("colliding non-key columns are refused") {
    val a = Seq((1L, "x")).toDF("k", "v")
    val b = Seq((1L, "y")).toDF("k", "v")
    an[IllegalArgumentException] should be thrownBy JoinView.init(a, b, "k")
    an[IllegalArgumentException] should be thrownBy
      JoinView.applyDelta(JoinView.init(a, Seq((1L, 2.0)).toDF("k", "w"), "k"),
        a.limit(0), b, "k")
  }

  test("directory fold: bucket-pruned layout — a one-key delta writes " +
      "one bucket leaf; layout change refused; equals one-shot") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-jvdirs")
      .toString + "/state"
    val nB = 8
    val a0 = (1L to 40L).map(k => (k, k * 10.0)).toDF("k", "price")
    val b0 = (1L to 40L).map(k => (k, k + 0.5)).toDF("k", "qty")
    JoinView.foldBatchDirs(root, 0L, "k", a0, b0, nB) shouldBe true
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def leaves(side: String, d: Long): Set[String] = {
      val p = new org.apache.hadoop.fs.Path(s"$root/$side/d$d")
      if (!fs.exists(p)) Set.empty
      else fs.listStatus(p).toSeq.filter(_.isDirectory)
        .map(_.getPath.getName).filter(_.startsWith("__bucket=")).toSet
    }
    // 40 keys spread over several buckets in batch 0
    leaves("a", 0L).size should be > 2
    // batch 1: ONE key → its sides write exactly ONE bucket leaf each
    val k1 = 7L
    val expectBucket = a0.sparkSession.range(1).select(
      pmod(xxhash64(lit(k1)), lit(nB)).cast("int")).head.getInt(0)
    JoinView.foldBatchDirs(root, 1L, "k",
      Seq((k1, 999.0)).toDF("k", "price"),
      Seq((k1, 0.25)).toDF("k", "qty"), nB) shouldBe true
    leaves("a", 1L) shouldBe Set(s"__bucket=$expectBucket")
    leaves("b", 1L) shouldBe Set(s"__bucket=$expectBucket")
    leaves("view", 1L) shouldBe Set(s"__bucket=$expectBucket")
    // view equals the one-shot join over everything folded
    val allA = a0.unionByName(Seq((k1, 999.0)).toDF("k", "price"))
    val allB = b0.unionByName(Seq((k1, 0.25)).toDF("k", "qty"))
    val got = JoinView.readCommittedView(spark, root).get
      .orderBy("k", "price", "qty")
    rows(got) shouldBe rows(allA.join(allB, "k")
      .select("k", "price", "qty").orderBy("k", "price", "qty"))
    // a changed bucket count is a different layout: refuse loud
    val e = intercept[Exception] {
      JoinView.foldBatchDirs(root, 2L, "k",
        Seq((1L, 1.0)).toDF("k", "price"),
        Seq((1L, 1.0)).toDF("k", "qty"), nB * 2)
    }
    e.getMessage.toLowerCase should include("layout")
  }

  test("compactStateTo: N batch dirs become one, view preserved, " +
      "re-shard allowed, folds continue against the fresh root") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-jvc").toString
    val root = s"$base/state"
    val fresh = s"$base/compact"
    val a = (1L to 30L).map(k => (k, k * 10.0))
    val b = (1L to 30L).map(k => (k, k + 0.5))
    (0 until 3).foreach { i =>
      JoinView.foldBatchDirs(root, i.toLong, "k",
        a.filter(_._1 % 3 == i).toDF("k", "price"),
        b.filter(_._1 % 3 == i).toDF("k", "qty"), nBuckets = 8)
    }
    val before = rows(JoinView.readCommittedView(spark, root).get
      .orderBy("k"))
    // compact WITH a re-shard (8 -> 4 buckets — the in-place change
    // the fold pin refuses is exactly what compaction is for)
    JoinView.compactStateTo(spark, root, fresh, nBuckets = 4) shouldBe 30L
    rows(JoinView.readCommittedView(spark, fresh).get
      .orderBy("k")) shouldBe before
    // one batch dir per side now
    val fs = new org.apache.hadoop.fs.Path(fresh)
      .getFileSystem(spark.sessionState.newHadoopConf())
    Seq("a", "b", "view").foreach { side =>
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$fresh/$side"))
        .toSeq.map(_.getPath.getName).filter(_.startsWith("d")) shouldBe
        Seq("d0")
    }
    // the fresh root SEEDS the source's committed frontier (2) as a
    // watermark: a pre-compaction id refuses loud instead of
    // re-applying against restarted markers...
    intercept[IllegalArgumentException] {
      JoinView.foldBatchDirs(fresh, 1L, "k",
        Seq((99L, 1.0)).toDF("k", "price"),
        Seq((99L, 2.0)).toDF("k", "qty"), nBuckets = 4)
    }.getMessage should include("folded watermark")
    rows(JoinView.readCommittedView(spark, fresh).get
      .orderBy("k")) shouldBe before
    // ...and folds continue ABOVE the frontier (pin carried, new nB)
    JoinView.foldBatchDirs(fresh, 3L, "k",
      Seq((99L, 1.0)).toDF("k", "price"),
      Seq((99L, 2.0)).toDF("k", "qty"), nBuckets = 4) shouldBe true
    JoinView.readCommittedView(spark, fresh).get.count() shouldBe 31L
    // refusing to merge into an occupied root
    val e = intercept[IllegalArgumentException] {
      JoinView.compactStateTo(spark, root, fresh, nBuckets = 4)
    }
    e.getMessage should include("already holds a state")
    // a view whose keys never matched (empty view side) compacts to
    // an empty-but-committed fresh state, and keeps accepting folds
    val root2 = s"$base/state2"; val fresh2 = s"$base/compact2"
    JoinView.foldBatchDirs(root2, 0L, "k",
      Seq((1L, 1.0)).toDF("k", "price"),
      Seq((2L, 2.0)).toDF("k", "qty"), nBuckets = 4) shouldBe true
    JoinView.compactStateTo(spark, root2, fresh2, nBuckets = 4) shouldBe 0L
    JoinView.foldBatchDirs(fresh2, 1L, "k",
      Seq((2L, 9.0)).toDF("k", "price"),
      Seq((1L, 8.0)).toDF("k", "qty"), nBuckets = 4) shouldBe true
    rows(JoinView.readCommittedView(spark, fresh2).get
      .orderBy("k")) shouldBe Seq(Seq(1L, 1.0, 8.0), Seq(2L, 9.0, 2.0))
  }

  test("compactStateTo addColumns: schema evolution for join views — " +
      "migrated side pins, NULL-filled d0 on the side AND the view, " +
      "new-schema folds continue and the view equals the one-shot; " +
      "retype / cross-side collision / key / old-schema delta refuse") {
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft-jvevo").toString
    val root = s"$base/state"; val fresh = s"$base/evolved"
    JoinView.foldBatchDirs(root, 0L, "k",
      Seq((1L, 10.0), (2L, 20.0)).toDF("k", "price"),
      Seq((1L, 1.5), (2L, 2.5)).toDF("k", "qty"),
      nBuckets = 4) shouldBe true
    // widen side a with `region` (string) and side b with `w` (double)
    JoinView.compactStateTo(spark, root, fresh, nBuckets = 4,
      addColumnsA = Seq("region" -> "string"),
      addColumnsB = Seq("w" -> "double")) shouldBe 2L
    // the compacted view serves both columns as typed NULLs
    val v0 = JoinView.readCommittedView(spark, fresh).get
    v0.columns.toSeq should contain allOf ("region", "w")
    v0.filter(col("region").isNotNull || col("w").isNotNull)
      .count() shouldBe 0L
    // a post-migration fold carries the columns; the maintained view
    // equals the one-shot join over old (NULL-widened) + new rows
    JoinView.foldBatchDirs(fresh, 1L, "k",
      Seq((3L, 30.0, "eu")).toDF("k", "price", "region"),
      Seq((3L, 3.5, 9.9)).toDF("k", "qty", "w"),
      nBuckets = 4) shouldBe true
    val allA = Seq((1L, 10.0, null), (2L, 20.0, null),
      (3L, 30.0, "eu")).toDF("k", "price", "region")
    val allB = Seq((1L, 1.5, null), (2L, 2.5, null),
      (3L, 3.5, java.lang.Double.valueOf(9.9))).toDF("k", "qty", "w")
    rows(JoinView.readCommittedView(spark, fresh).get
      .select("k", "price", "region", "qty", "w").orderBy("k")) shouldBe
      rows(allA.join(allB, "k")
        .select("k", "price", "region", "qty", "w").orderBy("k"))
    // an OLD-schema delta refuses on the migrated pin
    intercept[Exception] {
      JoinView.foldBatchDirs(fresh, 2L, "k",
        Seq((4L, 40.0)).toDF("k", "price"),
        Seq((4L, 4.5, 1.0)).toDF("k", "qty", "w"), nBuckets = 4)
    }.getMessage.toLowerCase should include("layout")
    // the delta pull serves only post-compact (new-schema) ranges —
    // the compaction floor refuses below the frontier, so mixed-
    // schema ranges cannot be requested
    rows(JoinView.readViewDelta(spark, fresh, 0L).get
      .select("k", "region", "w")) shouldBe
      Seq(Seq(3L, "eu", 9.9))
    // refusals: retype (either side), cross-side collision, the key
    intercept[IllegalArgumentException] {
      JoinView.compactStateTo(spark, root, s"$base/x1", 4,
        addColumnsA = Seq("price" -> "string"))
    }.getMessage should include("already declared")
    intercept[IllegalArgumentException] {
      JoinView.compactStateTo(spark, root, s"$base/x2", 4,
        addColumnsA = Seq("qty" -> "double"))
    }.getMessage should include("already declared")
    intercept[IllegalArgumentException] {
      JoinView.compactStateTo(spark, root, s"$base/x3", 4,
        addColumnsB = Seq("k" -> "long"))
    }.getMessage should include("already declared")
    intercept[IllegalArgumentException] {
      JoinView.compactStateTo(spark, root, s"$base/x4", 4,
        addColumnsA = Seq("c" -> "double"),
        addColumnsB = Seq("c" -> "double"))
    }.getMessage should include("twice")
    intercept[IllegalArgumentException] {
      JoinView.compactStateTo(spark, root, s"$base/x5", 4,
        addColumnsA = Seq("bad" -> "notatype"))
    }.getMessage should include("unparseable")
  }

  test("rebuildViewBatchDir: one lost committed view dir comes back " +
      "EXACTLY from the sides' join invariant (multiset difference, " +
      "duplicate rows included); the view and its delta pulls serve " +
      "again; side holes, multiple view holes, uncommitted ids and " +
      "empty-side states refuse or degrade honestly") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val base = java.nio.file.Files
      .createTempDirectory("graft-jvreb").toString
    val root = s"$base/state"
    // batch 1 carries a DUPLICATE a-row (multiset semantics on trial)
    // and a cross-batch match (k=2's b-row arrives in batch 2)
    JoinView.foldBatchDirs(root, 0L, "k",
      Seq((1L, 10.0)).toDF("k", "price"),
      Seq((1L, 1.5)).toDF("k", "qty"), nBuckets = 4) shouldBe true
    JoinView.foldBatchDirs(root, 1L, "k",
      Seq((2L, 20.0), (2L, 20.0)).toDF("k", "price"),
      Seq((1L, 9.9)).toDF("k", "qty"), nBuckets = 4) shouldBe true
    JoinView.foldBatchDirs(root, 2L, "k",
      Seq.empty[(Long, Double)].toDF("k", "price"),
      Seq((2L, 2.5)).toDF("k", "qty"), nBuckets = 4) shouldBe true
    val fs = new Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val before = rows(JoinView.readCommittedView(spark, root).get
      .orderBy("k", "price", "qty"))
    val d1Before = rows(spark.read.parquet(s"$root/view/d1")
      .orderBy("k", "price", "qty"))
    // lose the middle view dir: fsck names it, reads drop its rows
    fs.delete(new Path(root, "view/d1"), true) shouldBe true
    val audit = graft.app.ViewFsck.fsckJson(spark, root)
    audit should include(""""ok":false""")
    audit should include("join/view/d1: committed batch dir MISSING")
    // rebuild: byte-equal rows (duplicates preserved), total restored
    JoinView.rebuildViewBatchDir(spark, root, 1L) shouldBe
      d1Before.size.toLong
    rows(spark.read.parquet(s"$root/view/d1")
      .orderBy("k", "price", "qty")) shouldBe d1Before
    rows(JoinView.readCommittedView(spark, root).get
      .orderBy("k", "price", "qty")) shouldBe before
    rows(JoinView.readViewDelta(spark, root, 0L).get
      .select("k").orderBy("k")) shouldBe Seq(Seq(1L), Seq(2L), Seq(2L))
    graft.app.ViewFsck.fsckJson(spark, root) should include(""""ok":true""")
    // refusals: uncommitted id; no hole; two holes; a side hole
    intercept[IllegalArgumentException] {
      JoinView.rebuildViewBatchDir(spark, root, 9L)
    }.getMessage should include("not committed")
    intercept[IllegalArgumentException] {
      JoinView.rebuildViewBatchDir(spark, root, 1L)
    }.getMessage should include("no hole")
    // two holes refuse — the difference cannot be split between them
    val conf = spark.sessionState.newHadoopConf()
    org.apache.hadoop.fs.FileUtil.copy(fs, new Path(root, "view/d0"),
      fs, new Path(base, "save_d0"), false, conf)
    org.apache.hadoop.fs.FileUtil.copy(fs, new Path(root, "view/d2"),
      fs, new Path(base, "save_d2"), false, conf)
    fs.delete(new Path(root, "view/d0"), true)
    fs.delete(new Path(root, "view/d2"), true)
    intercept[IllegalArgumentException] {
      JoinView.rebuildViewBatchDir(spark, root, 0L)
    }.getMessage should include("one at a time is NOT possible")
    fs.rename(new Path(base, "save_d0"), new Path(root, "view/d0"))
    fs.rename(new Path(base, "save_d2"), new Path(root, "view/d2"))
    fs.delete(new Path(root, "a/d1"), true)
    fs.delete(new Path(root, "view/d1"), true)
    intercept[IllegalArgumentException] {
      JoinView.rebuildViewBatchDir(spark, root, 1L)
    }.getMessage should include("SOURCE OF TRUTH")
    graft.app.ViewFsck.fsckJson(spark, root) should
      include("join/a/d1: committed batch dir MISSING")
  }

  test("fsck completeness: a committed batch whose a/, b/ AND view/ " +
      "dirs are ALL lost (external triple loss) surfaces as three " +
      "named MISSING errors — the per-id marker seeds the id " +
      "universe, so the state cannot report CLEAN while reads " +
      "silently drop the batch's rows") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val root = java.nio.file.Files
      .createTempDirectory("graft-jvtriple").toString + "/state"
    JoinView.foldBatchDirs(root, 0L, "k",
      Seq((1L, 10.0)).toDF("k", "price"),
      Seq((1L, 1.5)).toDF("k", "qty"), nBuckets = 4) shouldBe true
    JoinView.foldBatchDirs(root, 1L, "k",
      Seq((2L, 20.0)).toDF("k", "price"),
      Seq((2L, 2.5)).toDF("k", "qty"), nBuckets = 4) shouldBe true
    val fs = new Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // a mis-scoped cleanup deletes EVERY d1 dir; only _APPLIED_1
    // survives as evidence the batch ever committed
    for (layer <- Seq("a", "b", "view"))
      fs.delete(new Path(root, s"$layer/d1"), true) shouldBe true
    val audit = graft.app.ViewFsck.fsckJson(spark, root)
    audit should include(""""ok":false""")
    audit should include("join/a/d1: committed batch dir MISSING")
    audit should include("join/b/d1: committed batch dir MISSING")
    audit should include("join/view/d1: committed batch dir MISSING")
    // best-effort bound: once the id is watermark-subsumed its marker
    // is gone, and a triple loss below the watermark has no listable
    // evidence left — fsck honestly reports clean (documented bound,
    // same as the change-log coverage audit)
    graft.operators.BatchMarkers.foldInto(fs, new Path(root),
      graft.operators.BatchMarkers.read(fs, new Path(root)), 1L)
    graft.app.ViewFsck.fsckJson(spark, root) should
      include(""""ok":true""")
  }

  test("cleanOrphanBatchDirs: aged abandoned staging and unmarked " +
      "batch dirs are swept; fresh and committed dirs survive") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-jvgc")
      .toString + "/state"
    JoinView.foldBatchDirs(root, 0L, "k",
      Seq((1L, 1.0)).toDF("k", "price"),
      Seq((1L, 2.0)).toDF("k", "qty"), nBuckets = 4) shouldBe true
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // fake an abandoned batch 7: crashed before rename (staging) on
    // one side, in the rename window (d without marker) on another
    fs.mkdirs(new org.apache.hadoop.fs.Path(root, "a/.staging7"))
    fs.mkdirs(new org.apache.hadoop.fs.Path(root, "view/d7"))
    // a 24h gate sweeps nothing fresh
    JoinView.cleanOrphanBatchDirs(spark, root) shouldBe empty
    // gate at 0: both garbage dirs go, committed d0 and the pin stay
    val swept = JoinView.cleanOrphanBatchDirs(spark, root, olderThanMs = 0L)
    swept.map(p => p.substring(p.indexOf("state/") + 6)).sorted shouldBe
      Seq("a/.staging7", "view/d7")
    fs.exists(new org.apache.hadoop.fs.Path(root, "a/d0")) shouldBe true
    fs.exists(new org.apache.hadoop.fs.Path(root, "_CONFIG")) shouldBe true
    rows(JoinView.readCommittedView(spark, root).get) shouldBe
      Seq(Seq(1L, 1.0, 2.0))
    // the swept state keeps folding
    JoinView.foldBatchDirs(root, 1L, "k",
      Seq((2L, 3.0)).toDF("k", "price"),
      Seq((2L, 4.0)).toDF("k", "qty"), nBuckets = 4) shouldBe true
    JoinView.readCommittedView(spark, root).get.count() shouldBe 2L
  }

  test("foldMarkers: aged committed markers collapse into " +
      "_APPLIED_UPTO_; readers resolve the same view, replay of a " +
      "subsumed id is a no-op, uncommitted dirs below the watermark " +
      "are swept, later folds continue") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-jvfm")
      .toString + "/state"
    (0 until 3).foreach { i =>
      JoinView.foldBatchDirs(root, i.toLong, "k",
        Seq((i.toLong, 1.0)).toDF("k", "price"),
        Seq((i.toLong, 2.0)).toDF("k", "qty"), nBuckets = 4) shouldBe true
    }
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val before = rows(JoinView.readCommittedView(spark, root).get
      .orderBy("k"))
    // crash garbage of abandoned id 1 (below the frontier): after the
    // fold it would read as committed — must be swept first
    fs.delete(new org.apache.hadoop.fs.Path(root, "_APPLIED_1"), false)
    // fresh markers (24h gate): nothing folds yet — which is exactly
    // why the checkpointed streaming sink never meets the watermark
    // refusal below: a restart replays only its NEWEST id, whose
    // marker is inside the replay window, so the replay stays a
    // quiet per-id-marker no-op
    JoinView.foldMarkers(spark, root) shouldBe None
    JoinView.foldBatchDirs(root, 2L, "k",
      Seq((9L, 9.0)).toDF("k", "price"),
      Seq((9L, 9.0)).toDF("k", "qty"), nBuckets = 4) shouldBe false
    // gate at 0: markers 0 and 2 fold to _APPLIED_UPTO_2, the
    // abandoned d1 dirs go with them
    JoinView.foldMarkers(spark, root, olderThanMs = 0L) shouldBe Some(2L)
    def rootNames() = fs.listStatus(
      new org.apache.hadoop.fs.Path(root)).map(_.getPath.getName).toSet
    rootNames() should contain("_APPLIED_UPTO_2")
    rootNames().filter(_.matches("_APPLIED_\\d+")) shouldBe empty
    fs.exists(new org.apache.hadoop.fs.Path(root, "view/d1")) shouldBe false
    rows(JoinView.readCommittedView(spark, root).get
      .orderBy("k")) shouldBe before.filterNot(_.head == 1L)
    // an id at/below the watermark with no live marker REFUSES loud:
    // join ids are not monotone by contract, so the watermark cannot
    // tell a committed replay from a never-delivered id — a quiet
    // false would vanish the latter behind a success result. In
    // particular the refusal must NOT run the reap-at-entry path
    // that would delete the id's LIVE d0 dirs.
    intercept[IllegalArgumentException] {
      JoinView.foldBatchDirs(root, 0L, "k",
        Seq((9L, 9.0)).toDF("k", "price"),
        Seq((9L, 9.0)).toDF("k", "qty"), nBuckets = 4)
    }.getMessage should include("folded watermark")
    fs.exists(new org.apache.hadoop.fs.Path(root, "view/d0")) shouldBe true
    rows(JoinView.readCommittedView(spark, root).get
      .orderBy("k")) shouldBe before.filterNot(_.head == 1L)
    // the stream continues past the watermark
    JoinView.foldBatchDirs(root, 3L, "k",
      Seq((3L, 1.0)).toDF("k", "price"),
      Seq((3L, 2.0)).toDF("k", "qty"), nBuckets = 4) shouldBe true
    JoinView.readCommittedView(spark, root).get.count() shouldBe 3L
    // a second fold advances and replaces the old watermark
    JoinView.foldMarkers(spark, root, olderThanMs = 0L) shouldBe Some(3L)
    rootNames() should contain("_APPLIED_UPTO_3")
    rootNames() should not contain "_APPLIED_UPTO_2"
    JoinView.readCommittedView(spark, root).get.count() shouldBe 3L
  }

  test("lookupView: bucket-pruned point lookup — equals the full-view " +
      "filter, reads ONLY the keys' bucket leaves, refuses type drift " +
      "and NULL keys") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-jvlk")
      .toString + "/state"
    (0 until 2).foreach { i =>
      JoinView.foldBatchDirs(root, i.toLong, "k",
        (1L to 30L).filter(_ % 2 == i).map(x => (x, x * 10.0))
          .toDF("k", "price"),
        (1L to 30L).filter(_ % 2 == i).map(x => (x, x + 0.5))
          .toDF("k", "qty"), nBuckets = 8) shouldBe true
    }
    val got = JoinView.lookupView(spark, root, Seq(3L, 8L).toDF("k")).get
    rows(got.orderBy("k")) shouldBe Seq(
      Seq(3L, 30.0, 3.5), Seq(8L, 80.0, 8.5))
    // IO pruning: every view file the lookup reads lives under the
    // two keys' OWN bucket leaves
    val bucketOf = (id: Long) => spark.range(1).select(
      pmod(xxhash64(lit(id)), lit(8)).cast("int")).head.getInt(0)
    val allowed = Set(3L, 8L).map(bucketOf).map(b => s"/__bucket=$b/")
    val viewFiles = got.inputFiles.filter(_.contains("/view/"))
    viewFiles should not be empty
    viewFiles.foreach { f =>
      withClue(f) { allowed.exists(f.contains) shouldBe true }
    }
    // wrong columns / drifted key type / NULL keys refuse
    intercept[IllegalArgumentException] {
      JoinView.lookupView(spark, root, Seq((3L, 1)).toDF("k", "x"))
    }.getMessage should include("exactly the pinned join key")
    intercept[IllegalArgumentException] {
      JoinView.lookupView(spark, root,
        Seq(3).toDF("k").select(col("k").cast("int")))
    }.getMessage should include("type-sensitive")
    intercept[IllegalArgumentException] {
      JoinView.lookupView(spark, root,
        Seq(Option.empty[java.lang.Long]).toDF("k"))
    }.getMessage should include("NULL")
    // a key the view never held: empty, not an error
    JoinView.lookupView(spark, root, Seq(999L).toDF("k"))
      .map(_.count()).getOrElse(0L) shouldBe 0L
  }

  test("compactStateTo retry after a crash that pinned the fresh root " +
      "but committed nothing: reclaimed, not refused; a non-empty " +
      "foreign dir refuses") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-jvcr")
      .toString
    val root = s"$base/state"; val fresh = s"$base/fresh"
    JoinView.foldBatchDirs(root, 0L, "k",
      Seq((1L, 1.0)).toDF("k", "price"),
      Seq((1L, 2.0)).toDF("k", "qty"), nBuckets = 4) shouldBe true
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // the crash window: pin written, a side half-staged, no marker
    graft.sources.PartitionedStore.pinLayout(fs,
      new org.apache.hadoop.fs.Path(fresh), fresh, "join|stale|s|s|9")
    fs.mkdirs(new org.apache.hadoop.fs.Path(fresh, "a/d0"))
    JoinView.compactStateTo(spark, root, fresh, nBuckets = 4) shouldBe 1L
    rows(JoinView.readCommittedView(spark, fresh).get) shouldBe
      Seq(Seq(1L, 1.0, 2.0))
    // a non-view, non-empty target refuses rather than being wiped
    val occupied = s"$base/occupied"
    fs.mkdirs(new org.apache.hadoop.fs.Path(occupied, "somedata"))
    intercept[IllegalArgumentException] {
      JoinView.compactStateTo(spark, root, occupied, nBuckets = 4)
    }.getMessage should include("not empty")
  }

  test("compactStateTo writes the as-of floor BEFORE the committing " +
      "watermark fold: the crash window (pin + staged sides + floor, " +
      "no watermark) serves NOTHING and the retry reclaims it, " +
      "re-seeding the floor from the source") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-jvfw")
      .toString
    val root = s"$base/state"; val fresh = s"$base/fresh"
    JoinView.foldBatchDirs(root, 0L, "k",
      Seq((1L, 1.0)).toDF("k", "price"),
      Seq((1L, 2.0)).toDF("k", "qty"), nBuckets = 4) shouldBe true
    JoinView.foldBatchDirs(root, 1L, "k",
      Seq((2L, 3.0)).toDF("k", "price"),
      Seq((2L, 4.0)).toDF("k", "qty"), nBuckets = 4) shouldBe true
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val freshPath = new org.apache.hadoop.fs.Path(fresh)
    // the post-fix crash window: pin written, sides staged, floor
    // written, foldInto (the committing watermark) never ran. Under
    // the OLD ordering the window instead left a committed-looking
    // root with NO floor, and as-of/delta reads silently served the
    // collapsed d0 as any earlier snapshot.
    graft.sources.PartitionedStore.pinLayout(fs, freshPath, fresh,
      "join|stale|s|s|9")
    fs.mkdirs(new org.apache.hadoop.fs.Path(fresh, "view/d0"))
    graft.operators.BatchMarkers.writeFloor(fs, freshPath, 5L)
    // conservative: nothing committed, so nothing serves...
    JoinView.readCommittedView(spark, fresh) shouldBe None
    JoinView.readViewAsOf(spark, fresh, 7L) shouldBe None
    // ...and an as-of below the stray floor refuses rather than lies
    intercept[IllegalArgumentException] {
      JoinView.readViewAsOf(spark, fresh, 3L)
    }.getMessage should include("compaction collapsed")
    // the retry reclaims the window: stray floor cleared, state
    // compacted, floor re-seeded at the SOURCE frontier (1, not 5)
    JoinView.compactStateTo(spark, root, fresh, nBuckets = 4) shouldBe 2L
    graft.operators.BatchMarkers.readFloor(fs, freshPath) shouldBe
      Some(1L)
    rows(JoinView.readCommittedView(spark, fresh).get
      .orderBy("k")) shouldBe
      Seq(Seq(1L, 1.0, 2.0), Seq(2L, 3.0, 4.0))
    // and the floored root refuses pre-frontier as-of/delta reads
    intercept[IllegalArgumentException] {
      JoinView.readViewAsOf(spark, fresh, 0L)
    }.getMessage should include("compaction collapsed")
    intercept[IllegalArgumentException] {
      JoinView.readViewDelta(spark, fresh, afterId = 0L)
    }.getMessage should include("compaction floor")
  }

  test("randomized differential: random two-sided insert deltas split " +
      "across batches fold to the one-shot join (seeded, 3 trials, " +
      "duplicate keys included)") {
    import spark.implicits._
    val rnd = new scala.util.Random(13L)
    (0 until 3).foreach { trial =>
      val root = java.nio.file.Files.createTempDirectory("graft-jvrd")
        .toString + "/state"
      // duplicate keys on both sides exercise the multiplicity math
      val aAll = Seq.fill(25)((rnd.nextInt(12).toLong, rnd.nextInt(100)))
        .map { case (k, v) => (k, v.toDouble) }
      val bAll = Seq.fill(25)((rnd.nextInt(12).toLong, rnd.nextInt(100)))
        .map { case (k, v) => (k, v / 4.0) }
      val aSplit = aAll.map(r => (rnd.nextInt(3), r))
      val bSplit = bAll.map(r => (rnd.nextInt(3), r))
      (0 until 3).foreach { i =>
        JoinView.foldBatchDirs(root, i.toLong, "k",
          aSplit.collect { case (b, r) if b == i => r }.toDF("k", "price"),
          bSplit.collect { case (b, r) if b == i => r }.toDF("k", "qty"),
          nBuckets = 4) shouldBe true
      }
      def c(df: DataFrame) = rows(df.orderBy("k", "price", "qty"))
      val got = c(JoinView.readCommittedView(spark, root).get)
      val want = c(aAll.toDF("k", "price").join(bAll.toDF("k", "qty"), "k"))
      withClue(s"trial $trial: ") { got shouldBe want }
    }
  }

  test("directory fold: type drift refuses loud (xxhash64 buckets are " +
      "type-sensitive); a pre-type names-only pin migrates in place") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-jvtypes")
      .toString + "/state"
    JoinView.foldBatchDirs(root, 0L, "k",
      Seq((1L, 1.0)).toDF("k", "price"),
      Seq((1L, 2.0)).toDF("k", "qty"), nBuckets = 4) shouldBe true
    // same column NAMES, drifted key type (long → string): the same
    // logical key would hash into a different bucket and every later
    // pruned snapshot read would miss its matches — refuse loud
    val e = intercept[Exception] {
      JoinView.foldBatchDirs(root, 1L, "k",
        Seq(("1", 1.0)).toDF("k", "price"),
        Seq((1L, 2.0)).toDF("k", "qty"), nBuckets = 4)
    }
    e.getMessage.toLowerCase should include("layout")
    // drifted NON-key type also refuses: appended per-batch parquet
    // must stay union-compatible across folds
    val e2 = intercept[Exception] {
      JoinView.foldBatchDirs(root, 1L, "k",
        Seq((1L, "x")).toDF("k", "price"),
        Seq((1L, 2.0)).toDF("k", "qty"), nBuckets = 4)
    }
    e2.getMessage.toLowerCase should include("layout")
    // a pre-r12 names-only pin denoting the SAME layout is accepted
    // and migrated to the typed spelling — healthy states survive the
    // pin-format upgrade without a re-shard
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val cf = new org.apache.hadoop.fs.Path(root, "_CONFIG")
    fs.delete(cf, false)
    val out = fs.create(cf, true)
    out.write("join|k|k,price|k,qty|4".getBytes("UTF-8")); out.close()
    JoinView.foldBatchDirs(root, 1L, "k",
      Seq((2L, 3.0)).toDF("k", "price"),
      Seq((2L, 4.0)).toDF("k", "qty"), nBuckets = 4) shouldBe true
    val in = fs.open(cf)
    val pinned = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    pinned should include(":bigint") // typed name:type fields now pinned
    rows(JoinView.readCommittedView(spark, root).get.orderBy("k")) shouldBe
      Seq(Seq(1L, 1.0, 2.0), Seq(2L, 3.0, 4.0))
  }

  test("as-of reads are free on the append-only layout: every " +
      "committed prefix serves exactly; compaction floors the axis " +
      "at its frontier") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-jvasof").toString + "/state"
    def fold(id: Long, ks: Range): Boolean =
      JoinView.foldBatchDirs(root, id, "k",
        ks.map(i => (i.toLong, s"a$i")).toDF("k", "a_val"),
        ks.map(i => (i.toLong, i * 10.0)).toDF("k", "b_val"),
        nBuckets = 4)
    fold(0L, 1 to 2) shouldBe true
    fold(1L, 3 to 3) shouldBe true
    fold(2L, 4 to 5) shouldBe true
    def keysAsOf(a: Long): Seq[Long] =
      JoinView.readViewAsOf(spark, root, a)
        .map(_.select("k").collect().map(_.getLong(0)).toSeq.sorted)
        .getOrElse(Nil)
    keysAsOf(0L) shouldBe Seq(1L, 2L)
    keysAsOf(1L) shouldBe Seq(1L, 2L, 3L)
    keysAsOf(2L) shouldBe Seq(1L, 2L, 3L, 4L, 5L)
    // above the frontier = current; no floor exists pre-compaction,
    // so even the empty prefix serves (as None)
    keysAsOf(99L) shouldBe Seq(1L, 2L, 3L, 4L, 5L)
    // as-of lookup: key 4 invisible at batch 1, served at 2
    val probe = Seq(4L).toDF("k")
    JoinView.lookupView(spark, root, probe, Some(1L)).get
      .count() shouldBe 0L
    JoinView.lookupView(spark, root, probe, Some(2L)).get
      .count() shouldBe 1L
    // compact: the collapsed d0 must never serve as an earlier
    // snapshot — floor = frontier, below refuses loud
    val fresh = root + "_v2"
    JoinView.compactStateTo(spark, root, fresh, nBuckets = 4) shouldBe 5L
    intercept[IllegalArgumentException] {
      JoinView.readViewAsOf(spark, fresh, 1L)
    }.getMessage should include("compaction")
    JoinView.readViewAsOf(spark, fresh, 2L).get.count() shouldBe 5L
    // --- readViewDelta: the incremental consumer pull -------------
    def deltaKeys(after: Long, to: Option[Long]): Seq[Long] =
      JoinView.readViewDelta(spark, root, after, to)
        .map(_.select("k").collect().map(_.getLong(0)).toSeq.sorted)
        .getOrElse(Nil)
    deltaKeys(0L, None) shouldBe Seq(3L, 4L, 5L)
    deltaKeys(0L, Some(1L)) shouldBe Seq(3L)
    deltaKeys(2L, None) shouldBe Nil // nothing new past the frontier
    // pulling the same range again is byte-stable (immutable dirs)
    deltaKeys(0L, Some(1L)) shouldBe Seq(3L)
    // compaction floors the range: the merged d0 is not "appended in
    // a range", so a backlog pull below the floor refuses loud...
    intercept[IllegalArgumentException] {
      JoinView.readViewDelta(spark, fresh, 1L)
    }.getMessage should include("compaction floor")
    // ...while pulls FROM the collapse point onward work: nothing
    // yet, then exactly the post-compaction fold's rows
    JoinView.readViewDelta(spark, fresh, 2L) shouldBe None
    JoinView.foldBatchDirs(fresh, 3L, "k",
      Seq((9L, "a9")).toDF("k", "a_val"),
      Seq((9L, 90.0)).toDF("k", "b_val"), nBuckets = 4) shouldBe true
    JoinView.readViewDelta(spark, fresh, 2L).get
      .select("k").collect().map(_.getLong(0)).toSeq shouldBe Seq(9L)
  }
}
