package graft

import graft.operators.BatchMarkers
import graft.state.{FoldStore, SmallFiles}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The write half of [[FoldStore]]'s protocol: a write over a crashed
  * attempt's residue holds exactly the new content, the cover makes a
  * retracted bucket resolve to nothing, and small control files
  * replace in place. */
class FoldStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmpRoot(): Path = new Path(java.nio.file.Files
    .createTempDirectory("graft-fold-store").toString + "/state")

  private def fsOf(root: Path): FileSystem =
    root.getFileSystem(spark.sessionState.newHadoopConf())

  /** (k, v) rows bucketed by k mod 4 into `__bucket`. */
  private def rows(kvs: (Int, String)*): DataFrame =
    kvs.toDF("k", "v").withColumn("__bucket", pmod(col("k"), lit(4)))

  private def plant(dir: Path, kvs: (Int, String)*): Unit =
    kvs.toDF("k", "v").write.mode("overwrite").parquet(dir.toString)

  private def collected(df: Option[DataFrame]): Set[(Int, String)] =
    df.map(_.select("k", "v").as[(Int, String)].collect().toSet)
      .getOrElse(Set.empty)

  /** Every dir under `root` whose name starts with `__bucket=` and
    * that sits inside a `v<id>` version dir. */
  private def nestedLeaves(fs: FileSystem, root: Path): Seq[Path] = {
    val it = fs.listFiles(root, true)
    val out = Seq.newBuilder[Path]
    while (it.hasNext) {
      var p = it.next().getPath.getParent
      while (p != null && p != root) {
        if (p.getName.startsWith("__bucket=") &&
            FoldStore.versionId(p.getParent.getName).isDefined) out += p
        p = p.getParent
      }
    }
    out.result().distinct
  }

  test("a versioned write over a crashed attempt's residue reads back " +
      "exactly the new rows, with no bucket leaf nested in a version") {
    val root = tmpRoot()
    val fs = fsOf(root)
    FoldStore.writeVersion(fs, root, "base", 1L,
      rows(0 -> "a1", 1 -> "b1"), "__bucket") shouldBe Set(0, 1)
    BatchMarkers.commit(fs, root, 1L)
    // batch 2's crashed attempt: a version in a bucket the retry
    // writes, one in a bucket it does not, and a staging shell
    plant(new Path(root, "base/bucket=0/v2"), 0 -> "stale")
    plant(new Path(root, "base/bucket=3/v2"), 3 -> "stale")
    plant(new Path(root, "base/.staging2/__bucket=1"), 1 -> "stale")
    FoldStore.writeVersion(fs, root, "base", 2L,
      rows(0 -> "a2", 4 -> "e2", 1 -> "b2"), "__bucket",
      touched = Set(0, 1)) shouldBe Set(0, 1)
    BatchMarkers.commit(fs, root, 2L)
    val markers = BatchMarkers.read(fs, root)
    collected(FoldStore.read(spark, fs, root, "base", None, markers,
      Some(2L))) shouldBe Set(0 -> "a2", 4 -> "e2", 1 -> "b2")
    collected(FoldStore.read(spark, fs, root, "base", None, markers,
      Some(1L))) shouldBe Set(0 -> "a1", 1 -> "b1")
    fs.exists(new Path(root, "base/bucket=3/v2")) shouldBe false
    fs.exists(new Path(root, "base/.staging2")) shouldBe false
    nestedLeaves(fs, root) shouldBe empty
  }

  test("a touched bucket left with no rows resolves to nothing while " +
      "an older version exists") {
    val root = tmpRoot()
    val fs = fsOf(root)
    FoldStore.writeVersion(fs, root, "agg", 1L,
      rows(0 -> "a1", 1 -> "b1"), "__bucket")
    BatchMarkers.commit(fs, root, 1L)
    FoldStore.writeVersion(fs, root, "agg", 2L, rows(1 -> "b2"),
      "__bucket", touched = Set(0, 1)) shouldBe Set(1)
    BatchMarkers.commit(fs, root, 2L)
    val markers = BatchMarkers.read(fs, root)
    FoldStore.read(spark, fs, root, "agg", Some(Set(0)), markers,
      Some(2L)) shouldBe None
    collected(FoldStore.read(spark, fs, root, "agg", None, markers,
      Some(2L))) shouldBe Set(1 -> "b2")
    collected(FoldStore.read(spark, fs, root, "agg", Some(Set(0)),
      markers, Some(1L))) shouldBe Set(0 -> "a1")
    // the superseded drop leaves each touched bucket its latest only
    FoldStore.dropSuperseded(fs, root, "agg", 2L, Set(0, 1))
    fs.listStatus(new Path(root, "agg/bucket=0")).map(_.getPath.getName)
      .filter(FoldStore.versionId(_).isDefined).toSeq shouldBe Seq("v2")
  }

  test("a flat batch-dir write over a stale dir holds only the new " +
      "rows; an empty fold makes an empty dir") {
    val root = tmpRoot()
    val fs = fsOf(root)
    plant(new Path(root, "log/b5"), 9 -> "stale")
    plant(new Path(root, "log/.staging5"), 8 -> "stale")
    FoldStore.writeBatchDir(fs, root, "log", 5L,
      Some(Seq(1 -> "x", 2 -> "y").toDF("k", "v")))
    collected(Some(spark.read.parquet(
      FoldStore.batchDir(root, "log", 5L).toString))) shouldBe
      Set(1 -> "x", 2 -> "y")
    fs.exists(new Path(root, "log/.staging5")) shouldBe false
    // partitioned by bucket, read back through the committed leaves
    plant(new Path(root, "view/d7/__bucket=0"), 4 -> "stale")
    FoldStore.writeBatchDir(fs, root, "view", 7L,
      Some(rows(1 -> "p", 2 -> "q")), "d", Some("__bucket"))
    BatchMarkers.commit(fs, root, 7L)
    collected(FoldStore.readBatches(spark, fs, root, "view", "d",
      BatchMarkers.read(fs, root))) shouldBe Set(1 -> "p", 2 -> "q")
    // an empty fold over a stale dir: an empty dir
    plant(new Path(root, "log/b6"), 9 -> "stale")
    FoldStore.writeBatchDir(fs, root, "log", 6L, None)
    fs.listStatus(FoldStore.batchDir(root, "log", 6L)) shouldBe empty
  }

  test("a small-file replace renames over the target and reaps stale " +
      "temps") {
    val root = tmpRoot()
    val fs = fsOf(root)
    fs.mkdirs(root)
    SmallFiles.replace(fs, root, "_LAST_BATCH", "3", "no replace")
    fs.create(new Path(root, "_LAST_BATCH_tmp_deadbeef"), true).close()
    SmallFiles.replace(fs, root, "_LAST_BATCH", "4", "no replace")
    SmallFiles.read(fs, new Path(root, "_LAST_BATCH")) shouldBe Some("4")
    SmallFiles.read(fs, new Path(root, "_NONE")) shouldBe None
    fs.listStatus(root).map(_.getPath.getName)
      .filter(_.contains("_tmp_")) shouldBe empty
  }
}
