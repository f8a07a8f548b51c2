package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table-maintenance operators for long-lived parquet layouts. */
object Maintenance {

  /** Compact a parquet directory's small files to ~`targetFileBytes`
    * outputs (the small-files problem: a 100 TB table accreted by
    * thousands of incremental loads scans orders of magnitude slower
    * than the same bytes in right-sized files). Uses the current
    * on-disk byte size to pick the output file count; writes via
    * staging + swap like the sink overwrite.
    */
  def compactParquet(spark: SparkSession, path: String,
                     targetFileBytes: Long = 128L * 1024 * 1024): Int = {
    // scheme-agnostic (file://, s3a://, hdfs://): all metadata and the
    // swap go through the Hadoop filesystem, same as the sinks
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(spark.sessionState.newHadoopConf())
    val bytes = fs.getContentSummary(target).getLength
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val df = spark.read.parquet(path)
    val stage = new org.apache.hadoop.fs.Path(
      s"${path}__compact_${java.util.UUID.randomUUID().toString.take(8)}")
    // repartition (not coalesce): coalesce would fuse upstream
    // parallelism into the reduced slot count; a compaction job wants
    // full read parallelism and only narrow output width
    df.repartition(nFiles).write.mode("overwrite").parquet(stage.toString)
    swapDirIn(fs, stage, target, path)
    nFiles
  }

  /** Z-ORDER variant of [[compactParquet]]: rewrites the directory
    * CLUSTERED on `cols` — rows sorted by the interleaved-bit key of
    * [[graft.functions.ZOrderFunctions.zkey]], ranged into
    * ~`targetFileBytes` files — so each output file's footer min/max
    * is narrow in EVERY listed column and a selective scan on any of
    * them skips most files/row-groups through ordinary parquet
    * pushdown. Costs ONE disk read of the data (the source is
    * persisted for the job's duration — `repartitionByRange` runs a
    * hidden RangePartitioner sampling job over every row of its
    * child, which without the persist would be a second full scan on
    * top of the boundary pass) plus the boundary-sketch aggregation,
    * the range-sample pass, and the range shuffle; run it as the
    * compaction cadence for layouts whose read pattern filters on
    * non-leading columns. Same staging + idempotent swap, same
    * single-writer contract as [[compactParquet]]. For a
    * date-partitioned layout, run per partition directory — the z-key
    * then spans only the columns queries filter WITHIN a partition
    * (which also keeps the persisted working set to one partition).
    *
    * `bits` is clamped so the interleaved key fits a long AND the
    * driver-side boundary arrays stay sane: effective bits =
    * min(bits, 63/cols.size, 12) — at the default 8 bits, 8 columns
    * cluster at 7 bits each rather than failing after the boundary
    * pass has already paid a scan; past 12 bits (4096 rank buckets
    * per column, far beyond any real file count) extra resolution
    * buys no pruning and only bloats the percentile pass. */
  def zorderCompact(spark: SparkSession, path: String, cols: Seq[String],
                    bits: Int = 8,
                    targetFileBytes: Long = 128L * 1024 * 1024): Int = {
    import graft.functions.ZOrderFunctions
    require(cols.nonEmpty && cols.size <= 8,
      s"zorderCompact clusters on 1..8 columns, got ${cols.size}")
    require(bits >= 1, s"bits must be positive: $bits")
    val effBits = math.min(math.min(bits, 63 / cols.size), 12)
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(spark.sessionState.newHadoopConf())
    val bytes = fs.getContentSummary(target).getLength
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val df = spark.read.parquet(path)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      require(!df.columns.contains("__zkey"),
        "input already has a __zkey column")
      val bnds = ZOrderFunctions.boundaries(df, cols, effBits)
      val stage = new org.apache.hadoop.fs.Path(
        s"${path}__compact_${java.util.UUID.randomUUID().toString.take(8)}")
      df.withColumn("__zkey",
          ZOrderFunctions.zkey(cols.map(col), bnds, effBits))
        // range partition + in-partition sort on the z-key: every file
        // covers a contiguous z-range => tight per-file min/max on each
        // clustered column. The key is dropped before write — readers
        // see the original schema, clustering lives only in row order.
        .repartitionByRange(nFiles, col("__zkey"))
        .sortWithinPartitions(col("__zkey"))
        .drop("__zkey")
        .write.mode("overwrite").parquet(stage.toString)
      swapDirIn(fs, stage, target, path)
    } finally df.unpersist()
    nFiles
  }

  /** Idempotent stage→target directory swap under SwapGuard (see
    * [[graft.app.SwapGuard]]): an ambiguous rename that landed
    * server-side must read as success on retry, and terminal failure
    * is non-retryable with the stage preserved. */
  private def swapDirIn(fs: org.apache.hadoop.fs.FileSystem,
                        stage: org.apache.hadoop.fs.Path,
                        target: org.apache.hadoop.fs.Path,
                        path: String): Unit =
    graft.app.SwapGuard(s"compaction swap failed for '$path' after " +
        s"retries (compacted data preserved at $stage)") {
      if (!fs.exists(stage)) {
        if (!fs.exists(target))
          throw new java.io.IOException(
            s"stage and target both missing for '$path'")
      } else {
        if (fs.exists(target)) fs.delete(target, true)
        if (!fs.rename(stage, target))
          throw new java.io.IOException(s"compaction swap failed for '$path'")
      }
    }

  /** Bucketing-PRESERVING compaction of a bucketed catalog table — the
    * maintenance cadence behind the append-mode persisted indexes
    * ([[Dedup.appendToMinhashIndex]]): every micro-batch append adds at
    * least one file per bucket, and after thousands of batches the
    * zero-exchange probe drowns in per-file open/footer overhead.
    * Rewrites the table through a STAGE TABLE with the table's OWN
    * bucketBy/sortBy spec — read from the catalog, never caller-
    * supplied, so a compaction cannot silently re-spec the index the
    * way a mismatched argument would (the probe plans' co-partitioning
    * contract survives; pinned by a ScaleSpec assertion that re-checks
    * the zero-exchange probe AFTER compaction) — then drop+rename,
    * guarded and idempotent like every swap here.
    *
    * SINGLE-WRITER CADENCE (like [[graft.app.JdbcSink.cleanOrphanTemps]]):
    * rows appended between the compaction read and the swap would be
    * dropped by the rename. A pre-swap file-listing recheck aborts
    * loudly when it detects a concurrent append; the residual window
    * (recheck → rename) is the caller's scheduling contract.
    *
    * Task count is size-aware: `max(buckets, bytes/targetFileBytes)`
    * tasks, so a bucket bigger than the target splits across files
    * (hash spread of its keys) while small tables collapse to one file
    * per bucket. Returns the task count used.
    *
    * `maxFilesPerBucket > 0` turns the call into an accretion-gated
    * no-op: when the table holds at most `buckets * maxFilesPerBucket`
    * data files BEYOND the size-justified baseline (`max(buckets,
    * bytes/targetFileBytes)` — what a fresh compaction would leave)
    * there is nothing worth rewriting, and the (full-table) rewrite is
    * skipped — returns 0. A recurring cadence MUST set this
    * (the in-stream `compactEvery` sinks do): without it every firing
    * rewrites the whole accreted table even when almost nothing was
    * appended since the last pass. Note the rewrite that DOES fire is
    * still O(table), not O(accreted) — a bucketed catalog table has no
    * per-bucket commit protocol to rewrite one bucket in place — so
    * the amortized cadence cost is O(table / firings); layouts that
    * need true O(appended) maintenance use the partition-per-list
    * shape ([[compactIvfIndex]]) instead. */
  def compactBucketed(spark: SparkSession, table: String,
                      targetFileBytes: Long = 128L * 1024 * 1024,
                      maxFilesPerBucket: Int = 0): Int = {
    // a prior run may have died between its swap's DROP and RENAME —
    // complete that swap first (the stage table is the only copy)
    recoverCompactSwap(spark, table)
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val meta = spark.sessionState.catalog.getTableMetadata(ident)
    val bucketSpec = meta.bucketSpec.getOrElse(throw new IllegalArgumentException(
      s"table '$table' carries no bucket spec — use compactParquet for " +
        "plain layouts"))
    val keys = bucketSpec.bucketColumnNames
    val buckets = bucketSpec.numBuckets
    val loc = new org.apache.hadoop.fs.Path(meta.location)
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    def dataFiles(): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(loc).toSeq
        .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith("."))
    val snapshot = dataFiles()
    val snapNames = snapshot.map(_.getPath.getName).toSet
    // bytes from the same flat listing (data files only — consistent
    // with what snapshot counts); a getContentSummary here would be a
    // second full tree walk on EVERY gated firing, whose common case
    // is the skip
    val bytes = snapshot.map(_.getLen).sum
    val nTasks = math.max(buckets,
      math.ceil(bytes.toDouble / targetFileBytes).toInt)
    // the gate measures ACCRETION over the size-justified baseline: a
    // freshly compacted table already holds ~nTasks files, so a flat
    // `buckets * maxFilesPerBucket` cap would stop closing once the
    // table outgrows that many target-sized files and every firing
    // would become a full rewrite. (bytes includes the accreted data,
    // overstating the baseline slightly — errs toward skipping, never
    // toward a needless rewrite.)
    if (maxFilesPerBucket > 0 &&
        snapNames.size <= nTasks + buckets * maxFilesPerBucket)
      return 0
    val stage = s"${table}__compact_${java.util.UUID.randomUUID().toString.take(8)}"
    // one shuffle on the bucket keys: with nTasks == buckets each task
    // holds exactly one bucket (same murmur3 pmod as the bucket spec)
    // → one file per bucket; with more tasks a big bucket's keys
    // spread, splitting its output near the target size. The read
    // takes exactly the snapshot files by path, so it has no bucket
    // spec: a bucketed scan's HashPartitioning would let
    // EnsureRequirements drop the repartition (and then un-bucket the
    // scan), leaving every read task to write a file per bucket — the
    // small-file pattern this job exists to undo. It also pins the
    // rewrite to the files the concurrent-append recheck compares.
    graft.sources.BucketedStore.writeBucketed(
      spark.read.schema(meta.schema)
        .parquet(snapshot.map(_.getPath.toString): _*)
        .repartition(nTasks, keys.map(col): _*),
      stage, keys, buckets)
    // concurrent-append recheck BEFORE the destructive swap: a batch
    // landed after the compaction read would be silently dropped by
    // drop+rename — abort loudly instead and clean our stage up
    if (dataFiles().map(_.getPath.getName).toSet != snapNames) {
      spark.sql(s"DROP TABLE IF EXISTS $stage")
      throw new graft.model.UserException(
        s"concurrent append detected on '$table' during compaction — " +
          "aborted (no data touched). Schedule compaction while no " +
          "ingest is in flight")
    }
    graft.app.SwapGuard(s"compaction swap failed for table '$table' " +
        s"(compacted data preserved in table $stage)") {
      // idempotent across ambiguous failures, same shape as the JDBC
      // sink swap: stage gone + target present = a prior attempt landed.
      // PROCESS death between the DROP and the RENAME is recovered by
      // [[recoverCompactSwap]] on the next call (or by the streaming
      // sinks at batch start): with a persistent metastore the stage
      // table survives as the only — and complete — copy.
      if (!spark.catalog.tableExists(stage)) {
        if (!spark.catalog.tableExists(table))
          throw new IllegalStateException(
            s"stage and target tables both missing for '$table'")
      } else {
        if (spark.catalog.tableExists(table))
          spark.sql(s"DROP TABLE $table")
        spark.sql(s"ALTER TABLE $stage RENAME TO $table")
      }
    }
    nTasks
  }

  /** Complete a [[compactBucketed]] swap that a PROCESS crash cut
    * between its `DROP TABLE <table>` and `ALTER TABLE <stage> RENAME`:
    * with a persistent metastore the restarted session sees the target
    * table gone while `<table>__compact_<hex8>` — a complete compacted
    * copy, written and concurrency-rechecked before the swap began —
    * is still registered. Without this, an index consumer that treats
    * "table missing" as "bootstrap" would silently rebuild from one
    * batch, discarding the accreted history (the streaming ingest
    * sinks call this before that decision). Returns true when a
    * stranded swap was completed. Target present → no-op (a pre-swap
    * stage left behind is stale — possibly missing later appends — and
    * must never be renamed over the live table). Several candidate
    * stages with the target missing is genuinely ambiguous (only one
    * can be the crashed swap's) — fail loud rather than guess. */
  def recoverCompactSwap(spark: SparkSession, table: String): Boolean = {
    if (spark.catalog.tableExists(table)) return false
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val db = ident.database.getOrElse(
      spark.sessionState.catalog.getCurrentDatabase)
    val re = ("^" + java.util.regex.Pattern.quote(ident.table.toLowerCase) +
      "__compact_[0-9a-f]{8}$").r
    val stages = spark.sessionState.catalog.listTables(db)
      .filter(t => re.findFirstIn(t.table).isDefined)
    stages match {
      case Seq() => false
      case Seq(st) =>
        graft.app.SwapGuard(s"recovery rename failed for crashed " +
            s"compaction of '$table' (data preserved in table ${st.table})") {
          // idempotent: a prior recovery attempt that landed leaves the
          // stage gone and the target present
          if (spark.catalog.tableExists(s"`$db`.`${st.table}`")) {
            // the adjacent crash window — DURING the DROP's data
            // deletion — leaves the registration gone but a partial
            // directory at the managed location; the rename's dir move
            // would collide with it forever (a wedged stream). The
            // remnant is moved ASIDE, never deleted: from here it is
            // indistinguishable from a live un-cataloged directory
            // someone keeps at the table's default path (or a table
            // whose catalog entry was lost externally) — deleting
            // would turn the old loud wedge into silent data loss.
            // A `__remnant_` dir deliberately matches no stage-GC
            // pattern; it lingers for manual inspection/rescue.
            try {
              val leftover = new org.apache.hadoop.fs.Path(
                spark.sessionState.catalog.defaultTablePath(ident))
              val lfs = leftover.getFileSystem(
                spark.sessionState.newHadoopConf())
              if (lfs.exists(leftover)) {
                val aside = new org.apache.hadoop.fs.Path(
                  leftover.getParent, leftover.getName + "__remnant_" +
                    java.util.UUID.randomUUID().toString.take(8))
                if (!lfs.rename(leftover, aside))
                  throw new java.io.IOException(
                    s"could not move dangling '$leftover' aside to " +
                      s"'$aside' before recovery rename")
              }
            } catch {
              case _: org.apache.spark.sql.catalyst.analysis
                  .NoSuchDatabaseException => () // no dir to collide with
            }
            spark.sql(
              s"ALTER TABLE `$db`.`${st.table}` RENAME TO `$db`.`${ident.table}`")
          } else if (!spark.catalog.tableExists(table))
            throw new IllegalStateException(
              s"stage '${st.table}' and target '$table' both missing")
        }
        true
      case many => throw new graft.model.UserException(
        s"table '$table' is missing and ${many.size} compaction stages " +
          s"survive (${many.map(_.table).mkString(", ")}) — cannot pick " +
          "the crashed swap's copy automatically; rename the latest in " +
          "manually and drop the rest")
    }
  }

  /** Compact the minhash index pair ([[Dedup.saveMinhashIndex]]'s
    * `<name>_bands` + `<name>_shingles`) — each table's bucket spec
    * comes from the catalog, so the compaction can never drift from
    * the spec the index was built with. Bands first: a failure between
    * the two leaves shingles uncompacted (slower, never wrong).
    * `maxFilesPerBucket` gates each table on accretion (see
    * [[compactBucketed]]) — recurring cadences must set it. */
  def compactMinhashIndex(spark: SparkSession, name: String,
                          targetFileBytes: Long = 128L * 1024 * 1024,
                          maxFilesPerBucket: Int = 0): Unit = {
    compactBucketed(spark, s"${name}_bands", targetFileBytes, maxFilesPerBucket)
    compactBucketed(spark, s"${name}_shingles", targetFileBytes,
      maxFilesPerBucket)
  }

  /** Per-centroid compaction of a persisted IVF index's inverted lists
    * ([[Similarity.appendToIvfIndex]] appends files into the probed
    * `assignments/centroid=K` partitions). Only lists holding more
    * than `maxFilesPerList` files are rewritten; the layout
    * (partitioned by centroid), the centroids, and the content
    * fingerprint are untouched — compaction moves bytes, never
    * content. ONE job writes every touched list into an
    * underscore-prefixed stage (invisible to parquet partition
    * discovery, so readers racing the compaction never see doubled
    * rows), then the per-partition swap reuses
    * [[graft.app.SwapGuard.swapChildren]] — the same idempotent
    * crash/replay semantics as every partition-scoped writer here.
    *
    * SINGLE-WRITER CADENCE like [[compactBucketed]]: a concurrent
    * [[Similarity.appendToIvfIndex]] into a touched list between the
    * compaction read and the swap would be dropped by the rename — and
    * worse than a lost batch, the appender has already rolled the
    * fingerprint forward, so the index would keep VALIDATING while
    * silently missing those vectors. The pre-swap recheck aborts
    * loudly on any touched list whose file set changed; the residual
    * window (recheck → rename) is the caller's scheduling contract.
    * Returns the compacted centroid ids. */
  def compactIvfIndex(spark: SparkSession, path: String,
                      maxFilesPerList: Int = 4,
                      targetFileBytes: Long = 128L * 1024 * 1024): Seq[Int] = {
    import org.apache.hadoop.fs.Path
    val assign = new Path(s"$path/assignments")
    val fs = assign.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(assign)) return Nil
    // a prior run may have died mid-swap — rename its licensed stage's
    // stranded lists back in before reading the (otherwise silently
    // incomplete) index
    recoverIvfCompaction(spark, path)
    val lists = fs.listStatus(assign).toSeq.filter(st =>
      st.isDirectory && st.getPath.getName.startsWith("centroid="))
    def listFiles(p: Path): Set[String] = fs.listStatus(p).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.getName).toSet
    val touched = lists.filter(st => listFiles(st.getPath).size > maxFilesPerList)
    if (touched.isEmpty) return Nil
    val snapshot = touched.map(st => st.getPath -> listFiles(st.getPath)).toMap
    val ids = touched.map(_.getPath.getName.stripPrefix("centroid=").toInt)
    // per-list output file counts from on-disk bytes; ≥1 each
    val nf = touched.map { st =>
      st.getPath.getName.stripPrefix("centroid=").toInt ->
        math.max(1, math.ceil(fs.getContentSummary(st.getPath).getLength
          .toDouble / targetFileBytes).toInt)
    }
    val stage = new Path(assign,
      s"_compact_${java.util.UUID.randomUUID().toString.take(8)}")
    val df = spark.read.parquet(assign.toString)
      .filter(col("centroid").isin(ids: _*))
    // spread each list over its target file count: hash the full row
    // into a per-list slot, shuffle on (centroid, slot) with the total
    // output width — one file per occupied slot (hash collisions can
    // merge two small lists into a task; they still write separate
    // files per partition value)
    import spark.implicits._
    val nfDf = nf.toDF("centroid", "__nf")
    df.join(broadcast(nfDf), Seq("centroid"))
      .withColumn("__slot",
        pmod(xxhash64(struct(df.columns.toIndexedSeq.map(col): _*)),
          col("__nf")))
      .repartition(nf.map(_._2).sum, col("centroid"), col("__slot"))
      .drop("__nf", "__slot")
      .write.partitionBy("centroid").parquet(stage.toString)
    // concurrent-append recheck BEFORE any destructive rename
    val drifted = snapshot.collect {
      case (p, files) if fs.exists(p) && listFiles(p) != files => p.getName
    }
    if (drifted.nonEmpty) {
      fs.delete(stage, true)
      throw new graft.model.UserException(
        s"concurrent append detected in $path (${drifted.mkString(", ")}) " +
          "during IVF compaction — aborted (no data touched). Schedule " +
          "compaction while no ingest is in flight")
    }
    // swap license marker (repo convention: _APPLIED_* = "this stage's
    // content is COMPLETE and the destructive swap may begin/resume").
    // A process crash inside swapChildren's delete(dst)→rename window
    // would otherwise leave that centroid's list silently missing while
    // the index keeps validating — the marker lets
    // [[recoverIvfCompaction]] rename the stranded copy back in; a
    // markerless stage is by the same token pre-swap garbage (target
    // intact) and safe to clear.
    fs.create(new Path(stage, "_APPLIED_SWAP"), true).close()
    graft.app.SwapGuard(s"IVF list compaction swap failed for '$path' " +
        s"(compacted lists preserved at $stage)") {
      graft.app.SwapGuard.swapChildren(fs, stage, assign,
        ids.map(i => s"centroid=$i"))
    }
    ids
  }

  /** Crash recovery for [[compactIvfIndex]], marker-licensed like
    * every partition-scoped writer here: a `_compact_<hex8>` stage
    * under `assignments/` bearing the `_APPLIED_SWAP` marker holds
    * COMPLETE compacted copies of its lists and a swap that may have
    * died anywhere — so recovery simply finishes the swap
    * ([[graft.app.SwapGuard.swapChildren]]) with the staged copies.
    * Preferring the stage is the only safe choice: the pre-swap
    * recheck guaranteed staged content == live content when the swap
    * was licensed, while a live list the crash caught mid-`delete` is
    * PARTIAL in a way no recovery can detect — keeping it would
    * silently lose vectors behind a still-validating fingerprint. A
    * markerless stage died before its swap was licensed: the live
    * layout is untouched and the stage is cleared. SINGLE-WRITER
    * contract as for the compactor itself — never call concurrently
    * with a running compaction (its in-flight stage is markerless) or
    * append. Only the contractual single writers auto-recover:
    * [[compactIvfIndex]] at entry and the streaming sink at batch top.
    * Other write paths ([[Similarity.appendToIvfIndex]],
    * [[Similarity.ingestEmbeddingBatch]]) instead fail LOUD on a
    * detected crash ([[requireNoCrashedIvfCompaction]]) — destructive
    * recovery from a non-single-writer entry point would race a live
    * compactor if the contract were being violated. Pure READERS do
    * neither (a reader may race a live compaction by design) — a probe
    * between a crash and the next write can miss the stranded lists;
    * the next write surfaces or heals it. Returns the swapped child
    * names. */
  def recoverIvfCompaction(spark: SparkSession, path: String): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val assign = new Path(s"$path/assignments")
    val fs = assign.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(assign)) return Nil
    ivfCompactStages(fs, assign)
      .flatMap { st =>
        val sp = st.getPath
        if (fs.exists(new Path(sp, "_APPLIED_SWAP"))) {
          val children = fs.listStatus(sp).toSeq
            .filter(c => c.isDirectory &&
              c.getPath.getName.startsWith("centroid="))
            .map(_.getPath.getName).sorted
          graft.app.SwapGuard(s"IVF compaction recovery failed for " +
              s"'$path' (staged lists preserved at $sp)") {
            graft.app.SwapGuard.swapChildren(fs, sp, assign, children)
          }
          children
        } else {
          fs.delete(sp, true)
          Nil
        }
      }
  }

  /** READ-ONLY companion to [[recoverIvfCompaction]] for write paths
    * that are NOT the single writer (standalone
    * [[Similarity.appendToIvfIndex]]/[[Similarity.ingestEmbeddingBatch]]
    * callers): a licensed `_compact_` stage means a crashed swap whose
    * layout may be half-swapped — appending or probing against it is
    * wrong, but auto-recovering from a non-single-writer entry point
    * would race a live compactor if the contract is being violated
    * (turning its loud abort into silent loss). So: detect, fail loud,
    * name the remedy. Markerless stages are inert here — either
    * pre-license crash garbage (the live layout is intact) or a live
    * compactor's in-flight write (not ours to touch). */
  def requireNoCrashedIvfCompaction(spark: SparkSession, path: String): Unit = {
    import org.apache.hadoop.fs.Path
    val assign = new Path(s"$path/assignments")
    val fs = assign.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(assign)) return
    val crashed = ivfCompactStages(fs, assign)
      .filter(st => fs.exists(new Path(st.getPath, "_APPLIED_SWAP")))
    if (crashed.nonEmpty)
      throw new graft.model.UserException(
        s"IVF index at '$path' has a crashed compaction swap " +
          s"(${crashed.map(_.getPath.getName).mkString(", ")}) — run " +
          "Maintenance.recoverIvfCompaction (or the next compaction / " +
          "streaming-sink batch, which recover automatically) before " +
          "appending or probing")
  }

  /** The ONE definition of the IVF compaction-stage naming convention
    * (`_compact_<hex8>` dirs under `assignments/`) — recovery and the
    * loud-fail detector must never drift apart on it, or the detector
    * silently passes over exactly the crashed swap it exists to
    * catch. */
  private def ivfCompactStages(fs: org.apache.hadoop.fs.FileSystem,
                               assign: org.apache.hadoop.fs.Path)
      : Seq[org.apache.hadoop.fs.FileStatus] = {
    val compactStage = "^_compact_[0-9a-f]{8}$".r
    fs.listStatus(assign).toSeq.filter(st => st.isDirectory &&
      compactStage.findFirstIn(st.getPath.getName).isDefined)
  }

  /** Single-pass column profile: one output row per column with null
    * count, distinct count, and min/max rendered as strings.
    * All columns' aggregates evaluate in ONE aggregation over the data
    * (no per-column scans); the per-column rows come from exploding
    * the aggregated struct, not re-reading.
    *
    * `approxDistinct=true` is the 100 TB default: exact
    * `count_distinct` over N columns makes Spark Expand-multiply the
    * scan N-fold (one duplicated stream per distinct aggregate); the
    * [[graft.functions.LinearCountSketch]] keeps the plan Expand-free —
    * a fixed 2^bits bitmap per column crosses the shuffle instead of
    * the values. Exact stays available as the verification companion.
    */
  def profile(df: DataFrame, approxDistinct: Boolean = false,
              sketchBits: Int = 16): DataFrame = {
    val total = count(lit(1)).as("__total")
    val perCol = df.columns.flatMap { c =>
      val nd =
        if (approxDistinct)
          graft.functions.SketchFunctions.approxDistinct(col(c), sketchBits)
        else count_distinct(col(c))
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nulls_$c"),
        nd.as(s"__distinct_$c"),
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"))
    }
    val agged = df.agg(total, perCol.toSeq: _*)
    val rows = df.columns.map { c =>
      struct(lit(c).as("column"), col("__total").as("n_rows"),
        col(s"__nulls_$c").as("n_nulls"),
        col(s"__distinct_$c").as("n_distinct"),
        col(s"__min_$c").as("min_value"),
        col(s"__max_$c").as("max_value"))
    }
    agged.select(explode(array(rows.toSeq: _*)).as("p")).select("p.*")
  }

  /** Data-quality drift between two snapshots of the same table: one
    * row per column with before/after null-rate and distinct-count
    * deltas and a min/max-changed flag — the between-loads monitor
    * that catches schema rot and distribution shifts before they
    * poison a training run. Two profile scans (one per snapshot),
    * joined on tiny per-column frames. */
  def profileDrift(before: DataFrame, after: DataFrame,
                   approxDistinct: Boolean = false): DataFrame = {
    def prep(df: DataFrame, tag: String): DataFrame =
      profile(df, approxDistinct).select(
        col("column"),
        col("n_rows").as(s"${tag}_rows"),
        (col("n_nulls").cast("double") /
          greatest(col("n_rows"), lit(1L))).as(s"${tag}_null_rate"),
        col("n_distinct").as(s"${tag}_distinct"),
        col("min_value").as(s"${tag}_min"),
        col("max_value").as(s"${tag}_max"))
    prep(before, "before").join(prep(after, "after"), Seq("column"), "full_outer")
      .withColumn("null_rate_delta",
        col("after_null_rate") - col("before_null_rate"))
      .withColumn("distinct_delta",
        col("after_distinct") - col("before_distinct"))
      .withColumn("bounds_changed",
        not(col("before_min") <=> col("after_min")) ||
          not(col("before_max") <=> col("after_max")))
      .select(col("column"), col("before_rows"), col("after_rows"),
        col("null_rate_delta"), col("distinct_delta"), col("bounds_changed"))
  }

  /** ROW-level diff between two snapshots of the same table — the
    * record-granular sibling of [[profileDrift]]'s column stats, and
    * the versioning primitive a training-data pipeline audits corpus
    * releases with ("what changed between v1 and v2"): one row per
    * ADDED / REMOVED / CHANGED id, unchanged rows never emitted (the
    * 100 TB contract — output is change-sized, not corpus-sized).
    *
    * Change detection hashes `contentCols` (md5 over a
    * length-prefixed, NULL-marked cast-to-string encoding — injective,
    * so no value content can alias two distinct column tuples; md5 is
    * the portable hash the sampling family already standardizes on).
    * One hash-shuffle per side into a single full-outer join on the
    * id; no window, no sort.
    *
    * @return (id, status ∈ added|removed|changed), `id` keeping the
    *         input column name */
  def snapshotDiff(before: DataFrame, after: DataFrame, idCol: String,
                   contentCols: Seq[String]): DataFrame = {
    require(contentCols.nonEmpty, "snapshotDiff needs content columns")
    (Seq(idCol) ++ contentCols).foreach { c =>
      require(before.columns.contains(c) && after.columns.contains(c),
        s"snapshotDiff: column '$c' must exist in both snapshots")
    }
    // length-prefixed INJECTIVE encoding: each value rides as
    // "<len>:<value>", NULL as "N" (unambiguous - lengths start with
    // a digit). A sentinel-joined concat is not injective when a
    // value may itself contain the sentinel: ("ab","c") vs ("a","bc")
    // would hash equal and a real change read as unchanged (r11
    // ADVICE); with the explicit length no embedded character can
    // shift a field boundary, and no separator is needed at all.
    def sig(df: DataFrame, tag: String) = {
      val encoded = contentCols.map { c =>
        val s = col(c).cast("string")
        coalesce(concat(length(s).cast("string"), lit(":"), s), lit("N"))
      }
      df.select(col(idCol), md5(concat(encoded: _*)).as(s"${tag}_sig"))
    }
    sig(before, "b").join(sig(after, "a"), Seq(idCol), "full_outer")
      .withColumn("status",
        when(col("b_sig").isNull, "added")
          .when(col("a_sig").isNull, "removed")
          .when(col("b_sig") =!= col("a_sig"), "changed"))
      .filter(col("status").isNotNull)
      .select(col(idCol), col("status"))
  }

  /** Remove orphaned staging directories left by interrupted
    * staging+swap writes (`<table>__stage_<hex8>`,
    * `<path>__compact_<hex8>`): a crash between write and rename
    * strands them. Returns the deleted paths. Scheme-agnostic like
    * the sinks.
    *
    * Safety: the name must match the exact generated suffix shape
    * (not merely contain the marker — a real table named
    * `x__stage_backup` is untouched); only directories whose
    * last modification is older than `olderThanMs` are removed, so a
    * concurrently running overwrite/compaction's in-flight staging
    * dir (fresh mtime) survives; and a stage whose TARGET is missing
    * is never deleted — after a crash mid-swap (target deleted,
    * rename not yet done) that stage holds the ONLY copy of the
    * table, and recovery should rename it in, not lose it. Such
    * stages are reported by [[recoverableStages]]. */
  def cleanOrphanStages(spark: SparkSession, baseDir: String,
                        olderThanMs: Long = 24L * 3600 * 1000): Seq[String] = {
    val base = new org.apache.hadoop.fs.Path(baseDir)
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    val cutoff = System.currentTimeMillis() - olderThanMs
    stageDirs(fs, base)
      .filter { case (st, targetExists) =>
        st.getModificationTime <= cutoff && targetExists
      }
      .map { case (st, _) => fs.delete(st.getPath, true); st.getPath.toString }
  }

  /** [[cleanOrphanStages]] scoped to ONE table/state path: only stage
    * or compact shells belonging to `tablePath` (exact
    * `<name>__stage_<hex8>` / `<name>__compact_<hex8>` siblings) are
    * considered — the cadence hook a long-running streaming writer
    * wires in ([[graft.streaming.EventStreams]]), where sweeping the
    * whole parent directory would touch unrelated tables' shells.
    * Same safety rules: age gate, target-exists, staged-partition-
    * exists; recoverable shells are never deleted. */
  def cleanTableOrphanStages(spark: SparkSession, tablePath: String,
                             olderThanMs: Long = 24L * 3600 * 1000)
      : Seq[String] = {
    val table = new org.apache.hadoop.fs.Path(tablePath)
    val parent = table.getParent
    if (parent == null) return Nil
    val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
    val cutoff = System.currentTimeMillis() - olderThanMs
    stageDirs(fs, parent)
      .filter { case (st, deletable) =>
        stageSuffix.replaceAllIn(st.getPath.getName, "") == table.getName &&
          st.getModificationTime <= cutoff && deletable
      }
      .map { case (st, _) => fs.delete(st.getPath, true); st.getPath.toString }
  }

  /** Stage/compact directories whose target path is MISSING — or
    * which hold a staged PARTITION the target lacks (the
    * partition-scoped merge's crash-mid-swap signature): these hold
    * the only surviving copy of their data and need a manual (or
    * scripted) rename-in, which is why [[cleanOrphanStages]] refuses
    * to delete them. */
  def recoverableStages(spark: SparkSession, baseDir: String): Seq[String] = {
    val base = new org.apache.hadoop.fs.Path(baseDir)
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    stageDirs(fs, base).collect { case (st, false) => st.getPath.toString }
  }

  private val stageSuffix = "__(stage|compact)_[0-9a-f]{8}$".r

  /** (stage dir status, is it safe to delete) for every well-formed
    * stage/compact directory directly under `baseDir`. Deletion is
    * safe only when the target exists AND, for a partition-layout
    * stage (`p_date=*` subdirs from the partition-scoped merge), every
    * staged partition also exists under the target — a crash between
    * a partition's delete and its rename leaves the TABLE dir present
    * but that staged partition as the only surviving copy. */
  private def stageDirs(fs: org.apache.hadoop.fs.FileSystem,
                        base: org.apache.hadoop.fs.Path)
      : Seq[(org.apache.hadoop.fs.FileStatus, Boolean)] =
    if (!fs.exists(base)) Nil
    else fs.listStatus(base).toSeq
      .filter(st => st.isDirectory &&
        stageSuffix.findFirstIn(st.getPath.getName).isDefined)
      .flatMap { st =>
        val targetName = stageSuffix.replaceAllIn(st.getPath.getName, "")
        // a stage name is always `<target>__stage_<hex8>`, so an empty
        // remainder can't occur for well-formed names; guard anyway
        val target = new org.apache.hadoop.fs.Path(base, targetName)
        try {
          val ok = targetName.nonEmpty && fs.exists(target) && {
            val stagedParts = fs.listStatus(st.getPath).toSeq
              .filter(p => p.isDirectory && p.getPath.getName.contains("="))
            stagedParts.forall(p =>
              fs.exists(new org.apache.hadoop.fs.Path(target, p.getPath.getName)))
          }
          Some((st, ok))
        } catch {
          // a concurrently finishing swap deletes its stage between
          // the base listing and this inspection — not an orphan,
          // just gone: skip it instead of aborting the sweep
          case _: java.io.FileNotFoundException => None
        }
      }
}
