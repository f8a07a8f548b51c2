package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Date-partitioned parquet layout for the event/document fact tables —
  * the physical design that makes 100 TB scans affordable: a
  * time-range predicate prunes whole partition directories before any
  * I/O (visible as `PartitionFilters` in the scan node), and each
  * partition's files parallelize independently.
  */
object PartitionedStore {

  /** Write `df` partitioned by the DATE of `tsCol` (directory column
    * `p_date`). `targetFileRows` caps rows per output file via
    * `maxRecordsPerFile` so a hot day splits into parallel files
    * instead of one giant one. */
  def writeByDay(df: DataFrame, tsCol: String, path: String,
                 targetFileRows: Long = 5000000L): Unit =
    df.withColumn("p_date", to_date(col(tsCol)))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", targetFileRows)
      .partitionBy("p_date")
      .parquet(path)

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Partition-scoped stage-wins PK merge: upsert `batch` into the
    * day-partitioned table at `path`, REWRITING ONLY the `p_date`
    * partitions the batch touches. The scale-safe shape for continuous
    * ingest — a micro-batch against a 100 TB table costs
    * O(touched partitions), not O(|target|): the target slice read is
    * partition-pruned to the batch's dates, the merge writes to a
    * staging dir, and only the touched partition DIRECTORIES swap in.
    * Untouched partitions' files are never read, written, or moved.
    *
    * CONTRACT: a PK's `tsCol` date must be stable across arrivals
    * (event-time immutability — re-deliveries of event X carry X's
    * original timestamp). A PK that "moved" dates would leave its old
    * copy in the unread partition, the same constraint every
    * partition-path-keyed merge (e.g. Hudi/Delta with a date partition
    * key and merge predicates) operates under.
    *
    * Crash recovery: per-partition swaps are idempotent under the
    * in-process retry, and a driver death between a partition's delete
    * and its rename leaves the staged copy as the only one — which is
    * why [[graft.operators.Maintenance.cleanOrphanStages]] refuses to
    * delete a stage holding partitions the target lacks and
    * `recoverableStages` reports it for rename-in. Replaying the
    * micro-batch (streaming checkpoint) AFTER renaming the staged
    * partition in restores the exact merge result.
    *
    * Returns the touched partition dates (micro-batch-sized driver
    * list — partition NAMES, never data). Duplicate PKs within the
    * batch resolve last-wins by `orderCols` when provided, like
    * [[graft.operators.Load.dedupLastWins]].
    */
  def mergeByDay(batch: DataFrame, path: String, tsCol: String,
                 pk: Seq[String], orderCols: Seq[String] = Nil,
                 targetFileRows: Long = 5000000L,
                 batchId: Option[Long] = None): Seq[String] = {
    import graft.operators.Load
    import org.apache.hadoop.fs.Path
    val spark = batch.sparkSession
    val deduped =
      if (pk.nonEmpty && orderCols.nonEmpty)
        Load.dedupLastWins(batch, pk, orderCols)
      else batch
    val withDate = deduped.withColumn("p_date", to_date(col(tsCol)))
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sessionState.newHadoopConf())
    // the batch's distinct dates: partition names only, bounded by the
    // batch's span — safe to collect. Rendered with date_format (the
    // exact partition-directory spelling); java.sql.Date#toString would
    // re-interpret through the JVM-local timezone and can shift a day.
    val dateRows = withDate
      .select(date_format(col("p_date"), "yyyy-MM-dd").as("d"))
      .distinct().collect().map(r => Option(r.getString(0))).toSeq
    if (dateRows.contains(None))
      throw new IllegalArgumentException(
        s"mergeByDay: '$tsCol' contains NULLs — null-dated rows would " +
          "land in the default partition and never swap in")
    val dates = dateRows.flatten.sorted
    if (dates.isEmpty) return Nil
    val children = dates.map(d => (s"p_date=$d", s"_FRESH_$d"))
    auditStrandedStages(fs, target, path, children, batchId, "partitions")
    val merged =
      if (hasDataEntries(fs, target)) {
        // partition-pruned target slice: only the touched dates scan
        val slice = spark.read.parquet(path)
          .filter(col("p_date").isin(dates.map(lit(_).cast("date")): _*))
        Load.upsert(slice, withDate, pk)
      } else withDate
    writeStageAndSwap(fs, target, path, merged, "p_date", children,
      targetFileRows, batchId, sortCols = Seq("p_date", tsCol))
    dates
  }

  /** A target dir with no DATA entries reads as absent: a crash
    * between mkdirs and the first partition rename — or a bootstrap
    * write of zero rows (_SUCCESS only) — would otherwise wedge every
    * later merge on "unable to infer parquet schema". Short-circuits
    * on the first data entry; marker files (_SUCCESS, _CONFIG, .crc,
    * _temporary) don't count. */
  private[graft] def hasDataEntries(fs: org.apache.hadoop.fs.FileSystem,
                                    target: org.apache.hadoop.fs.Path): Boolean =
    fs.exists(target) && {
      val it = fs.listStatusIterator(target)
      var found = false
      while (!found && it.hasNext) found = isDataEntry(it.next())
      found
    }

  /** A listed entry that is data: its name starts with neither `_`
    * nor `.` ([[hasDataEntries]]' rule, for callers holding a listing). */
  private[graft] def isDataEntry(st: org.apache.hadoop.fs.FileStatus): Boolean = {
    val n = st.getPath.getName
    !n.startsWith("_") && !n.startsWith(".")
  }

  /** ONE stranded-stage audit for every partition-scoped writer here
    * (the day merge and the bucketed SCD2 merge) — the crash/replay
    * discriminators must not diverge between them, same principle as
    * the shared `SwapGuard.swapChildren`/`recoverChild`. (The bucketed
    * rollup in EventStreams keeps its own variant: its marker commits
    * INSIDE the state swap, a genuinely different protocol.)
    *
    * A crash between a child's delete and rename leaves the staged
    * copy as the ONLY copy — re-merging as if it never existed would
    * silently replace its history with this batch. Discriminators:
    * `_FRESH_<x>` (child did not exist in the target when the stage
    * was built) = crashed first write, replay recomputes it;
    * `_APPLIED_<batchId>` = THIS batch's own finished merge whose swap
    * crashed, renamed in here (the re-merge over the recovered copy is
    * idempotent); unmarked = merged history only the operator may
    * rename in. Exact `__stage_[0-9a-f]{8}` shape so a user's
    * `t__stage_backup` dir cannot trip the audit. Single writer per
    * path (the streaming checkpoint's contract), so any stage found at
    * ENTRY is from a crashed run, not a concurrent one. */
  private def auditStrandedStages(
      fs: org.apache.hadoop.fs.FileSystem,
      target: org.apache.hadoop.fs.Path, path: String,
      children: Seq[(String, String)], // (childDirName, freshMarkerName)
      batchId: Option[Long], what: String): Unit = {
    import org.apache.hadoop.fs.Path
    val parent = target.getParent
    val shape = (java.util.regex.Pattern.quote(target.getName) +
      "__stage_[0-9a-f]{8}").r
    val stranded =
      if (parent == null || !fs.exists(parent)) Nil
      else fs.listStatus(parent).toSeq
        .filter(st => st.isDirectory &&
          shape.matches(st.getPath.getName))
        .map(_.getPath)
    val lost = children.filter { case (child, fresh) =>
      !fs.exists(new Path(target, child)) &&
        stranded.exists(sp => fs.exists(new Path(sp, child)) &&
          !fs.exists(new Path(sp, fresh)))
    }.filterNot { case (child, _) =>
      batchId.exists(id =>
        graft.app.SwapGuard.recoverChild(fs, stranded, child,
          sp => new Path(sp, s"_APPLIED_$id"), target))
    }
    if (lost.nonEmpty)
      throw new graft.model.UserException(
        s"$what [${lost.map(_._1).mkString(",")}] of '$path' exist " +
          s"only in stranded stage dirs (${stranded.mkString(", ")}) — " +
          "a crashed swap. Rename the staged copies in (see " +
          "Maintenance.recoverableStages) before merging; merging now " +
          "would silently replace their history with this batch")
  }

  /** ONE stage-write-and-swap tail for the partition-scoped writers:
    * `_FRESH` markers go in BEFORE the (long) data write — they state
    * a fact about the TARGET ("this child never existed"), so a crash
    * mid-write leaves a marked stage the replay recomputes instead of
    * an unmarked one that wedges the audit. The `_APPLIED` completion
    * marker goes in AFTER the data write (it licenses the replay's
    * rename-in recovery, so it must assert a COMPLETE stage). Then
    * ONLY the touched child directories swap in, idempotent per child
    * across ambiguous failures (shared SwapGuard rules: a prior
    * attempt's landed rename reads as success).
    *
    * `sortCols` (partition column first, then an in-partition order
    * key) sorts each write task's rows BEFORE the partitioned write —
    * no shuffle, one per-task sort — which (a) hands the writer each
    * directory-partition's rows contiguously instead of interleaved
    * (one open file at a time, not one per partition value the task
    * holds), and (b) lays rows inside each file in key order, so
    * range predicates on the order key (an as-of date, an event time)
    * prune row groups through ordinary parquet footer min/max. */
  private def writeStageAndSwap(
      fs: org.apache.hadoop.fs.FileSystem,
      target: org.apache.hadoop.fs.Path, path: String,
      merged: DataFrame, partitionCol: String,
      children: Seq[(String, String)], targetFileRows: Long,
      batchId: Option[Long], sortCols: Seq[String] = Nil): Unit = {
    import org.apache.hadoop.fs.Path
    val stage = new Path(
      s"${path}__stage_${java.util.UUID.randomUUID().toString.take(8)}")
    fs.mkdirs(stage)
    children.filterNot { case (child, _) =>
        fs.exists(new Path(target, child)) }
      .foreach { case (_, fresh) =>
        fs.create(new Path(stage, fresh), true).close() }
    val laid =
      if (sortCols.nonEmpty)
        merged.sortWithinPartitions(sortCols.map(col): _*)
      else merged
    laid.write.mode("append")
      .option("maxRecordsPerFile", targetFileRows)
      .partitionBy(partitionCol).parquet(stage.toString)
    // a declared child the write produced NO rows for (a vacuum that
    // empties a bucket) must still swap in — as an EMPTY directory —
    // or swapChildren would read "src gone + dst present" as a prior
    // landed attempt and keep the stale copy. Merges never hit this
    // (a touched child always has staged rows); backfilling is a no-op
    // for them.
    children.foreach { case (child, _) =>
      val sc = new Path(stage, child)
      if (!fs.exists(sc)) fs.mkdirs(sc)
    }
    batchId.foreach(id =>
      fs.create(new Path(stage, s"_APPLIED_$id"), true).close())
    graft.app.SwapGuard(s"partition swap failed for '$path' after " +
        s"retries (staged copies preserved at $stage)") {
      graft.app.SwapGuard.swapChildren(fs, stage, target,
        children.map(_._1))
    }
  }

  /** ONE layout pin for every pinned-layout writer (the bucketed SCD2
    * merge here and the bucketed rollup in EventStreams): refuse a
    * call whose layout differs from the one the table was built with.
    * The pin commits by [[graft.state.SmallFiles.replace]], so a crash
    * can never leave a half-written or (on a local rename) missing
    * `_CONFIG`; the steady-state matching-pin path stays at one
    * exists+open, no directory LIST per micro-batch.
    *
    * A MISSING or EMPTY stored pin reads as a fresh bootstrap ONLY
    * while the table holds no data — every pinned table carries its
    * pin from birth, so pin-less data means a crashed migration (the
    * delete→rename fallback's window, on a store whose rename refuses
    * an existing target) or a manual deletion: the layout is
    * unknowable and silently re-pinning to THIS call's layout could
    * bless a changed bucket function, so it fails loud instead.
    *
    * Spelling drift never reads as a re-shard: `legacy` names an
    * older EXACT encoding of the same layout, and `canon` maps every
    * encoding generation of the same layout to one canonical form
    * (e.g. decode + Locale.ROOT-lower key components) — either match
    * accepts the table and migrates the pin in place. */
  private[graft] def pinLayout(fs: org.apache.hadoop.fs.FileSystem,
                               target: org.apache.hadoop.fs.Path,
                               path: String, config: String,
                               legacy: Option[String] = None,
                               canon: String => String = identity): Unit = {
    import org.apache.hadoop.fs.Path
    def commit(): Unit = {
      fs.mkdirs(target)
      graft.state.SmallFiles.replace(fs, target, "_CONFIG", config,
        s"could not commit layout pin at ${new Path(target, "_CONFIG")}")
    }
    // WRITER-DECLARED LAYOUT WITNESS: a second copy of the pin under
    // an independent name (`_CONFIG_WITNESS`, same replace), refreshed
    // on every call — the writer holds the full layout in hand
    // anyway. It is maintenance metadata, never
    // read on a serving path (readers trust only `_CONFIG`); its one
    // consumer is `repair`, which may RESTORE a lost/garbled pin when
    // the witness parses AND its bucket counts match the on-disk
    // dirs — proof, hence the safe class. Cost on the steady-state
    // matching-pin path: one extra exists+open per call.
    def witness(): Unit =
      // the fallback's crash residue is a missing witness — refreshed
      // next call
      if (!readWitness(fs, target).contains(config))
        graft.state.SmallFiles.replace(fs, target, "_CONFIG_WITNESS",
          config, "could not commit layout witness at " +
            new Path(target, "_CONFIG_WITNESS"))
    readPin(fs, target) match {
      case Some(c) if c == config => witness()
      case Some(c) if c.nonEmpty &&
          (legacy.contains(c) ||
            // canon may decode stored bytes — a malformed pin (e.g. a
            // truncated %-escape) must fall through to the loud
            // mismatch error below, not crash with a decode exception
            scala.util.Try(canon(c) == canon(config)).getOrElse(false)) =>
        commit(); witness() // same layout, older spelling — migrate
      case Some("") | None if !hasDataEntries(fs, target) =>
        commit(); witness()
      case Some("") | None =>
        throw new graft.model.UserException(
          s"table at $path has a missing or empty layout pin but holds " +
            "data — the layout it was built with is unknowable, and " +
            "re-pinning to this call's layout could bless a changed " +
            "bucket function. Restore _CONFIG from the writer's " +
            "parameters (or rebuild into a new path)")
      case Some(c) =>
        throw new graft.model.UserException(
          s"table at $path is pinned to layout [$c] but this call uses " +
            s"[$config] — a partial rewrite under a different layout " +
            "would corrupt it (split key histories across buckets). " +
            "Use a new path to re-layout")
    }
  }

  /** ONE stored-pin reader for the pin writer ([[pinLayout]]) and the
    * pin-driven readers ([[scd2KeyHistory]]) — a future encoding or
    * trim change must reach both or they drift. */
  private[graft] def readPin(fs: org.apache.hadoop.fs.FileSystem,
                             target: org.apache.hadoop.fs.Path): Option[String] =
    graft.state.SmallFiles.read(fs,
      new org.apache.hadoop.fs.Path(target, "_CONFIG"))

  /** The writer-declared layout witness (`_CONFIG_WITNESS`) — the
    * second pin copy [[pinLayout]] maintains; read ONLY by `repair`
    * (serving paths trust `_CONFIG` alone). */
  private[graft] def readWitness(fs: org.apache.hadoop.fs.FileSystem,
                                 target: org.apache.hadoop.fs.Path)
      : Option[String] =
    graft.state.SmallFiles.read(fs,
      new org.apache.hadoop.fs.Path(target, "_CONFIG_WITNESS"))

  /** ONE pin canonicalizer for every pinned-layout writer (the SCD2
    * and rollup pins differ only in WHICH `|`-fields name columns):
    * the comma-separated column components at `canonIdx` are decoded,
    * Locale.ROOT-lowered, and re-encoded, so every encoding
    * generation / caller casing of the same layout compares equal. A
    * pin with the wrong field count passes through unchanged (it can
    * only ever compare unequal — the loud mismatch path). Callers
    * wrap this in Try ([[pinLayout]] does): decode throws on
    * malformed bytes. */
  private[graft] def canonPin(pin: String, nParts: Int,
                              canonIdx: Set[Int]): String = {
    val parts = pin.split("\\|", -1)
    if (parts.length != nParts) pin
    else parts.zipWithIndex.map { case (p, i) =>
      if (!canonIdx(i)) p
      else p.split(",", -1).map(k => java.net.URLEncoder.encode(
          java.net.URLDecoder.decode(k, "UTF-8")
            .toLowerCase(java.util.Locale.ROOT), "UTF-8"))
        .mkString(",")
    }.mkString("|")
  }

  /** Point lookup on a [[scd2MergeBucketed]] table: the full version
    * history of ONE business key at the cost of ONE bucket directory.
    * The bucket id is recomputed from the key values with the SAME
    * hash the merge used (`pmod(xxhash64(values), nBuckets)`, nBuckets
    * read from the `_CONFIG` pin — never caller-supplied, so a lookup
    * cannot silently scan the wrong bucket after a re-shard) and
    * constant-folds into the scan's partition filter: directory-level
    * pruning, then an exact key filter within the bucket (which the
    * footer-stat row ordering by `valid_from` further prunes for
    * as-of reads). This is the 100 TB "what happened to key X" query:
    * O(|bucket|) I/O, never O(|table|). */
  def scd2KeyHistory(spark: SparkSession, path: String,
                     key: Map[String, Any]): DataFrame = {
    import org.apache.hadoop.fs.Path
    require(key.nonEmpty, "key lookup needs at least one column value")
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sessionState.newHadoopConf())
    // every misuse-of-the-table failure here is the same user-
    // actionable category — ONE exception type (UserException), so a
    // caller's catch does not handle a corrupt pin but leak a missing
    // one
    val pin = readPin(fs, target).getOrElse(
      throw new graft.model.UserException(
        s"no layout pin at $path — not a bucketed SCD2 table"))
    // parse guarded: malformed bytes (bad %-escape, non-numeric bucket
    // count) must surface as a loud contextual error, not a raw decode
    // exception — same rationale as pinLayout's Try around canon.
    // Name canonicalization routes through THE canonicalizer (canonPin)
    // so a legacy raw-cased pin a merge has not yet migrated serves
    // lookups, and a future canon change cannot reach the writer but
    // miss this reader.
    val (nBuckets, pinnedKeys) = scala.util.Try {
      val parts = canonPin(pin, nParts = 3, canonIdx = Set(2))
        .split("\\|", -1)
      require(parts.length == 3 && parts(0) == "scd2")
      (parts(1).toInt, parts(2).split(",", -1).toSeq
        .map(java.net.URLDecoder.decode(_, "UTF-8")))
    }.getOrElse(throw new graft.model.UserException(
      s"layout pin at $path is not a readable SCD2 pin: [$pin] — " +
        "restore _CONFIG from the writer's parameters"))
    val keyLc = key.map { case (k, v) =>
      k.toLowerCase(java.util.Locale.ROOT) -> v }
    // two caller keys differing only in case would silently collapse
    // to one arbitrary value — ambiguous, refuse
    require(keyLc.size == key.size,
      s"lookup key columns collide case-insensitively: ${key.keySet}")
    require(key.values.forall(_ != null),
      "NULL key values are never stored (the merge refuses them) — " +
        "a NULL lookup cannot match")
    require(pinnedKeys.toSet == keyLc.keySet,
      s"lookup key columns ${keyLc.keySet} do not match the table's " +
        s"pinned business key $pinnedKeys")
    if (!hasDataEntries(fs, target))
      throw new graft.model.UserException(
        s"bucketed SCD2 table at $path is pinned but holds no data " +
          "yet (a first batch that was empty leaves this state) — " +
          "nothing to look up")
    // hash the literals in the PINNED column order AND at the table's
    // column types — the merge hashed pk columns in their declared
    // order, and xxhash64 is both order- and type-sensitive (an Int
    // literal hashes differently than the stored Long). The literal
    // expression constant-folds, so the bucket predicate reaches the
    // scan as a partition filter.
    val df0 = spark.read.parquet(path)
    val colType = df0.schema.fields.map(f =>
      f.name.toLowerCase(java.util.Locale.ROOT) -> f.dataType).toMap
    require(pinnedKeys.forall(colType.contains),
      s"pinned key column(s) missing from the table schema: " +
        pinnedKeys.filterNot(colType.contains).mkString(", "))
    // a value that casts to NULL would be SKIPPED by xxhash64 — the
    // bucket expression still yields a concrete (meaningless) id and
    // the scan returns empty, the silent wrong-bucket miss the
    // docstring forbids. Validate ALL key literals in ONE one-row
    // local job under the session's own cast semantics (ANSI throws,
    // legacy nulls — both must surface here, loud, before the plan is
    // built), then reuse the validated columns for the hash and the
    // filters — no per-key probe jobs on the point-lookup path.
    val lits = pinnedKeys.map(k =>
      k -> lit(keyLc(k)).cast(colType(k))).toMap
    scala.util.Try(
        spark.range(1).select(pinnedKeys.map(k => lits(k).as(k)): _*)
          .head()) match {
      case scala.util.Failure(e) =>
        throw new graft.model.UserException(
          s"key value(s) $keyLc do not evaluate at the stored types " +
            s"(${pinnedKeys.map(k => s"$k: ${colType(k)}").mkString(", ")})" +
            s" — ${e.getMessage}")
      case scala.util.Success(row) =>
        val nulled = pinnedKeys.zipWithIndex
          .collect { case (k, i) if row.isNullAt(i) => k }
        if (nulled.nonEmpty)
          throw new graft.model.UserException(
            s"key value(s) for ${nulled.mkString(", ")} cast to NULL at " +
              "the stored type — the lookup would hash a NULL and scan " +
              "a meaningless bucket")
    }
    val bucket = pmod(
      xxhash64(pinnedKeys.map(lits): _*),
      lit(nBuckets.toLong)).cast("int")
    pinnedKeys.foldLeft(df0.filter(col("p_bucket") === bucket))(
      (df, k) => df.filter(col(k) === lits(k)))
  }

  /** Partition-scoped TYPE-2 SCD merge — [[graft.operators.Load.scd2Merge]]
    * at the 100 TB dimension scale: the table lives hash-bucketed on
    * the business key (`p_bucket = pmod(xxhash64(pk), nBuckets)`
    * directory partitions) and each batch REWRITES ONLY the buckets
    * its keys hash into — O(touched buckets) per batch, never
    * O(|target|). The target slice read is partition-pruned to the
    * touched buckets; a key's entire version history co-locates in
    * one bucket (the hash depends only on the key), so the pruned
    * slice always holds every row the merge may close or pass through.
    *
    * The bucket function is PINNED at bootstrap (`_CONFIG`: nBuckets +
    * lowercased key columns — case variants of the same key denote the
    * same hash, so a restart that re-spells the key must not read as a
    * re-shard): a later call with different parameters would scatter
    * keys across buckets and silently split their histories — it
    * fails loud instead. Re-shard by merging into a new path.
    *
    * Batch semantics match [[graft.streaming.EventStreams.streamingScd2]]
    * exactly (it is the intended `foreachBatch` body at scale): one
    * effective date per batch = MAX(`effCol`) over the raw batch
    * (dropped from tracked attributes), intra-batch duplicate keys
    * last-wins by `orderCols` (default `effCol`) with a full-row-hash
    * tiebreaker so checkpoint replays keep the same row, NULL business
    * keys refused loudly (a NULL key never matches the merge join, so
    * it would accrete a duplicate open version per batch), late
    * batches (effective date behind the touched slice's newest
    * `validFrom`) refused loudly, empty/all-NULL batches a no-op.
    * Replay safety is the same two-layer story as [[mergeByDay]]: the
    * `_APPLIED` marker licenses crashed-swap recovery, and scd2Merge's
    * idempotence makes re-merging over a recovered copy safe.
    *
    * Returns the touched bucket ids (≤ nBuckets, driver-safe). */
  def scd2MergeBucketed(batch: DataFrame, path: String, pk: Seq[String],
                        effCol: String, nBuckets: Int,
                        orderCols: Seq[String] = Nil,
                        targetFileRows: Long = 5000000L,
                        batchId: Option[Long] = None,
                        validFrom: String = "valid_from",
                        validTo: String = "valid_to",
                        isCurrent: String = "is_current"): Seq[Int] = {
    import graft.operators.Load
    import org.apache.hadoop.fs.Path
    val spark = batch.sparkSession
    require(nBuckets >= 1, s"nBuckets must be positive: $nBuckets")
    Load.validateScd2Stage(batch.columns.toSeq, pk, effCol,
      validFrom, validTo, isCurrent, extraReserved = Set("p_bucket"))

    val target = new Path(path)
    val fs = target.getFileSystem(spark.sessionState.newHadoopConf())
    // URL-encode components (column names may contain the delimiters);
    // lowercase with Locale.ROOT first — the bucket hash resolves
    // case-insensitively, and the pin is PERSISTED across JVMs, so a
    // locale-dependent lowering (Turkish 'I' → 'ı') must never leak
    // into it. The canonicalizer maps older spellings of the same
    // layout (pre-lowering raw-cased pins, any caller casing) to one
    // form so a restart never reads as a spurious re-shard. (A pin a
    // pre-fix JVM wrote under a locale whose lowering is not a ROOT
    // casing — 'I'→'ı' — is NOT recoverable by canonicalization; that
    // pin names characters the current key simply does not contain.)
    def enc(s: String) = java.net.URLEncoder.encode(
      s.toLowerCase(java.util.Locale.ROOT), "UTF-8")
    pinLayout(fs, target, path,
      s"scd2|$nBuckets|${pk.map(enc).mkString(",")}",
      canon = canonPin(_, nParts = 3, canonIdx = Set(2)))

    val b = batch
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // one probe job: the batch effective date + the NULL-key refusal,
      // checked in the SAME order as streamingScd2 (NULL keys first —
      // an all-NULL-effCol batch with NULL keys must not silently
      // no-op on this path while the streaming twin fails loud)
      val aggFrame = b.agg(max(col(effCol)),
        max(pk.map(col(_).isNull).reduce(_ || _)))
      val effRow = aggFrame.head()
      if (!effRow.isNullAt(1) && effRow.getBoolean(1))
        throw new graft.model.UserException(
          s"batch carries NULL business key(s) [${pk.mkString(",")}] " +
            "— a NULL key never matches the merge join, so each batch " +
            "would append another open version for it (duplicate " +
            "current rows). Filter or repair NULL-keyed rows upstream")
      if (effRow.isNullAt(0)) return Nil // empty/all-null batch
      val effType = aggFrame.schema.head.dataType
      val eff = lit(effRow.get(0)).cast(effType)
      val ord = if (orderCols.nonEmpty) orderCols else Seq(effCol)
      val deduped = Load.dedupLastWins(
          b.withColumn("__scd2_tb", xxhash64(b.columns.map(col): _*)),
          pk, ord :+ "__scd2_tb")
        .drop("__scd2_tb")
      // persisted: the post-shuffle frame feeds BOTH the bucket probe
      // and the merge write — without the persist the dedup window
      // and hash run twice per batch (the bucketed rollup's precedent)
      val staged = deduped.drop(effCol)
        .withColumn("p_bucket",
          pmod(xxhash64(pk.map(col): _*), lit(nBuckets.toLong)).cast("int"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val buckets = staged.select("p_bucket").distinct()
          .collect().map(_.getInt(0)).toSeq.sorted
        if (buckets.isEmpty) return Nil
        val children = buckets.map(k => (s"p_bucket=$k", s"_FRESH_$k"))
        auditStrandedStages(fs, target, path, children, batchId, "buckets")

        val merged =
          if (hasDataEntries(fs, target)) {
            // partition-pruned slice: only the touched buckets scan.
            // p_bucket rides both sides of the merge as a (constant-
            // per-key) tracked attribute — it can never read as a
            // change.
            val slice = spark.read.parquet(path)
              .filter(col("p_bucket").isin(buckets.map(k => lit(k)): _*))
            val maxVf = slice.filter(col(isCurrent))
              .agg(max(col(validFrom))).head()
            if (!maxVf.isNullAt(0) &&
                effRow.get(0).asInstanceOf[Comparable[Any]]
                  .compareTo(maxVf.get(0)) < 0)
              throw new graft.model.UserException(
                s"late batch: effective date ${effRow.get(0)} precedes " +
                  s"the touched slice's newest $validFrom " +
                  s"${maxVf.get(0)} — merging would create negative " +
                  "validity intervals (silent history corruption). " +
                  "Rebuild the affected range instead")
            Load.scd2Merge(slice, staged, pk, eff,
              validFrom, validTo, isCurrent)
          } else staged
            .withColumn(validFrom, eff)
            .withColumn(validTo, lit(null).cast(effType))
            .withColumn(isCurrent, lit(true))

        writeStageAndSwap(fs, target, path, merged, "p_bucket", children,
          targetFileRows, batchId, sortCols = Seq("p_bucket", validFrom))
        buckets
      } finally staged.unpersist()
    } finally b.unpersist()
  }

  /** Retention vacuum over the bucketed SCD2 layout: apply
    * [[graft.operators.Load.scd2Retention]]'s predicate — drop
    * versions that ceased to be valid on-or-before `cutoff` — by
    * rewriting ONLY the buckets that hold expirable rows. One slim
    * probe scan (p_bucket + validity columns) finds them; untouched
    * buckets' files are never opened, never rewritten. A bucket whose
    * every version expires swaps to an EMPTY directory (the staged
    * write-and-swap machinery backfills it), so the layout's bucket
    * set is stable.
    *
    * Same single-writer contract as the merge and the compactors:
    * schedule vacuum while no ingest is in flight (the shared
    * stranded-stage audit fails loud on a crashed sibling's leftovers
    * either way). ALWAYS pass `batchId` (the orchestrator's batch/run
    * id) when one exists: it licenses both this writer's pre-probe
    * recovery and the streaming merge's replay-time `recoverChild`
    * after a crashed swap; without it a crash needs the manual
    * rename-in [[graft.operators.Maintenance.recoverableStages]]
    * reports. Returns the bucket ids rewritten. */
  def scd2VacuumBucketed(spark: SparkSession, path: String,
                         cutoff: Column,
                         targetFileRows: Long = 5000000L,
                         batchId: Option[Long] = None,
                         validFrom: String = "valid_from",
                         validTo: String = "valid_to",
                         isCurrent: String = "is_current"): Seq[Int] = {
    import org.apache.hadoop.fs.Path
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sessionState.newHadoopConf())
    // Complete any crashed predecessor's swap BEFORE probing — and
    // before the empty-table early return: a crash that deleted the
    // table's LAST data bucket leaves a target hasDataEntries reads
    // as absent, with the only copy in the marked stage. Unlike
    // the merge — whose children re-derive from the replayed batch —
    // the vacuum's children derive from the TARGET's state, which a
    // crashed swap has already mutated: a bucket deleted-but-not-
    // renamed would be invisible to the probe and its whole history
    // (immune current rows included) would silently vanish. An
    // `_APPLIED_*` marker in a stranded stage certifies the staged
    // data is COMPLETE (markers commit after the data write), so
    // renaming its target-missing children in finishes the crashed
    // swap exactly as swapChildren would have.
    // Pattern.quote like auditStrandedStages: a metacharacter in the
    // table name ('dim.v2') must not match a SIBLING table's stages —
    // renaming a stranger's buckets in would be cross-table corruption
    val strandedRe = (java.util.regex.Pattern.quote(target.getName) +
      "__(stage|compact)_[0-9a-f]{8}").r
    Option(target.getParent).foreach { parent =>
      if (fs.exists(parent))
        fs.listStatus(parent).toSeq.map(_.getPath)
          .filter(p => strandedRe.pattern.matcher(p.getName).matches())
          .filter(sp => fs.listStatus(sp).exists(
            _.getPath.getName.startsWith("_APPLIED_")))
          .foreach { sp =>
            fs.listStatus(sp).toSeq.map(_.getPath)
              .filter(_.getName.startsWith("p_bucket="))
              .foreach { ch =>
                val dst = new Path(target, ch.getName)
                if (!fs.exists(dst) && !fs.rename(ch, dst))
                  throw new java.io.IOException(
                    s"vacuum pre-recovery rename failed: $ch -> $dst")
              }
          }
    }
    if (!hasDataEntries(fs, target)) return Nil
    val t = spark.read.parquet(path)
    // expirable probe: slim columns only — the scan reads p_bucket
    // (partition value) + the two validity columns, never the payload.
    // NULL isCurrent counts as expirable ([[graft.operators.Load
    // .scd2Retention]]'s complement — see its coalesce note).
    val expirable = t.filter(!coalesce(col(isCurrent), lit(false)) &&
      col(validTo).isNotNull && col(validTo) <= cutoff)
    val buckets = expirable.select("p_bucket").distinct()
      .collect().map(_.getInt(0)).toSeq.sorted // ≤ nBuckets, driver-safe
    if (buckets.isEmpty) return Nil
    val children = buckets.map(k => (s"p_bucket=$k", s"_FRESH_$k"))
    auditStrandedStages(fs, target, path, children, batchId, "buckets")
    val slice = t.filter(col("p_bucket").isin(buckets.map(lit(_)): _*))
    val kept = graft.operators.Load.scd2Retention(
      slice, cutoff, validTo, isCurrent)
    writeStageAndSwap(fs, target, path, kept, "p_bucket", children,
      targetFileRows, batchId, sortCols = Seq("p_bucket", validFrom))
    buckets
  }
}
