package graft.operators

import graft.state.FoldStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental maintenance of a materialized JOIN view — the join
  * sibling of [[IncrementalAgg]]'s rollup maintenance.
  *
  * A denormalized view `V = A ⋈ B` (inner equi-join) over two
  * append-only feeds recomputed per ingest costs a full two-sided
  * shuffle of ALL history every batch — the wall the delta formula
  * removes. For append-only deltas the view's increment is exactly
  *
  *   ΔV = (ΔA ⋈ B) ∪ (A ⋈ ΔB) ∪ (ΔA ⋈ ΔB)
  *      = (ΔA ⋈ B∪ΔB) ∪ (A ⋈ ΔB)
  *
  * (Griffin–Libkin counting algebra restricted to inserts), so each
  * fold joins only delta-sized frames against the retained snapshots
  * and APPENDS — history rows are read but never re-joined against
  * each other.
  *
  * Scale shape: the retained snapshots are the big thing. The
  * persisted path ([[foldBatchDirs]]) stores both snapshots in
  * per-bucket directories hashed on the join key, so each delta fold
  * reads only the snapshot leaves of the delta's own buckets, and
  * appended deltas land in the same layout (one slim write per fold).
  * The in-memory form below carries the same algebra for composition
  * inside one plan (and for the declared queries `graft.Verify` checks,
  * which need a deterministic fresh fold).
  *
  * Contract mirrors IncrementalAgg: batches are EXACTLY-ONCE (replay
  * duplicates view rows — pair with an idempotent landing zone or the
  * streaming sinks' per-batch_id partitions); deltas are INSERTS
  * (updates/deletes need the counting form with multiplicities —
  * compose with [[Load.cdcNetEffect]] upstream to net a CDC feed down
  * to inserts of final images first).
  */
object JoinView {

  /** In-memory state of the maintained view. */
  final case class State(a: DataFrame, b: DataFrame, view: DataFrame)

  private[graft] def checkKeys(a: DataFrame, b: DataFrame, key: String): Unit = {
    require(a.columns.contains(key), s"left side lacks join key '$key'")
    require(b.columns.contains(key), s"right side lacks join key '$key'")
    val overlap = (a.columns.toSet & b.columns.toSet) - key
    require(overlap.isEmpty,
      s"non-key columns collide across sides: ${overlap.mkString(", ")} — " +
        "rename before maintenance (the view keeps both sides' columns)")
  }

  /** Initialize from first snapshots (either may be empty). */
  def init(a: DataFrame, b: DataFrame, key: String): State = {
    checkKeys(a, b, key)
    State(a, b, a.join(b, key))
  }

  /** Fold one batch of inserts into the state. Either delta may be
    * empty (pass a filtered-to-nothing frame). The returned view is
    * `old view ∪ ΔV` — unsorted, append-only. */
  def applyDelta(st: State, deltaA: DataFrame, deltaB: DataFrame,
                 key: String): State = {
    checkKeys(deltaA, deltaB, key)
    // ΔA sees B∪ΔB; A (pre-delta) sees ΔB — together they cover
    // old×new, new×old and new×new exactly once
    val dv = deltaA.join(st.b.unionByName(deltaB), key)
      .unionByName(st.a.join(deltaB, key))
    State(st.a.unionByName(deltaA), st.b.unionByName(deltaB),
      st.view.unionByName(dv))
  }

  // ---- persisted, directory form (batch-marker exactly-once) --------

  /** Fold one delta batch into DIRECTORY-persisted state under `root`
    * with exactly-once-per-`batchId` semantics — the persisted form of
    * [[applyDelta]], shared by the `maintainView` CLI action and the
    * streaming sink. Returns false (and does nothing) when `batchId` is
    * already committed.
    *
    * State layout: `_CONFIG` (kind|key|colsA|colsB|nBuckets
    * layout+schema pin), `_APPLIED_<id>` batch markers (created
    * LAST), and per-batch parquet appends
    * `a/d<id>/__bucket=<k>/ b/d<id>/__bucket=<k>/ view/d<id>/…` —
    * every side hash-bucketed on the join key
    * (`pmod(xxhash64(key), nBuckets)`, pinned like the rollup
    * sink's).
    *
    * Crash protocol: deltas stage as dot-prefixed dirs (invisible to
    * Spark's listing), rename to `d<id>`, then the marker commits the
    * batch. A replay that finds no marker deletes every dir of ITS
    * batch id (rename-window garbage) and refolds; with the marker it
    * is a no-op. Single-writer per view — the same discipline as the
    * rollup sink's per-bucket markers, at batch granularity (a join
    * fold appends THREE dirs, so per-piece markers can't license a
    * consistent prefix).
    *
    * 100 TB shape: the bucket layout makes each fold read
    * O(touched history), not O(history) — ΔA can only match B rows
    * whose key hashes into ΔA's OWN buckets (same hash, pinned), so
    * the B snapshot scan opens exactly the `__bucket=<k>` leaves of
    * ΔA's touched buckets (and symmetrically A for ΔB); a 1000-key
    * delta against years of history reads a sliver of it. Each
    * delta's distinct buckets come from one ≤ nBuckets-row collect
    * (the rollup sink's established scalar pattern). Deltas are
    * delta-sized; nothing rewrites history; per-batch dirs keep
    * appends O(delta). Ops note: dir count grows as
    * nBuckets·batches per side — compact long-lived views
    * out-of-band (read committed state, fold into a fresh root) on
    * the GC cadence. */
  def foldBatchDirs(root: String, batchId: Long, key: String,
                    deltaA: DataFrame, deltaB: DataFrame,
                    nBuckets: Int = 64): Boolean = {
    import org.apache.hadoop.fs.Path
    checkKeys(deltaA, deltaB, key)
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val spark = deltaA.sparkSession
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    // one marker listing serves the replay check and every committed-
    // dir resolution below. A LIVE per-id marker is a quiet no-op —
    // the at-least-once scheduler idiom. An id at or below a folded
    // watermark ([[foldMarkers]]) with NO live marker REFUSES instead:
    // join ids are not monotone by contract, so the watermark cannot
    // distinguish a committed replay from a never-delivered id — and
    // genuine replays arrive inside their replay window, where the
    // age-gated fold has kept the per-id marker. Quietly answering
    // false here would vanish a never-delivered batch behind a
    // success result (the CdcRollup monotone-guard failure class).
    val markers = BatchMarkers.read(fs, rootPath)
    if (markers.ids(batchId))
      return false // replay of a committed batch: exactly-once no-op
    markers.watermark.filter(batchId <= _).foreach { w =>
      throw new IllegalArgumentException(
        s"join-view batch $batchId: at or below the folded watermark " +
          s"$w with no live marker — the fold cannot tell a committed " +
          "replay from a never-delivered id here. A genuine replay " +
          "would still hold its per-id marker (foldMarkers only folds " +
          "markers older than the replay window); feed a fresh batch " +
          "id instead")
    }
    // layout + schema pin: key, both column sets WITH THEIR TYPES and
    // the bucket count ride the pin — a renamed column, re-keyed
    // config, changed bucket function, OR a type-drifting feed refuses
    // instead of writing a state no later read can reconcile. Types
    // matter because the bucket function is `xxhash64(key)` and
    // xxhash64 is TYPE-sensitive: the same logical key as long vs
    // string hashes into different buckets, so a drifted feed would
    // append to the wrong `__bucket=` leaves and every later pruned
    // snapshot read would silently miss its matches. Non-key column
    // types ride too — the appended parquet batches must stay
    // union-compatible across folds.
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    def cols(df: DataFrame) = df.schema.sortBy(_.name)
      .map(f => enc(f.name) + ":" + enc(f.dataType.catalogString))
      .mkString(",")
    // legacy: the pre-r12 names-only pin of the same layout — migrate
    // in place rather than strand healthy states (their types are
    // unknowable from the old pin; enforcement starts at migration)
    def legacyCols(df: DataFrame) = df.columns.sorted.map(enc).mkString(",")
    graft.sources.PartitionedStore.pinLayout(fs, rootPath, root,
      s"join|${enc(key)}|${cols(deltaA)}|${cols(deltaB)}|$nBuckets",
      legacy = Some(
        s"join|${enc(key)}|${legacyCols(deltaA)}|${legacyCols(deltaB)}|$nBuckets"))
    val bucketOf = pmod(xxhash64(col(key)), lit(nBuckets)).cast("int")
    // each delta feeds a bucket probe, a join AND its own append (and
    // may carry a CDC netting window upstream) — cache the small
    // side, never history
    val da = deltaA.persist(); val db = deltaB.persist()
    try {
      // ONE probe job serves BOTH deltas' distinct buckets (≤ nBuckets
      // values per side, safe to collect — they drive the
      // snapshot-side leaf pruning); the same job materializes both
      // persisted deltas. Two serial per-side probes collapsed — the
      // CdcRollup r18/r19 probe discipline.
      val probeRows = da.select(lit("a").as("__side"),
          bucketOf.as("__bucket"))
        .unionByName(db.select(lit("b").as("__side"),
          bucketOf.as("__bucket")))
        .distinct().collect()
      val touchedA = probeRows.filter(_.getString(0) == "a")
        .map(_.getInt(1)).toSet
      val touchedB = probeRows.filter(_.getString(0) == "b")
        .map(_.getInt(1)).toSet
      def snapshot(side: String, like: DataFrame,
                   buckets: Set[Int]): DataFrame =
        FoldStore.readBatches(spark, fs, rootPath, side, "d", markers,
          Some(buckets)).getOrElse(like.limit(0))
      // ΔA only matches B rows hashing into ΔA's buckets (and A↔ΔB
      // symmetrically) — read exactly those leaves
      val a = snapshot("a", deltaA, touchedB)
      val b = snapshot("b", deltaB, touchedA)
      // ΔV = ΔA ⋈ (B ∪ ΔB)  ∪  A ⋈ ΔB (same coverage as applyDelta)
      val dv = da.join(b.unionByName(db), key)
        .unionByName(a.join(db, key))
      // each side's d<id> (hidden, bucket-partitioned, renamed in;
      // this id's rename-window garbage from a prior crash dropped
      // first — no marker means none of it is part of the state)
      for ((side, df) <- Seq("view" -> dv, "a" -> da, "b" -> db))
        FoldStore.writeBatchDir(fs, rootPath, side, batchId,
          Some(df.withColumn("__bucket", bucketOf)), "d", Some("__bucket"))
    } finally { da.unpersist(); db.unpersist() }
    BatchMarkers.commit(fs, rootPath, batchId) // marker LAST
    true
  }

  /** Reap ABANDONED batch garbage from a fold root — the GC cadence
    * hook for the streaming sink and out-of-band ops, the join-view
    * sibling of [[Maintenance.cleanTableOrphanStages]]. Two garbage
    * classes accrete when a crashed writer's batch id never replays
    * (a replay reaps its OWN id's garbage, but an id the scheduler
    * abandons strands forever):
    *
    *  - hidden `.staging<id>` dirs (crash before the renames);
    *  - unmarked `d<id>` dirs (crash in the rename window, before
    *    the `_APPLIED_<id>` marker) — invisible to readers but real
    *    storage.
    *
    * Safety: only AGED dirs go (default 24 h — an in-flight fold's
    * fresh staging survives; the protocol is single-writer, so
    * anything older than the gate cannot be in flight), and a
    * marker-committed `d<id>` is live state, never touched.
    *
    * @return deleted paths */
  def cleanOrphanBatchDirs(spark: SparkSession, root: String,
                           olderThanMs: Long = 24L * 3600 * 1000)
      : Seq[String] = {
    import org.apache.hadoop.fs.Path
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(rootPath)) return Nil
    val markers = BatchMarkers.read(fs, rootPath)
    val cutoff = System.currentTimeMillis() - olderThanMs
    // committedness resolves marker-or-watermark: a d<id> whose marker
    // was folded into `_APPLIED_UPTO_` is live state
    FoldStore.sweep(fs, batchEntries(fs, rootPath))(e =>
      (e.staging || !markers.committed(e.id)) && e.mtime <= cutoff)
  }

  /** Every `.staging<id>` and `d<id>` entry of the three layers. */
  private def batchEntries(fs: org.apache.hadoop.fs.FileSystem,
                           root: org.apache.hadoop.fs.Path) =
    FoldStore.entries(fs, root, Nil, Seq("a", "b", "view"), prefix = "d")

  /** Collapse AGED committed per-batch markers into ONE
    * `_APPLIED_UPTO_<w>` watermark — year-long streams stay listable
    * without the full state rewrite `compact` costs. Requires the
    * streaming sink's discipline: batch ids MONOTONE and single-writer
    * (the sink's checkpoint guarantees both; CLI users folding ids out
    * of order must not run this). After the fold an id <= w resolves
    * as committed, so a fold of an ABANDONED id <= w becomes a quiet
    * no-op — which is why only ids whose markers are older than
    * `olderThanMs` (default 24 h, the same gate as
    * [[cleanOrphanBatchDirs]]) are folded: anything still inside its
    * replay window keeps its per-id marker. Uncommitted `d<id>` /
    * `.staging<id>` dirs at or below w are swept FIRST — after the
    * fold readers would treat them as committed state.
    * @return the watermark written, None when nothing qualifies */
  def foldMarkers(spark: SparkSession, root: String,
                  olderThanMs: Long = 24L * 3600 * 1000): Option[Long] = {
    import org.apache.hadoop.fs.Path
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    FoldStore.foldMarkers(fs, rootPath, olderThanMs)(
      batchEntries(fs, rootPath))
  }

  /** Bucket-pruned POINT LOOKUP into the maintained view — the
    * serving path: reads ONLY the `__bucket=` leaves the requested
    * keys hash into across the committed batch dirs (O(touched
    * buckets) IO, never a view scan), then semi-joins the keys.
    * `keys` must carry exactly the pinned join key WITH its pinned
    * type — xxhash64 is type-sensitive, so a drifted lookup frame
    * would probe the wrong buckets and silently miss every match; it
    * refuses instead. NULL keys refuse (never matchable — an inner
    * join never emitted them). None before the first commit. */
  def lookupView(spark: SparkSession, root: String,
                 keys: DataFrame,
                 asOf: Option[Long] = None): Option[DataFrame] = {
    import org.apache.hadoop.fs.Path
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val pin = graft.sources.PartitionedStore.readPin(fs, rootPath)
      .getOrElse(throw new IllegalStateException(
        s"lookupView: no layout pin under $root — not a join-view state"))
    val parts = pin.split('|')
    require(parts.length == 5 && parts(0) == "join",
      s"lookupView: unrecognized layout pin '$pin' under $root")
    def dec(s: String) = java.net.URLDecoder.decode(s, "UTF-8")
    val key = dec(parts(1))
    val nBuckets = parts(4).toInt
    require(keys.columns.toSeq == Seq(key),
      s"lookupView: the key frame must carry exactly the pinned join " +
        s"key '$key', got (${keys.columns.mkString(", ")}) — project " +
        "upstream")
    // the A-side typed pin carries the key's type (name:type pairs,
    // sorted); a names-only legacy pin (no ':') cannot enforce — the
    // same grandfathering as the fold's pin migration
    parts(2).split(',').toSeq.map(_.split(':')).collectFirst {
      case Array(n, t) if dec(n) == key => dec(t)
    }.foreach { pinned =>
      val got = keys.schema(key).dataType.catalogString
      require(got == pinned,
        s"lookupView: key '$key' is $got but the state pinned " +
          s"$pinned — xxhash64 bucketing is type-sensitive, a drifted " +
          "lookup would probe the wrong buckets and miss silently; " +
          "cast to the pinned type")
    }
    val touched = FoldStore.probeBuckets(keys, Seq(key), nBuckets,
      Some("lookupView: NULL join key — an inner-join view never holds it"))
    asOf.foreach(requireAsofServable(fs, rootPath, _))
    FoldStore.readBatches(spark, fs, rootPath, "view", "d",
      BatchMarkers.read(fs, rootPath), Some(touched),
      id => asOf.forall(id <= _))
      .map(_.join(keys, Seq(key), "left_semi"))
  }

  /** The view AS OF `asOf` — FREE on this family: batch dirs are
    * append-only and never rewritten, so the snapshot any batch saw
    * is simply the union of committed `d<id>` dirs with id <= asOf
    * (no retention mode to enable — history IS the state until
    * compaction). The only collapse point is [[compactStateTo]]: the
    * fresh root's single d0 holds the ENTIRE pre-compaction history
    * merged, so it writes an `_ASOF_FLOOR_<frontier>` and reads below
    * it refuse loud — d0 would otherwise serve the frontier state as
    * any earlier snapshot. None when nothing committed at or below
    * `asOf`. */
  def readViewAsOf(spark: SparkSession, root: String,
                   asOf: Long): Option[DataFrame] = {
    import org.apache.hadoop.fs.Path
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    requireAsofServable(fs, rootPath, asOf)
    FoldStore.readBatches(spark, fs, rootPath, "view", "d",
      BatchMarkers.read(fs, rootPath), ids = _ <= asOf)
  }

  /** The view rows APPENDED in batches `(afterId, toId]` — the
    * incremental-consumer pull: the fold protocol only ever APPENDS
    * view rows per batch dir, so "what's new since the batch I last
    * consumed" is exactly the union of committed `d<id>` dirs in the
    * range, zero recompute and zero re-read of history. `toId` None =
    * everything committed after `afterId`. Consumers record the
    * frontier they pulled to and pass it back as `afterId` — replay
    * of the same range is byte-stable (the dirs are immutable).
    *
    * Compaction is the one collapse point ([[readViewAsOf]] doc): the
    * merged d0 is not "appended in a range", so `afterId` below the
    * compaction floor refuses loud — pull the backlog from the
    * pre-compaction root before swapping. None when no committed dir
    * lands in the range. */
  def readViewDelta(spark: SparkSession, root: String, afterId: Long,
                    toId: Option[Long] = None): Option[DataFrame] = {
    import org.apache.hadoop.fs.Path
    toId.foreach(t => require(afterId <= t,
      s"readViewDelta: afterId $afterId must be <= toId $t"))
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    BatchMarkers.readFloor(fs, rootPath).foreach { floor =>
      require(afterId >= floor,
        s"readViewDelta: afterId $afterId is below this root's " +
          s"compaction floor $floor — the collapsed batch dir merges " +
          "all pre-frontier history and cannot be served as an " +
          "incremental range; pull the backlog from the " +
          "pre-compaction root")
    }
    val markers = BatchMarkers.read(fs, rootPath)
    val upTo = toId.orElse(markers.maxCommitted)
    FoldStore.readBatches(spark, fs, rootPath, "view", "d", markers,
      ids = id => id > afterId && upTo.forall(id <= _))
  }

  /** Rebuild ONE missing `view/d<id>` batch dir from the committed
    * sides — the repair face of the view layer's derived-ness (the
    * sides are the source of truth; the view is their join).
    *
    * Per-batch dir CONTENTS are fold-ORDER-dependent (batch ids need
    * not be monotone, and ΔV_i joined against whatever was committed
    * when batch i actually folded), so an id-based replay of the
    * delta algebra could silently reconstruct the wrong rows. The
    * rebuild leans on the order-INDEPENDENT invariant instead: the
    * delta algebra covers every committed (a, b) cross pair exactly
    * once across the view dirs, so
    *
    *   missing ΔV = (A ⋈ B) exceptAll (union of surviving view dirs)
    *
    * — a multiset difference, exact for exactly ONE missing dir (two
    * holes cannot be split apart; refused). Also refuses an
    * uncommitted id, an existing dir, or a side layer with holes of
    * its own (an under-covered A ⋈ B would mis-derive). O(state) —
    * the repair class, never a serving path. @return rebuilt rows */
  def rebuildViewBatchDir(spark: SparkSession, root: String,
                          batchId: Long): Long = {
    import org.apache.hadoop.fs.Path
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val pin = graft.sources.PartitionedStore.readPin(fs, rootPath)
      .getOrElse(throw new IllegalStateException(
        s"rebuildViewBatchDir: no layout pin under $root — not a " +
          "join-view state"))
    val parts = pin.split('|')
    require(parts.length == 5 && parts(0) == "join",
      s"rebuildViewBatchDir: unrecognized layout pin '$pin' under $root")
    val key = java.net.URLDecoder.decode(parts(1), "UTF-8")
    val nBuckets = parts(4).toInt
    val markers = BatchMarkers.read(fs, rootPath)
    require(markers.committed(batchId),
      s"rebuildViewBatchDir: batch $batchId is not committed under " +
        s"$root — an uncommitted dir is gc's garbage, not a hole")
    def committedIds(layer: String): Set[Long] =
      FoldStore.committedIds(fs, rootPath, layer, "d", markers)
    val (aIds, bIds, vIds) =
      (committedIds("a"), committedIds("b"), committedIds("view"))
    val all = aIds ++ bIds ++ vIds + batchId
    val sideHoles = (all -- aIds).map("a/" + FoldStore.batchName("d", _)) ++
      (all -- bIds).map("b/" + FoldStore.batchName("d", _))
    require(sideHoles.isEmpty,
      s"rebuildViewBatchDir: side dir(s) ${sideHoles.toSeq.sorted
        .mkString(", ")} missing under $root — the sides are the " +
        "SOURCE OF TRUTH and cannot be derived; restore them from " +
        "the upstream feed or a pre-compaction root")
    val viewHoles = (all -- vIds).toSeq.sorted
    require(viewHoles == Seq(batchId),
      s"rebuildViewBatchDir: committed view dir(s) ${viewHoles
        .mkString(", ")} missing under $root — the multiset " +
        "difference is exact only for ONE hole; rebuild " +
        (if (viewHoles.isEmpty) "nothing (no hole)"
        else "them one at a time is NOT possible — restore from a " +
          "pre-compaction root or re-fold"))
    // the write drops this id's residue from a prior crashed rebuild
    // first (no view marker concept — the batch marker already exists)
    def side(layer: String) =
      FoldStore.readBatches(spark, fs, rootPath, layer, "d", markers)
    val (a, b) = (side("a"), side("b"))
    if (a.isEmpty || b.isEmpty) {
      // a side with ZERO committed rows means the inner join is empty
      // everywhere — the hole is an honest empty dir
      FoldStore.writeBatchDir(fs, rootPath, "view", batchId, None, "d")
      return 0L
    }
    val total = a.get.join(b.get, key)
    val dv = side("view").fold(total)(surviving =>
      total.exceptAll(surviving.select(total.columns.map(col): _*)))
    val bucketOf = pmod(xxhash64(col(key)), lit(nBuckets)).cast("int")
    val staged = dv.withColumn("__bucket", bucketOf).persist()
    try {
      val n = staged.count()
      FoldStore.writeBatchDir(fs, rootPath, "view", batchId, Some(staged),
        "d", Some("__bucket"))
      n
    } finally { staged.unpersist(); () }
  }

  /** Refuse an as-of read below the compaction floor: the compacted
    * d0 merges all pre-frontier history, so serving it as an earlier
    * snapshot would be silently wrong. A root that was never
    * compacted has no floor — every committed prefix is servable. */
  private def requireAsofServable(fs: org.apache.hadoop.fs.FileSystem,
                                  root: org.apache.hadoop.fs.Path,
                                  asOf: Long): Unit =
    BatchMarkers.readFloor(fs, root).foreach { floor =>
      require(asOf >= floor,
        s"as-of read at batch $asOf under $root: compaction collapsed " +
          s"history below its frontier $floor into one batch dir — " +
          "earlier snapshots are unrecoverable there; read them from " +
          "the pre-compaction root before swapping")
    }

  /** The maintained view (committed batches only) — None when no
    * batch has ever committed. In-flight writers are invisible:
    * reads list `d<id>` dirs against the `_APPLIED_<id>` markers. */
  def readCommittedView(spark: SparkSession, root: String): Option[DataFrame] = {
    import org.apache.hadoop.fs.Path
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    FoldStore.readBatches(spark, fs, rootPath, "view", "d",
      BatchMarkers.read(fs, rootPath))
  }

  /** Compact a long-lived view's per-batch dirs into ONE committed
    * batch under a FRESH root — the out-of-band maintenance the fold
    * protocol's ops note points at (dir count grows as
    * nBuckets·batches per side; a view folded every 5 minutes for a
    * year is ~100k dirs/side, and listing cost creeps into every
    * fold). The three sides are READ (committed prefix only — an
    * abandoned crash's garbage does not survive compaction) and
    * REWRITTEN as batch 0 of the fresh root; the view is copied, not
    * re-joined, so compaction costs one scan + one write per side,
    * never a join of history against itself.
    *
    * `nBuckets` may differ from the source layout — compaction is
    * also the re-shard path (the in-place bucket-count change the pin
    * refuses). The fresh root gets its own pin (same key + schema,
    * new bucket count) and ONE `_APPLIED_UPTO_<frontier>` watermark
    * carrying the SOURCE's committed frontier — so a replay of any
    * pre-compaction id refuses loud at the fresh root (the
    * watermark-refusal in [[foldBatchDirs]]) instead of silently
    * re-applying against restarted markers; continue with batch ids
    * above the frontier. Swap roots between folds — the protocol is
    * single-writer, so there is no concurrent-fold window to race.
    *
    * @return number of view rows compacted */
  def compactStateTo(spark: SparkSession, root: String, freshRoot: String,
                     nBuckets: Int = 64,
                     /** SCHEMA EVOLUTION (the
                       * [[graft.operators.CdcRollup.compactStateTo]]
                       * addColumns discipline, join-flavored):
                       * NULLABLE payload columns to ADD to side a /
                       * side b — each (name, Spark DDL type) migrates
                       * the side's typed pin field and NULL-fills the
                       * compacted `d0` of that side AND of the view
                       * (the view keeps both sides' columns), so a
                       * long-lived join view gains a column without a
                       * full rebuild. Payload-only: an existing column
                       * on EITHER side (retype / cross-side collision
                       * — the [[checkKeys]] rule), the join key, or a
                       * staging-namespace name refuses loud. Post-
                       * migration folds must carry the new columns in
                       * their deltas (NULL upstream where absent) —
                       * an old-schema delta refuses on the pin. The
                       * delta-pull mixed-schema hazard needs no extra
                       * bound: compaction already floors
                       * [[readViewDelta]] at the frontier, and every
                       * servable post-compact dir carries the new
                       * schema (`d0` is NULL-filled for
                       * [[readCommittedView]] unions). */
                     addColumnsA: Seq[(String, String)] = Nil,
                     addColumnsB: Seq[(String, String)] = Nil): Long = {
    import org.apache.hadoop.fs.Path
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val rootPath = new Path(root)
    val freshPath = new Path(freshRoot)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val pin = graft.sources.PartitionedStore.readPin(fs, rootPath)
      .getOrElse(throw new IllegalStateException(
        s"compactStateTo: no layout pin under $root — not a join-view state"))
    val parts = pin.split('|')
    require(parts.length == 5 && parts(0) == "join",
      s"compactStateTo: unrecognized layout pin '$pin' under $root")
    val key = java.net.URLDecoder.decode(parts(1), "UTF-8")
    // ---- schema evolution: validate + canonicalize the adds --------
    def decPair(s: String) = s.split(':') match {
      case Array(n, t) => (java.net.URLDecoder.decode(n, "UTF-8"),
        java.net.URLDecoder.decode(t, "UTF-8"))
      // legacy names-only pin field (pre-r12): name with no type
      case _ => (java.net.URLDecoder.decode(s, "UTF-8"), "")
    }
    val declaredA = parts(2).split(',').toSeq.filter(_.nonEmpty).map(decPair)
    val declaredB = parts(3).split(',').toSeq.filter(_.nonEmpty).map(decPair)
    val declaredNames = (declaredA ++ declaredB).map(_._1).toSet
    val allAdds = addColumnsA ++ addColumnsB
    require(allAdds.map(_._1).distinct.size == allAdds.size,
      "compactStateTo: addColumns lists a column twice (across both " +
        "sides too — the view keeps both sides' columns)")
    def canon(adds: Seq[(String, String)]) = adds.map { case (c, t) =>
      require(c.nonEmpty && t.nonEmpty,
        "compactStateTo: addColumns entries need a name and a type")
      // covers the join key too: it is declared on both sides, and
      // re-keying means re-bucketing — fold into a fresh root instead
      require(!declaredNames(c),
        s"compactStateTo: column '$c' is already declared on a side " +
          "— compaction adds NULLABLE payload columns only; retyping " +
          "or re-adding (on either side: the view keeps both sides' " +
          "columns, so a cross-side duplicate would collide exactly " +
          "like at init) refuses")
      require(!c.startsWith("__"),
        s"compactStateTo: added column '$c' collides with the " +
          "staging namespace — rename upstream")
      val dt =
        try org.apache.spark.sql.types.DataType.fromDDL(t)
        catch {
          case _: Exception => throw new IllegalArgumentException(
            s"compactStateTo: added column '$c' has an unparseable " +
              s"type '$t'")
        }
      // canonical spelling — what later folds compute from their
      // delta schemas (catalogString)
      (c, dt.catalogString)
    }
    val (addsA, addsB) = (canon(addColumnsA), canon(addColumnsB))
    // "already holds a state" means a COMMITTED batch, not a pin: a
    // crash between the fresh pin and the marker leaves a
    // pinned-but-dataless root the retry must reclaim, not refuse on
    require(BatchMarkers.read(fs, freshPath).maxCommitted.isEmpty,
      s"compactStateTo: $freshRoot already holds a state — refusing " +
        "to merge into it (compact to an empty root, then swap)")
    graft.sources.PartitionedStore.readPin(fs, freshPath) match {
      case Some(p) if p.startsWith("join|") =>
        // a prior compact's crash remnants — nothing committed, reset
        // (incl. any stray as-of floor: the retry re-seeds it)
        for (side <- Seq("a", "b", "view"))
          fs.delete(new Path(freshPath, side), true)
        fs.delete(new Path(freshPath, "_CONFIG"), true)
        fs.delete(new Path(freshPath, "_CONFIG_WITNESS"), true)
        BatchMarkers.clearFloors(fs, freshPath)
      case Some(p) => throw new IllegalStateException(
        s"compactStateTo: $freshRoot carries a non-join pin '$p' — " +
          "refusing to overwrite a different state family")
      case None =>
        require(!graft.sources.PartitionedStore
            .hasDataEntries(fs, freshPath),
          s"compactStateTo: $freshRoot is not empty — refusing to " +
            "merge into it (compact to an empty root, then swap)")
    }
    require(fs.exists(new Path(rootPath, "a")),
      s"compactStateTo: no committed state under $root")
    val srcMarkers = BatchMarkers.read(fs, rootPath)
    // a side can be legitimately empty (e.g. a view whose keys never
    // matched yet): committed batch dirs with zero bucket leaves —
    // compact it to an empty d0, not a refusal
    def committed(side: String): Option[DataFrame] =
      FoldStore.readBatches(spark, fs, rootPath, side, "d", srcMarkers)
    // fresh pin: the SOURCE pin's key + column fields verbatim (so a
    // later fold checks against exactly what it would have at the old
    // root), the (possibly new) bucket count — and the MIGRATED side
    // fields when columns are added (sorted by name in the fold's own
    // spelling, so post-migration folds match byte-for-byte)
    if (allAdds.nonEmpty)
      require(declaredA.forall(_._2.nonEmpty) &&
          declaredB.forall(_._2.nonEmpty),
        s"compactStateTo: the pin under $root still carries the " +
          "legacy names-only spelling — its column types are " +
          "unknowable, so a migrated pin cannot be written; fold one " +
          "batch first (the fold migrates the pin in place)")
    def encPin(x: String) = java.net.URLEncoder.encode(x, "UTF-8")
    def sideField(verbatim: String, declared: Seq[(String, String)],
                  adds: Seq[(String, String)]) =
      if (adds.isEmpty) verbatim
      else (declared ++ adds).sortBy(_._1)
        .map { case (n, t) => encPin(n) + ":" + encPin(t) }
        .mkString(",")
    graft.sources.PartitionedStore.pinLayout(fs, freshPath, freshRoot,
      s"join|${parts(1)}|${sideField(parts(2), declaredA, addsA)}|" +
        s"${sideField(parts(3), declaredB, addsB)}|$nBuckets")
    val bucketOf = pmod(xxhash64(col(key)), lit(nBuckets)).cast("int")
    // schema evolution: the compacted images gain the added columns
    // as typed NULLs — side a its own adds, side b its own, the view
    // both (it keeps both sides' columns)
    def widen(df: DataFrame, adds: Seq[(String, String)]) =
      adds.foldLeft(df) { case (d, (c, t)) =>
        d.withColumn(c, lit(null).cast(t))
      }
    val addsFor = Map("a" -> addsA, "b" -> addsB,
      "view" -> (addsA ++ addsB))
    def stage(side: String): Unit =
      FoldStore.writeBatchDir(fs, freshPath, side, 0L, committed(side)
        .map(widen(_, addsFor(side)).withColumn("__bucket", bucketOf)),
        "d", Some("__bucket"))
    stage("a"); stage("b"); stage("view")
    // the collapsed d0 merges ALL pre-frontier history — floor the
    // as-of axis there so it is never served as an earlier snapshot.
    // Floor BEFORE the committing foldInto: a floor on a
    // still-uncommitted root is harmless (nothing reads it — the
    // retry's crash-reset branch clearFloors it), whereas the reverse
    // order leaves a crash window where the root reads committed but
    // unfloored, and as-of/delta reads would silently serve the
    // collapsed d0 as any earlier snapshot.
    BatchMarkers.writeFloor(fs, freshPath,
      srcMarkers.maxCommitted.getOrElse(0L))
    // the d0 dirs resolve committed through the watermark
    // (0 <= frontier); a source with nothing committed seeds 0
    BatchMarkers.foldInto(fs, freshPath,
      BatchMarkers.read(fs, freshPath),
      srcMarkers.maxCommitted.getOrElse(0L))
    readCommittedView(spark, freshRoot).map(_.count()).getOrElse(0L)
  }
}
