package graft.operators

import graft.sources.ParquetFooter
import graft.state.FoldStore
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental GROUP-BY view over a CDC feed with CROSS-BATCH updates
  * and deletes — the retraction-capable sibling of [[IncrementalAgg]]'s
  * insert-only rollup and the missing corner of the view-maintenance
  * family: the insert-only kinds net a CDC log WITHIN a batch
  * ([[Load.cdcNetEffect]]) but a later batch that updates or deletes a
  * row folded earlier cannot be expressed there at all.
  *
  * Two persisted layers under one root, committed by ONE batch marker:
  *
  *  - `base/` — the SCD1 current-image table keyed by `pkCols`,
  *    hash-bucketed on the PK. Per fold, only the delta's TOUCHED
  *    buckets are read (they hold the old images retraction needs —
  *    no extra lookup pass) and rewritten.
  *  - `agg/` — per-group `(n, total...)` state, hash-bucketed on the
  *    group key. One CDC delta folds ALL declared measures at once:
  *    `valueCols` of size k persists as `(n, total_1 .. total_k)`
  *    (a single measure keeps the historical `total` name, so every
  *    pre-multi-measure state stays readable and foldable in place).
  *    count/sum are INVERTIBLE, so retraction is exact arithmetic: an
  *    update contributes (−1, −old...) at the old group and
  *    (+1, +new...) at the new group (group-moving updates included),
  *    a delete just the minus.
  *    Each total accumulates as decimal(38,6): exact,
  *    order-independent, and invertible — a double sum under
  *    retraction drifts ((a+b)−b ≠ a in floating point).
  *  - `aux_<name>/` — one per declared aux view ([[foldBatch]]
  *    `auxViews`): an extra per-group `(n, total...)` rollup over the
  *    SAME base, bucketed on ITS OWN group columns. N dashboards over
  *    one feed pay ONE netting pass, ONE base rewrite and ONE atomic
  *    marker instead of N separate states; each fold re-groups the
  *    same signed contributions per view. Sums-only by default; an
  *    aux named in `auxMinMaxCols` gains exact `min_i`/`max_i`
  *    columns served from its OWN image layer (next bullet's
  *    machinery, per aux).
  *  - `grp_aux_<name>/` — present per aux view declared in
  *    `auxMinMaxCols`: the current images projected to (auxGroup,
  *    pk, auxMinMax) columns, bucketed by the AUX view's group key —
  *    the aux-local sibling of `grp/` below, because an aux group's
  *    member rows scatter across both the base's pk buckets AND the
  *    main grp layer's group buckets; only a projection bucketed on
  *    the aux's own key makes its touched-group recompute
  *    bucket-pruned.
  *  - `grp/` — present ONLY when `minMaxCols` is declared: the
  *    current images projected to (group, pk, minMax) columns,
  *    hash-bucketed on the GROUP key with the agg layer's bucket
  *    function. min/max are NOT invertible (retracting the current
  *    min forces a group re-scan), so the fold RECOMPUTES them for
  *    exactly the delta's touched groups — and a group's member rows
  *    scatter across ALL pk-hashed base buckets, which is why the
  *    recompute cannot read the base's touched buckets: the grp
  *    layer exists so every row of a touched group lives in a bucket
  *    the fold already touches (same group hash as agg). Per fold
  *    that recompute is bucket-pruned and touched-group-sized, never
  *    a base scan; the agg state gains `min_i`/`max_i` columns in
  *    the measures' own types (a touched group whose surviving
  *    values are all NULL stores NULL — SQL MIN/MAX semantics).
  *
  *  - `log/` — present only in CHANGE-LOG mode ([[enableChangeLog]]):
  *    one append-only `b<batchId>` dir per fold holding that fold's
  *    net per-key image changes (`_from`/`_to` payloads,
  *    added/removed/changed labels, no-op updates dropped), committed
  *    by the SAME batch marker as the state. Serves [[readBaseLog]] —
  *    the forward-only mirror pull that needs NO retention history
  *    (the zero-retention sibling of [[readBaseSince]]); bounded by
  *    `_LOG_FROM_` + [[reapChangeLog]].
  *  - `log_view/` and `log_aux_<name>/` — the GROUP-level siblings,
  *    written by the same folds under the same bound: each fold's
  *    per-group state changes (old agg row vs new, contributed groups
  *    only, zero-net contributions dropped). Serve [[readViewLog]] —
  *    readViewSince semantics with retention OFF; the export
  *    `sinceBatch` face falls back to them automatically when the
  *    state is in change-log mode but not retention mode.
  *
  * Exactly-once via COPY-ON-WRITE versioned buckets: a fold never
  * mutates a committed file — it writes `bucket=<k>/v<batchId>` dirs
  * (staged hidden, renamed in), then creates `_APPLIED_<batchId>`
  * LAST. Readers resolve each bucket to its highest COMMITTED version,
  * so a crash at any point leaves only invisible garbage that the
  * batch's replay reaps; an in-place merge would re-apply the delta on
  * replay (merge is not idempotent) — versioning is what makes
  * at-least-once invocation exactly-once here. Superseded versions are
  * reaped best-effort after the marker commits (and again by the next
  * fold that touches the bucket), so steady state holds ~1 version per
  * bucket.
  *
  * Batch ids are MONOTONE — a hard contract, enforced loud: readers
  * take each bucket's highest committed version, so folding an id
  * below the highest committed marker would write versions no reader
  * ever resolves and the batch's effect would vanish behind a success
  * result. A replay of a COMMITTED id stays a quiet no-op (the
  * at-least-once scheduler idiom); an UNCOMMITTED id below the
  * committed frontier refuses with the named error instead.
  *
  * AS-OF SNAPSHOT READS (opt-in): the COW versions double as a
  * snapshot history. [[enableRetention]] writes an `_ASOF_FLOOR_<f>`
  * file; from then on folds keep superseded versions instead of
  * reaping them, and [[readViewAsOf]]/[[readBaseAsOf]]/the `asOf`
  * lookups resolve each bucket to its highest committed version
  * <= the asked batch id — the exact state any earlier batch saw,
  * still bucket-pruned. The floor is the honesty bound: reads below
  * it refuse loud ([[requireServable]] — those versions are gone),
  * and [[reapRetainedVersions]] advances it past everything it
  * deletes (floor written BEFORE the deletes — every crash window is
  * conservative). The floor is two-grained: the GLOBAL floor gates
  * range reads (full as-of, [[diffView]]/[[diffBase]], the
  * `sinceBatch` pulls), while point lookups gate on PER-BUCKET
  * floors plus the enable-time seed ([[requireServableBuckets]]) —
  * a cold key's history outlives the hot buckets' churn. This is
  * what makes a training run reproducible against a live view:
  * record the batch id consumed, re-read as-of it while the
  * retention window holds.
  *
  * Long-lived ops: per-batch markers fold into a single
  * `_APPLIED_UPTO_<w>` watermark ([[foldMarkers]] — sound exactly
  * because ids are monotone: nothing <= the committed frontier can
  * ever commit later), and batch ids a crashed writer ABANDONS (a
  * checkpoint wipe, CLI misuse — ids the scheduler never replays)
  * strand staging dirs and unmarked versions that only
  * [[cleanOrphanBatchDirs]] sweeps; the streaming sink runs both on
  * its GC cadence.
  *
  * 100 TB shape: per fold — one window over the delta (netting), two
  * bucket-pruned scans (old images, old agg rows of touched buckets),
  * one delta-sized aggregation (contributions, ALL measures in one
  * pass), and bucket-sized rewrites of ONLY the touched buckets.
  * History outside the touched buckets is never read. The two
  * `collect`s are ≤ nBuckets-row bucket probes (the established
  * scalar pattern). Marker state is listed ONCE per fold/read
  * (O(buckets + markers), never O(versions) exists-probes). Layout +
  * schema + types ride the `_CONFIG` pin (xxhash64 bucketing is
  * type-sensitive — a drifted feed refuses instead of mis-bucketing,
  * the join-view discipline).
  *
  * Contracts: single-writer per root; batch ids monotone (enforced);
  * deltas are I/U/D logs with a total per-key `seqCol` order; a D (or
  * U) for a key with no current image contributes nothing
  * (out-of-order feeds degrade to upsert semantics, documented not
  * hidden); `n` can therefore never go negative and a group at n = 0
  * drops out of the view. Payload columns may not collide with the
  * state/staging namespace (`n`, the total names, `__`-prefixed).
  * NULL measure values contribute nothing to their total (SUM
  * semantics) while `n` counts ROWS — for a per-measure average over
  * a NULLable feed, add a 0/1 indicator column upstream as another
  * measure (`when(col(v).isNotNull, 1).otherwise(0)`): its total IS
  * the non-NULL count, folded by the same invertible arithmetic.
  */
object CdcRollup {

  /** The fixed persisted layers a state MAY hold — `grp` exists only
    * on min/max states; loops over this are `fs.exists`-guarded, so a
    * sums-only state just skips it. Aux-view layers (`aux_<name>`)
    * are dynamic; maintenance paths discover them via
    * [[presentLayers]]. */
  private val layerNames = Seq("base", "agg", "grp")

  /** The change-log layer dirs a state in log mode maintains: the
    * per-KEY base feed plus the per-GROUP view feed and one per aux
    * view. */
  private def logLayerNames(auxNames: Seq[String]): Seq[String] =
    Seq("log", "log_view") ++ auxNames.map("log_aux_" + _)

  /** Every change-log layer dir actually present under `root` — the
    * maintenance sweeps iterate THIS (a reader knows its own layer). */
  private def presentLogLayers(fs: org.apache.hadoop.fs.FileSystem,
                               root: org.apache.hadoop.fs.Path)
      : Seq[String] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(n => n == "log" || n == "log_view" ||
        n.startsWith("log_aux_"))

  /** The per-GROUP view change rows ONE fold contributes to a
    * `log_view`/`log_aux_*` layer: old agg row vs new, restricted to
    * the groups that actually CONTRIBUTED this fold (the old frame
    * carries whole touched buckets — ride-along groups are unchanged
    * by construction), zero-net contributions dropped. Renamed-sides
    * full-outer — the base-log self-join-ambiguity discipline;
    * presence rides `n` (never NULL on a live state row, the diffView
    * trick). */
  private def groupChangeLog(oldAgg: DataFrame, newAgg: DataFrame,
                             contrib: DataFrame, groupCols: Seq[String],
                             stateCols: Seq[String],
                             batchId: Long): DataFrame = {
    val lf = oldAgg.select((groupCols ++ stateCols)
      .map(c => col(c).as(s"__vf_$c")): _*)
    val lt = newAgg.select((groupCols ++ stateCols)
      .map(c => col(c).as(s"__vt_$c")): _*)
    val cond = groupCols.map(c => lf(s"__vf_$c") <=> lt(s"__vt_$c"))
      .reduce(_ && _)
    val merged = lf.join(lt, cond, "full_outer")
      .select((groupCols.map(c =>
        coalesce(col(s"__vf_$c"), col(s"__vt_$c")).as(c)) ++
        stateCols.map(c => col(s"__vf_$c").as(s"${c}_from")) ++
        stateCols.map(c => col(s"__vt_$c").as(s"${c}_to")) ++
        Seq(col("__vf_n").isNotNull.as("__inFrom"),
          col("__vt_n").isNotNull.as("__inTo"))): _*)
    val cKeys = contrib.select(groupCols
      .map(c => col(c).as(s"__vc_$c")): _*).distinct()
    val touched = merged.join(cKeys,
      groupCols.map(c => merged(c) <=> cKeys(s"__vc_$c"))
        .reduce(_ && _), "left_semi")
    val differs = stateCols
      .map(c => !(col(s"${c}_from") <=> col(s"${c}_to")))
      .reduce(_ || _)
    touched
      .where((col("__inFrom") =!= col("__inTo")) || differs)
      .select((groupCols.map(col) ++
        stateCols.map(c => col(s"${c}_from")) ++
        stateCols.map(c => col(s"${c}_to")) ++
        Seq(when(col("__inFrom") && !col("__inTo"), lit("removed"))
          .when(!col("__inFrom") && col("__inTo"), lit("added"))
          .otherwise(lit("changed")).as("change"),
          lit(batchId).as("__batch_id"))): _*)
  }

  /** Every layer dir actually present under `root` — the fixed three
    * plus any `aux_<name>` layers. Maintenance (GC, marker folds,
    * compaction) iterates THIS, so aux layers get the same hygiene
    * as the fixed ones without the caller knowing the view set. */
  private def presentLayers(fs: org.apache.hadoop.fs.FileSystem,
                            root: org.apache.hadoop.fs.Path)
      : Seq[String] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(n => layerNames.contains(n) || n.startsWith("aux_") ||
        n.startsWith("grp_aux_"))

  // The `_ASOF_FLOOR_` retention-floor protocol lives in
  // [[BatchMarkers]] (shared with JoinView's compaction floor);
  // presence of a floor file is what switches THIS family into as-of
  // retention mode (see [[enableRetention]]).

  /** Persisted agg-state column names for k measures. ONE measure
    * keeps the pre-multi-measure spelling (`total`) so existing
    * states read and fold unchanged. */
  private[graft] def aggNames(k: Int): Seq[String] =
    if (k == 1) Seq("total") else (1 to k).map(i => s"total_$i")

  /** Persisted min/max state column names for m minMax columns —
    * positional like the totals. */
  private[graft] def minNames(m: Int): Seq[String] =
    (1 to m).map(i => s"min_$i")
  private[graft] def maxNames(m: Int): Seq[String] =
    (1 to m).map(i => s"max_$i")

  /** The parsed `_CONFIG` pin. Field layout: 7 positional fields
    * (family, typed schema, pk, group, values, nBase, nAgg) plus
    * APPENDED optional fields distinguished by SHAPE, not position —
    * the `aux:`-prefixed field carries the aux views, any other
    * extra field is the minMax column list. That shape-dispatch is
    * what lets every older state (7-field sums-only, 8-field minMax)
    * keep its pin byte-for-byte while newer states append. */
  private[graft] final case class Layout(typed: Map[String, String],
                                         pkCols: Seq[String],
                                         groupCols: Seq[String],
                                         valueCols: Seq[String],
                                         nBaseBuckets: Int,
                                         nAggBuckets: Int,
                                         minMaxCols: Seq[String],
                                         auxViews: Seq[(String,
                                           Seq[String])],
                                         /** per-aux MIN/MAX columns
                                           * (aux name -> cols); an aux
                                           * absent here is sums-only.
                                           * Rides the aux pin entry as
                                           * `name=cols~mmCols` — the
                                           * `~` never survives
                                           * URL-encoding, so the shape
                                           * dispatch is unambiguous
                                           * and sums-only entries keep
                                           * their bytes. */
                                         auxMinMax: Map[String,
                                           Seq[String]])

  private[graft] def parseLayout(pin: String, root: String): Layout = {
    def dec(s: String) = java.net.URLDecoder.decode(s, "UTF-8")
    val parts = pin.split('|')
    require(parts.length >= 7 && parts.length <= 9 &&
        parts(0) == "cdcRollup" &&
        parts(5).toIntOption.exists(_ >= 1) &&
        parts(6).toIntOption.exists(_ >= 1),
      s"cdcRollup: unrecognized layout pin '$pin' under $root")
    val extras = parts.drop(7)
    val (auxFields, mmFields) = extras.partition(_.startsWith("aux:"))
    require(auxFields.length <= 1 && mmFields.length <= 1,
      s"cdcRollup: unrecognized layout pin '$pin' under $root")
    val auxParsed = auxFields.headOption.toSeq
      .flatMap(_.stripPrefix("aux:").split(';').toSeq)
      .map { v =>
        // validate the split: a malformed aux entry must refuse with
        // the same IllegalArgumentException as the rest of the parse,
        // not a MatchError — fsck catches IAE to report "malformed
        // layout pin" instead of crashing on the state it audits
        val kv = v.split('=')
        require(kv.length == 2 && kv(0).nonEmpty && kv(1).nonEmpty,
          s"cdcRollup: unrecognized layout pin '$pin' under $root")
        // value shape: `cols` (sums-only) or `cols~mmCols` (per-aux
        // min/max) — `~` is %7E after URL-encoding, so a literal one
        // is always the separator. limit -1 keeps a TRAILING empty
        // token ("cols~" must refuse, not silently parse sums-only)
        val cm = kv(1).split("~", -1)
        require(cm.length <= 2 && cm.forall(_.nonEmpty),
          s"cdcRollup: unrecognized layout pin '$pin' under $root")
        (dec(kv(0)), cm(0).split(',').toSeq.map(dec),
          cm.lift(1).toSeq.flatMap(_.split(',').toSeq.map(dec)))
      }
    Layout(
      typed = parts(1).split(',').toSeq.map(_.split(':')).collect {
        case Array(n, t) => dec(n) -> dec(t)
      }.toMap,
      pkCols = parts(2).split(',').toSeq.map(dec),
      groupCols = parts(3).split(',').toSeq.map(dec),
      valueCols = parts(4).split(',').toSeq.map(dec),
      nBaseBuckets = parts(5).toInt,
      nAggBuckets = parts(6).toInt,
      minMaxCols = mmFields.headOption.toSeq
        .flatMap(_.split(',').toSeq).map(dec),
      auxViews = auxParsed.map { case (n, cs, _) => n -> cs },
      auxMinMax = auxParsed.collect {
        case (n, _, mm) if mm.nonEmpty => n -> mm
      }.toMap)
  }

  /** Fold one CDC batch — all `valueCols` measures in ONE pass over
    * the delta, plus exact per-group MIN/MAX of each `minMaxCols`
    * column (recomputed for the delta's touched groups from the
    * group-bucketed `grp` layer — see the object doc; empty = the
    * historical sums-only state, pin-compatible with every
    * pre-min/max state). Returns false (no-op) when `batchId` is
    * already committed (marker or watermark). */
  def foldBatch(root: String, batchId: Long, delta: DataFrame,
                pkCols: Seq[String], seqCol: String, opCol: String,
                groupCols: Seq[String], valueCols: Seq[String],
                nBaseBuckets: Int = 64, nAggBuckets: Int = 16,
                minMaxCols: Seq[String] = Nil,
                auxViews: Seq[(String, Seq[String])] = Nil,
                /** per-aux exact MIN/MAX columns (aux name -> cols):
                  * that aux view gains `min_i`/`max_i` columns
                  * maintained by the same touched-group recompute as
                  * the main view's, against its OWN slim
                  * `grp_aux_<name>` image layer (bucketed by the
                  * aux's group key). Keys must name declared
                  * `auxViews`; pinned like every layout choice. */
                auxMinMaxCols: Map[String, Seq[String]] =
                  Map.empty): Boolean = {
    import org.apache.hadoop.fs.Path
    require(pkCols.nonEmpty, "cdcRollup needs pk columns")
    require(groupCols.nonEmpty, "cdcRollup needs group columns")
    require(valueCols.nonEmpty, "cdcRollup needs at least one value column")
    require(valueCols.distinct == valueCols,
      s"cdcRollup: duplicate value columns: ${valueCols.mkString(", ")}")
    require(minMaxCols.distinct == minMaxCols,
      s"cdcRollup: duplicate minMax columns: ${minMaxCols.mkString(", ")}")
    require(nBaseBuckets >= 1 && nAggBuckets >= 1,
      s"bucket counts must be >= 1, got $nBaseBuckets/$nAggBuckets")
    // aux views: extra rollups over the SAME base, each with its own
    // group key — names become layer dirs (`aux_<name>`), so they
    // must be path-safe; sums-only unless the view is named in
    // `auxMinMaxCols` (then it gets its own `grp_aux_<name>` image
    // layer and the main view's touched-group recompute)
    require(auxViews.map(_._1).distinct.size == auxViews.size,
      s"cdcRollup: duplicate aux view names")
    auxViews.foreach { case (name, cols) =>
      require(name.nonEmpty && name.forall(c => c.isLetterOrDigit ||
          c == '_' || c == '-'),
        s"cdcRollup: aux view name '$name' must be [A-Za-z0-9_-]+ " +
          "(it becomes a state directory name)")
      require(cols.nonEmpty,
        s"cdcRollup: aux view '$name' needs group columns")
      require(cols.distinct == cols,
        s"cdcRollup: aux view '$name' lists a group column twice")
    }
    auxMinMaxCols.foreach { case (name, cols) =>
      require(auxViews.exists(_._1 == name),
        s"cdcRollup: auxMinMaxCols names aux view '$name' which is " +
          "not declared in auxViews")
      require(cols.nonEmpty,
        s"cdcRollup: auxMinMaxCols for '$name' must list columns")
      require(cols.distinct == cols,
        s"cdcRollup: auxMinMaxCols for '$name' lists a column twice")
    }
    (pkCols ++ groupCols ++ valueCols ++ minMaxCols ++
      auxViews.flatMap(_._2) ++ auxMinMaxCols.values.flatten ++
      Seq(seqCol, opCol))
      .foreach { c =>
        require(delta.columns.contains(c),
          s"cdcRollup: delta lacks declared column '$c'")
      }
    // seq/op are dropped before the state writes — a pk/group/value
    // column spelled like one would vanish from the persisted image
    // and fail later with an opaque resolution error; refuse NAMED
    require(!(pkCols ++ groupCols ++ valueCols ++ minMaxCols ++
        auxViews.flatMap(_._2) ++ auxMinMaxCols.values.flatten)
        .exists(c => c == seqCol || c == opCol),
      "cdcRollup: seq/op columns cannot double as pk/group/value columns")
    val agg = aggNames(valueCols.size)
    val mins = minNames(minMaxCols.size)
    val maxs = maxNames(minMaxCols.size)
    // payload = the persisted base image (everything but seq/op)
    val payloadCols = delta.columns.filterNot(c => c == seqCol || c == opCol)
    // the state namespace covers the WIDEST min/max column set any
    // layer persists (main or aux)
    val mmWidest = (minMaxCols.size +:
      auxMinMaxCols.values.map(_.size).toSeq).max
    val stateNames = Set("n") ++ agg ++
      minNames(mmWidest) ++ maxNames(mmWidest)
    val clash = payloadCols
      .filter(c => stateNames(c) || c.startsWith("__"))
    require(clash.isEmpty,
      s"cdcRollup: payload columns ${clash.mkString(", ")} collide with " +
        s"the state/staging namespace (${stateNames.mkString(", ")}, " +
        "__-prefixed) — rename upstream")
    val spark = delta.sparkSession
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    // ONE marker listing serves the replay check, the monotonicity
    // guard AND every committed-version resolution below
    val markers = BatchMarkers.read(fs, rootPath)
    if (markers.committed(batchId))
      return false // exactly-once replay no-op
    markers.maxCommitted.filter(batchId < _).foreach { frontier =>
      throw new IllegalArgumentException(
        s"cdcRollup batch $batchId: out of order — batch $frontier is " +
          "already committed and readers take each bucket's highest " +
          "committed version, so a lower id would fold into versions " +
          "no reader ever resolves (the batch's effect would vanish " +
          "behind a success result). Feed batch ids in increasing " +
          "order; replaying a COMMITTED id is a quiet no-op")
    }
    // typed layout pin (see JoinView: xxhash64 is type-sensitive).
    // minMaxCols APPEND as an 8th field so every sums-only state —
    // past or future — keeps the historical 7-field pin byte-for-byte
    // (stays readable and foldable in place); a min/max state pins the
    // extra field, and folding an existing sums-only state WITH
    // minMaxCols refuses on the pin mismatch (its grp layer was never
    // maintained — re-shard via compact into a fresh min/max state
    // instead of silently serving min/max from nothing)
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    val typed = delta.schema.filter(f => payloadCols.contains(f.name))
      .sortBy(_.name)
      .map(f => enc(f.name) + ":" + enc(f.dataType.catalogString))
      .mkString(",")
    val mmField =
      if (minMaxCols.isEmpty) "" else s"|${minMaxCols.map(enc).mkString(",")}"
    // aux field appends LAST with an `aux:` shape marker — see
    // [[Layout]]: older states keep their pin bytes, and a changed
    // aux set refuses on the mismatch (an aux layer that was never
    // maintained must not silently serve)
    val auxField =
      if (auxViews.isEmpty) ""
      else "|aux:" + auxViews.map { case (n, cs) =>
        // `~mmCols` appends ONLY when declared — sums-only aux
        // entries keep their historical bytes, and adding/removing an
        // aux's min/max set refuses on the pin mismatch like every
        // other layout change (its grp_aux layer was never
        // maintained; re-shard via compact)
        enc(n) + "=" + cs.map(enc).mkString(",") +
          auxMinMaxCols.get(n).map("~" + _.map(enc).mkString(","))
            .getOrElse("")
      }.mkString(";")
    graft.sources.PartitionedStore.pinLayout(fs, rootPath, root,
      s"cdcRollup|$typed|${pkCols.map(enc).mkString(",")}|" +
        s"${groupCols.map(enc).mkString(",")}|" +
        s"${valueCols.map(enc).mkString(",")}|" +
        s"$nBaseBuckets|$nAggBuckets$mmField$auxField")
    // every layer this state can hold: THIS batch's crash garbage
    // (staged dirs, unmarked versions, an uncommitted log b<id>) goes
    // from each before the marker, written by this fold or not
    val chains = layerNames ++ auxViews.map("aux_" + _._1) ++
      auxMinMaxCols.keys.map("grp_aux_" + _)
    val logs = logLayerNames(auxViews.map(_._1))
    // change-log mode: every fold ALSO emits its net per-key image
    // changes into the append-only log/ layer (see [[enableChangeLog]])
    val logOn = BatchMarkers.readLogFrom(fs, rootPath).isDefined
    if (logOn) {
      // the logs persist <col>_from/<col>_to/change columns — an
      // output-name collision (a pk or group column named like a
      // state col's suffixed spelling, a payload column named
      // 'change') would write a duplicate-name schema; refuse NAMED
      val sc = payloadCols.filterNot(pkCols.contains)
      val baseOut = pkCols ++ sc.map(_ + "_from") ++
        sc.map(_ + "_to") ++ Seq("change")
      val viewState = Set("n") ++ aggNames(valueCols.size) ++
        minNames(mmWidest) ++ maxNames(mmWidest)
      val viewOut = (groupCols ++ auxViews.flatMap(_._2)).distinct ++
        viewState.toSeq.flatMap(c => Seq(s"${c}_from", s"${c}_to")) ++
        Seq("change")
      for (outNames <- Seq(baseOut, viewOut)) {
        val dup = outNames.groupBy(identity)
          .collect { case (n, xs) if xs.size > 1 => n }
        require(dup.isEmpty,
          s"cdcRollup change log: output column collision on " +
            s"${dup.mkString(", ")} — the logs write <col>_from/" +
            "<col>_to plus 'change'; rename upstream")
      }
    }
    val baseBucket = pmod(xxhash64(pkCols.map(col): _*), lit(nBaseBuckets))
      .cast("int")
    val aggBucket = pmod(xxhash64(groupCols.map(col): _*), lit(nAggBuckets))
      .cast("int")
    val dec = "decimal(38,6)"
    val dts = valueCols.indices.map(i => s"__dt${i + 1}")
    // net the batch to one final event per key, deletes kept
    val net = Load.cdcNetOps(delta, pkCols, seqCol, opCol)
      .select((payloadCols.map(col) :+ col("__cdc_delete")): _*)
      .persist()
    try {
      // ONE delta-sized probe job serves the empty check, the NULL-pk
      // refusal AND the touched-base-bucket set (three serial actions
      // collapsed — the fold runs dozens of tiny jobs, so each saved
      // job round-trip is real wall time at any scale; guide §1.2
      // "don't compute things you throw away" applies to passes too)
      // NOTE: collect_set silently drops NULLs — sound here only
      // because baseBucket = pmod(xxhash64(pk...), n) is non-null by
      // construction (xxhash64 never returns NULL, even on NULL
      // input); if the bucket expression ever became nullable the
      // touched set would silently shrink. Guarded by the NULL-pk
      // refusal below, which rejects the only rows that could carry a
      // surprising hash input.
      val probeRow = labeled(spark, s"cdc-fold b$batchId: net probe") {
        net.agg(
          count(lit(1)).as("__cnt"),
          count(when(pkCols.map(col(_).isNull).reduce(_ || _), 1))
            .as("__nullpk"),
          collect_set(baseBucket).as("__buckets")).head()
      }
      if (probeRow.getLong(0) == 0L) { // empty delta: commit the marker, change nothing
        // ... except materialize the DECLARED layer dirs (grp when
        // minMax is pinned, one aux_<name> per aux view) exactly like
        // compactStateTo does: a stream whose FIRST micro-batch is
        // empty — a common startup shape — must not leave a committed
        // state that fsck flags as "declared layer missing". mkdirs
        // is idempotent, so later empty batches are no-ops here.
        if (minMaxCols.nonEmpty) fs.mkdirs(new Path(rootPath, "grp"))
        auxViews.foreach { case (n, _) =>
          fs.mkdirs(new Path(rootPath, s"aux_$n")) }
        auxMinMaxCols.keys.foreach { n =>
          fs.mkdirs(new Path(rootPath, s"grp_aux_$n")) }
        // an empty fold's change logs are empty (dataless) b<id>
        // dirs — present so a committed id > logFrom with NO log dir
        // stays an fsck-able GAP signal, never an ambiguous shape
        stageAndCommit(spark, fs, rootPath, batchId, Nil, chains, logs,
          changeLogs = if (logOn) logs.map(_ -> None) else Nil)
        return true
      }
      // NULL pk components refuse LOUD: the pk joins below (semi/anti)
      // never match NULL, so a NULL-keyed image could neither be
      // updated nor deleted — every later upsert would append another
      // copy the state can never reconcile.
      require(probeRow.getLong(1) == 0L,
        s"cdcRollup batch $batchId: NULL in a pk column — a NULL key " +
          "can never be matched for update/delete; repair the feed")
      val touchedBase = probeRow.getSeq[Int](2).toSet
      val upserts = net.filter(!col("__cdc_delete")).drop("__cdc_delete")
      val keys = net.select(pkCols.map(col): _*).distinct()
      // old images live ONLY in the delta's touched base buckets
      val prunedBase = FoldStore.read(spark, fs, rootPath, "base",
        Some(touchedBase), markers).getOrElse(upserts.limit(0))
      val old = prunedBase.join(keys, pkCols, "left_semi").persist()
      try {
        // signed contributions: retraction at the OLD group, insertion
        // at the NEW — group-moving updates come out exactly; every
        // measure rides the SAME delta pass (one fold per batch, not
        // one per measure)
        val minus = old.select((groupCols.map(col) :+
          lit(-1L).as("__dn")) ++
          valueCols.zip(dts).map { case (v, d) =>
            (-col(v).cast(dec)).as(d) }: _*)
        val plus = upserts.select((groupCols.map(col) :+
          lit(1L).as("__dn")) ++
          valueCols.zip(dts).map { case (v, d) =>
            col(v).cast(dec).as(d) }: _*)
        val sums = sum(col("__dn")).as("__dn") +:
          dts.map(d => sum(col(d)).cast(dec).as(d))
        val contrib = minus.unionByName(plus)
          .groupBy(groupCols.map(col): _*)
          .agg(sums.head, sums.tail: _*)
          .persist()
        // build every aux view's signed contribution UP FRONT so ONE
        // probe job (below) serves the main view's touched-agg set
        // AND every aux view's — the r18 net-probe collapse extended
        // to the per-view bucket probes (guide §1.2: each probe was
        // a full driver round-trip; N views now pay one).
        val auxPre = auxViews.map { case (name, cols) =>
          val bucketOf = pmod(xxhash64(cols.map(col): _*),
            lit(nAggBuckets)).cast("int")
          val aMinus = old.select((cols.map(col) :+
            lit(-1L).as("__dn")) ++
            valueCols.zip(dts).map { case (v, d) =>
              (-col(v).cast(dec)).as(d) }: _*)
          val aPlus = upserts.select((cols.map(col) :+
            lit(1L).as("__dn")) ++
            valueCols.zip(dts).map { case (v, d) =>
              col(v).cast(dec).as(d) }: _*)
          val aContrib = aMinus.unionByName(aPlus)
            .groupBy(cols.map(col): _*)
            .agg(sums.head, sums.tail: _*)
            .persist()
          (name, cols, aContrib, bucketOf)
        }
        try {
          // the main view rides tag NULL (an aux name is never NULL);
          // the one collect also materializes every persisted contrib
          val touchedRows = labeled(spark,
              s"cdc-fold b$batchId: contrib + touched probes") {
            auxPre.map { case (name, _, c, b) =>
                c.select(lit(name).as("__v"), b.as("__b")) }
              .foldLeft(
                contrib.select(lit(null).cast("string").as("__v"),
                  aggBucket.as("__b")))(_ unionByName _)
              .distinct().collect()
          }
          val touchedByView = touchedRows
            .groupBy(r => if (r.isNullAt(0)) null else r.getString(0))
            .map { case (k, rs) => k -> rs.map(_.getInt(1)).toSet }
          val touchedAgg =
            touchedByView.getOrElse(null, Set.empty[Int])
          // new base content for the touched buckets: pass-through
          // minus touched keys, plus the upsert images
          val newBase = prunedBase.join(keys, pkCols, "left_anti")
            .unionByName(upserts.select(prunedBase.columns.map(col): _*))
          // independent lineage (createDataFrame, not a slice of
          // contrib): the null-safe merge below uses dataset-qualified
          // refs, and a shared-lineage empty frame would make that a
          // self-join ambiguity
          import org.apache.spark.sql.types.{StructField, StructType}
          val emptyAgg = spark.createDataFrame(
            java.util.Collections.emptyList[org.apache.spark.sql.Row](),
            StructType(
              groupCols.map(c => delta.schema(c)) ++
                (StructField("n", org.apache.spark.sql.types.LongType) +:
                  agg.map(t => StructField(t,
                    org.apache.spark.sql.types.DecimalType(38, 6)))) ++
                minMaxCols.zipWithIndex.flatMap { case (v, i) =>
                  val dt = delta.schema(v).dataType
                  Seq(StructField(mins(i), dt), StructField(maxs(i), dt))
                }))
          val oldAgg = FoldStore.read(spark, fs, rootPath, "agg",
            Some(touchedAgg), markers).getOrElse(emptyAgg)
          // NULL-SAFE group merge: a using-columns join would never
          // match NULL group values (null != null), splitting a NULL
          // group's state row from its contribution forever — <=> is
          // the join a grouping semantics needs (GROUP BY treats NULLs
          // as one group; so must the merge). min/max pass through
          // from the old state here; the recompute below overrides
          // them for exactly the touched groups.
          val mergeCond = groupCols
            .map(c => oldAgg(c) <=> contrib(c)).reduce(_ && _)
          val merged = oldAgg.join(contrib, mergeCond, "full_outer")
            .select((groupCols.map(c =>
              coalesce(oldAgg(c), contrib(c)).as(c)) :+
              (coalesce(oldAgg("n"), lit(0L)) +
                coalesce(contrib("__dn"), lit(0L))).as("n")) ++
              agg.zip(dts).map { case (t, d) =>
                (coalesce(oldAgg(t), lit(0).cast(dec)) +
                  coalesce(contrib(d), lit(0).cast(dec))).cast(dec)
                  .as(t) } ++
              (mins ++ maxs).map(c => oldAgg(c).as(c)): _*)
          val (withMinMax, grpLayer) =
            if (minMaxCols.isEmpty) (merged, Nil)
            else {
              // grp layer upkeep: current images projected to
              // (group, pk, minMax) columns, bucketed by the AGG
              // bucket function — so every row of a touched group
              // lives in a bucket this fold already touches, and the
              // min/max recompute below is bucket-pruned by
              // construction (the base's pk buckets could never give
              // that: a group's members scatter across all of them)
              val grpCols = (groupCols ++ pkCols ++ minMaxCols).distinct
              val emptyGrp = spark.createDataFrame(
                java.util.Collections.emptyList[org.apache.spark.sql.Row](),
                StructType(grpCols.map(c => delta.schema(c))))
              val oldGrp = FoldStore.read(spark, fs, rootPath, "grp",
                Some(touchedAgg), markers).getOrElse(emptyGrp)
              val newGrp = oldGrp.join(keys, pkCols, "left_anti")
                .unionByName(upserts.select(grpCols.map(col): _*))
              // exact per-group MIN/MAX over the SURVIVING images of
              // the delta's touched groups — touched-group-sized work
              // (untouched groups sharing a bucket are semi-filtered
              // out; their stored values pass through `merged`)
              val touchedGroups = newGrp.join(contrib,
                groupCols.map(c => newGrp(c) <=> contrib(c))
                  .reduce(_ && _), "left_semi")
              val mmAggs = minMaxCols.zipWithIndex.flatMap {
                case (v, i) =>
                  Seq(min(col(v)).as(s"__mm_${mins(i)}"),
                    max(col(v)).as(s"__mm_${maxs(i)}"))
              } :+ count(lit(1)).as("__mm_rows")
              val recomputed = touchedGroups
                .groupBy(groupCols.map(col): _*)
                .agg(mmAggs.head, mmAggs.tail: _*)
              // presence discriminator, NOT coalesce: a recomputed
              // group's value wins EVEN WHEN NULL (all surviving
              // values NULL is a real MIN/MAX result)
              val cond = groupCols
                .map(c => merged(c) <=> recomputed(c)).reduce(_ && _)
              val joined = merged.join(recomputed, cond, "left_outer")
                .select((groupCols.map(c => merged(c).as(c)) :+
                  merged("n").as("n")) ++
                  agg.map(t => merged(t).as(t)) ++
                  (mins ++ maxs).map { c =>
                    when(recomputed("__mm_rows").isNotNull,
                      recomputed(s"__mm_$c")).otherwise(merged(c)).as(c)
                  }: _*)
              (joined, Seq(("grp", newGrp, aggBucket, touchedAgg)))
            }
          // AUX VIEWS: the same retraction algebra RE-GROUPED per
          // view — this is the point of sharing one state: N rollups
          // over one feed pay ONE netting pass, ONE base rewrite and
          // ONE atomic marker instead of N of each (the base layer is
          // the big thing at scale; the per-view cost here is one
          // delta-sized aggregation + touched-bucket rewrites of its
          // own slim agg layer). Sums-only by default; an aux named
          // in `auxMinMaxCols` additionally carries exact MIN/MAX
          // maintained against its OWN slim `grp_aux_<name>` image
          // layer — the main view's touched-group recompute verbatim,
          // bucketed by the AUX group key (the main `grp` layer could
          // never serve it: an aux group's members scatter across the
          // main layer's group-hashed buckets).
          val auxLayers = auxPre.map { case (name, cols, aContrib,
              bucketOf) =>
            val aMm = auxMinMaxCols.getOrElse(name, Nil)
            val aMins = minNames(aMm.size)
            val aMaxs = maxNames(aMm.size)
            val touchedA = touchedByView.getOrElse(name, Set.empty[Int])
            import org.apache.spark.sql.types.{StructField, StructType}
            val emptyA = spark.createDataFrame(
              java.util.Collections.emptyList[org.apache.spark.sql.Row](),
              StructType(cols.map(c => delta.schema(c)) ++
                (StructField("n", org.apache.spark.sql.types.LongType) +:
                  agg.map(t => StructField(t,
                    org.apache.spark.sql.types.DecimalType(38, 6)))) ++
                aMm.zipWithIndex.flatMap { case (v, i) =>
                  val dt = delta.schema(v).dataType
                  Seq(StructField(aMins(i), dt),
                    StructField(aMaxs(i), dt))
                }))
            val oldA = FoldStore.read(spark, fs, rootPath, s"aux_$name",
              Some(touchedA), markers).getOrElse(emptyA)
            val condA = cols.map(c => oldA(c) <=> aContrib(c))
              .reduce(_ && _)
            val mergedA = oldA.join(aContrib, condA, "full_outer")
              .select((cols.map(c =>
                coalesce(oldA(c), aContrib(c)).as(c)) :+
                (coalesce(oldA("n"), lit(0L)) +
                  coalesce(aContrib("__dn"), lit(0L))).as("n")) ++
                agg.zip(dts).map { case (t, d) =>
                  (coalesce(oldA(t), lit(0).cast(dec)) +
                    coalesce(aContrib(d), lit(0).cast(dec))).cast(dec)
                    .as(t) } ++
                // min/max pass through; the recompute below overrides
                // them for exactly the touched groups
                (aMins ++ aMaxs).map(c => oldA(c).as(c)): _*)
            val (finalA, grpA) =
              if (aMm.isEmpty) (mergedA, Nil)
              else {
                val grpColsA = (cols ++ pkCols ++ aMm).distinct
                val emptyGrpA = spark.createDataFrame(
                  java.util.Collections
                    .emptyList[org.apache.spark.sql.Row](),
                  StructType(grpColsA.map(c => delta.schema(c))))
                val oldGrpA = FoldStore.read(spark, fs, rootPath,
                  s"grp_aux_$name", Some(touchedA), markers)
                  .getOrElse(emptyGrpA)
                val newGrpA = oldGrpA.join(keys, pkCols, "left_anti")
                  .unionByName(upserts.select(grpColsA.map(col): _*))
                val touchedGroupsA = newGrpA.join(aContrib,
                  cols.map(c => newGrpA(c) <=> aContrib(c))
                    .reduce(_ && _), "left_semi")
                val mmAggsA = aMm.zipWithIndex.flatMap { case (v, i) =>
                  Seq(min(col(v)).as(s"__mm_${aMins(i)}"),
                    max(col(v)).as(s"__mm_${aMaxs(i)}"))
                } :+ count(lit(1)).as("__mm_rows")
                val recomputedA = touchedGroupsA
                  .groupBy(cols.map(col): _*)
                  .agg(mmAggsA.head, mmAggsA.tail: _*)
                // presence discriminator, NOT coalesce (the main
                // view's rule): a recomputed group's value wins EVEN
                // WHEN NULL
                val condMm = cols
                  .map(c => mergedA(c) <=> recomputedA(c))
                  .reduce(_ && _)
                val joinedA = mergedA
                  .join(recomputedA, condMm, "left_outer")
                  .select((cols.map(c => mergedA(c).as(c)) :+
                    mergedA("n").as("n")) ++
                    agg.map(t => mergedA(t).as(t)) ++
                    (aMins ++ aMaxs).map { c =>
                      when(recomputedA("__mm_rows").isNotNull,
                        recomputedA(s"__mm_$c")).otherwise(mergedA(c))
                        .as(c)
                    }: _*)
                (joinedA,
                  Seq((s"grp_aux_$name", newGrpA, bucketOf, touchedA)))
              }
            val auxLog =
              if (!logOn) Nil
              else Seq(s"log_aux_$name" -> groupChangeLog(oldA,
                finalA.filter(col("n") > 0), aContrib, cols,
                Seq("n") ++ agg ++ aMins ++ aMaxs, batchId))
            (Seq((s"aux_$name", finalA.filter(col("n") > 0), bucketOf,
                touchedA)) ++ grpA,
              auxLog)
          }
          // fold-time CDC change log: the net per-key image change
          // this fold applies — old image (_from) vs upsert image
          // (_to), labeled added/removed/changed, NO-OP updates
          // dropped (an update writing the identical image changes
          // nothing a mirror must apply — and dropping them keeps
          // the log's per-key composition exactly equal to a
          // two-snapshot diff). Column-RENAMED sides full-outer on
          // the pk (renaming before the join is the self-join-
          // ambiguity-proof spelling: `old` can share lineage with
          // `upserts` through the empty-state fallback). Delta-sized
          // work: both sides are this fold's keys only.
          val changeLogs =
            if (!logOn) Nil
            else {
              val stateCols = payloadCols.filterNot(pkCols.contains)
              val lf = old.select(payloadCols.toSeq.map(c =>
                col(c).as(s"__lf_$c")): _*)
              val lt = upserts.select(payloadCols.toSeq.map(c =>
                col(c).as(s"__lt_$c")): _*)
              val cond = pkCols.map(c =>
                lf(s"__lf_$c") === lt(s"__lt_$c")).reduce(_ && _)
              val j = lf.join(lt, cond, "full_outer")
              // pk components are never NULL on an image (refused
              // above) — presence rides the first pk column
              val inFrom = col(s"__lf_${pkCols.head}").isNotNull
              val inTo = col(s"__lt_${pkCols.head}").isNotNull
              val same = stateCols.toSeq.map(c =>
                col(s"__lf_$c") <=> col(s"__lt_$c"))
                .reduceOption(_ && _).getOrElse(lit(true))
              val baseLog = j.where(!(inFrom && inTo && same))
                .select((pkCols.map(c => coalesce(col(s"__lf_$c"),
                    col(s"__lt_$c")).as(c)) ++
                  stateCols.toSeq.map(c =>
                    col(s"__lf_$c").as(s"${c}_from")) ++
                  stateCols.toSeq.map(c =>
                    col(s"__lt_$c").as(s"${c}_to")) ++
                  Seq(when(inFrom && !inTo, lit("removed"))
                    .when(!inFrom && inTo, lit("added"))
                    .otherwise(lit("changed")).as("change"),
                    lit(batchId).as("__batch_id"))): _*)
              // the GROUP-level feed: old agg row vs new for exactly
              // the contributed groups (main view; aux views emit
              // theirs inside their own scopes above)
              val viewLog = groupChangeLog(oldAgg,
                withMinMax.filter(col("n") > 0), contrib, groupCols,
                Seq("n") ++ agg ++ mins ++ maxs, batchId)
              Seq("log" -> baseLog, "log_view" -> viewLog) ++
                auxLayers.flatMap(_._2)
            }
          stageAndCommit(spark, fs, rootPath, batchId,
            Seq(("base", newBase, baseBucket, touchedBase),
              // a fully-retracted group drops out of the view
              ("agg", withMinMax.filter(col("n") > 0), aggBucket,
                touchedAgg)) ++ grpLayer ++ auxLayers.flatMap(_._1),
            chains, logs,
            // retention mode: superseded versions ARE the snapshot
            // history — the fold keeps them; reapRetainedVersions
            // owns their (floor-advancing) deletion
            retain = BatchMarkers.readFloor(fs, rootPath).isDefined,
            changeLogs = changeLogs.map { case (l, df) => l -> Some(df) })
        } finally {
          (contrib +: auxPre.map(_._3)).foreach(_.unpersist()); ()
        }
      } finally { old.unpersist(); () }
    } finally { net.unpersist(); () }
    true
  }

  /** The maintained view: per-group (n, total...) over the CURRENT
    * images — committed state only; None before the first commit. */
  def readView(spark: SparkSession, root: String): Option[DataFrame] = {
    import org.apache.hadoop.fs.Path
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    FoldStore.read(spark, fs, rootPath, "agg", None,
      BatchMarkers.read(fs, rootPath))
  }

  /** The maintained SCD1 base (current images) — the view's witness
    * table, useful on its own as a keyed snapshot of the CDC feed. */
  def readBase(spark: SparkSession, root: String): Option[DataFrame] = {
    import org.apache.hadoop.fs.Path
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    FoldStore.read(spark, fs, rootPath, "base", None,
      BatchMarkers.read(fs, rootPath))
  }

  /** An AUX VIEW by name — the extra rollups `auxViews` maintains
    * over the shared base (per-group `(n, total...)`, plus
    * `min_i`/`max_i` when the aux is declared in `auxMinMaxCols`).
    * Refuses a name the pin never declared (an undeclared layer
    * would read as silently empty). None before the first commit. */
  def readAuxView(spark: SparkSession, root: String,
                  name: String): Option[DataFrame] = {
    import org.apache.hadoop.fs.Path
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    requireAuxDeclared(fs, rootPath, root, name)
    FoldStore.read(spark, fs, rootPath, s"aux_$name", None,
      BatchMarkers.read(fs, rootPath))
  }

  /** [[readAuxView]] as of a batch — retention-mode semantics
    * identical to [[readViewAsOf]] (aux layers version with the same
    * COW protocol and the same floor). */
  def readAuxViewAsOf(spark: SparkSession, root: String, name: String,
                      asOf: Long): Option[DataFrame] = {
    import org.apache.hadoop.fs.Path
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    requireAuxDeclared(fs, rootPath, root, name)
    requireServable(fs, rootPath, asOf)
    FoldStore.read(spark, fs, rootPath, s"aux_$name", None,
      BatchMarkers.read(fs, rootPath), Some(asOf))
  }

  private def requireAuxDeclared(fs: org.apache.hadoop.fs.FileSystem,
                                 rootPath: org.apache.hadoop.fs.Path,
                                 root: String, name: String): Unit = {
    val pin = graft.sources.PartitionedStore.readPin(fs, rootPath)
      .getOrElse(throw new IllegalStateException(
        s"readAuxView: no layout pin under $root — not a cdcRollup state"))
    requireAuxDeclared(parseLayout(pin, root), root, name)
  }

  /** Refuses an aux `name` the `layout` never declared. */
  private[graft] def requireAuxDeclared(layout: Layout, root: String,
                                        name: String): Unit = {
    require(layout.auxViews.exists(_._1 == name),
      s"readAuxView: no aux view '$name' declared under $root (has: " +
        s"${layout.auxViews.map(_._1).mkString(", ")}) — an " +
        "undeclared layer would read as silently empty")
  }

  /** Bucket-pruned POINT LOOKUP into an aux view — [[lookupView]]
    * semantics on the `aux_<name>` layer: keys carry exactly that
    * view's pinned group columns with the pinned types, NULL group
    * values probe null-safely, `asOf` serves the retained snapshot.
    * Refuses an undeclared name. */
  def lookupAuxView(spark: SparkSession, root: String, name: String,
                    keys: DataFrame,
                    asOf: Option[Long] = None): Option[DataFrame] =
    lookupLayer(spark, root, "lookupAuxView", keys, asOf,
      s"aux view '$name''s group columns", "group column", None) { l =>
      (s"aux_$name", l.auxViews.collectFirst {
        case (n, cs) if n == name => cs
      }.getOrElse(throw new IllegalArgumentException(
        s"lookupAuxView: no aux view '$name' declared under $root (has: " +
          s"${l.auxViews.map(_._1).mkString(", ")}) — an " +
          "undeclared layer would read as silently empty")), l.nAggBuckets)
    }

  // ---- as-of snapshot reads ---------------------------------------

  /** Switch a state into AS-OF RETENTION mode: from now on folds KEEP
    * superseded bucket versions (the copy-on-write history that is
    * normally reaped eagerly), so [[readViewAsOf]]/[[readBaseAsOf]]
    * can re-serve the exact view any earlier batch saw — the
    * reproducibility story a training pipeline needs ("read the view
    * as of the batch my run consumed"). The floor written is the
    * CURRENT committed frontier: snapshots below it were already
    * reaped by the eager-GC folds and stay unservable; everything at
    * or above it is retained until [[reapRetainedVersions]] advances
    * the floor. Idempotent — re-enabling keeps the existing floor
    * (never lowers it: a lowered floor would promise snapshots whose
    * versions are gone). Storage note: history accretes one version
    * per touched bucket per fold until reaped; run
    * `reapRetainedVersions` on the GC cadence with the retention
    * window the consumers need.
    *
    * FLOOR GRANULARITY: the GLOBAL floor (advanced by reaps to the
    * max superseding id across all buckets) gates every RANGE read —
    * full as-of snapshots, [[diffView]], [[readViewSince]] — because
    * a version reaped inside a range leaves no surviving evidence
    * the changed-bucket listing could see. POINT LOOKUPS
    * (`lookupBase`/`lookupView`/`lookupAuxView` with `asOf`) gate on
    * the PER-BUCKET floors the reap also writes (plus the
    * enable-time seed), so a cold key's history outlives the hot
    * buckets' churn: a bucket's resolution depends on its own chain
    * alone ([[requireServableBuckets]]). Net: size gc `retainHours`
    * to the LONGEST range-read cadence any consumer runs; lookup
    * consumers of cold keys get whatever their bucket physically
    * retains. @return the floor in force */
  def enableRetention(spark: SparkSession, root: String): Long = {
    import org.apache.hadoop.fs.Path
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    BatchMarkers.readFloor(fs, rootPath).getOrElse {
      val floor = BatchMarkers.read(fs, rootPath).maxCommitted
        .getOrElse(-1L)
      fs.mkdirs(rootPath)
      // a FLOORLESS root's pre-existing seed is crash garbage (the
      // legacy seed-first enable order): every fold since that crash
      // ran UNRETAINED and eagerly reaped history, so the chains the
      // stale seed promises are gone — clear it rather than let "an
      // existing seed wins" carry it into this enable
      BatchMarkers.clearSeeds(fs, rootPath)
      // FLOOR before seed: the floor is what switches folds into
      // retention mode, so a crash between the two writes leaves
      // floor-without-seed — retention ON with lookups falling back
      // to the (conservative) global floor. The reverse order's crash
      // residue is a seed with retention still OFF: folds keep
      // eagerly reaping, and because an existing seed wins on
      // re-enable, the stale (lower) seed would approve bucket-pruned
      // lookups on history those un-retained folds already destroyed
      // — silently wrong as-of results, the one direction the crash
      // contract forbids.
      BatchMarkers.writeFloor(fs, rootPath, floor)
      BatchMarkers.writeSeed(fs, rootPath, floor)
      floor
    }
  }

  /** The retention floor in force, None when the state is not in
    * retention mode. Readers take the max floor file — the floor
    * protocol writes the new floor BEFORE deleting the old one, so
    * every crash window resolves to a sound (possibly conservative)
    * floor. */
  def asofFloor(spark: SparkSession, root: String): Option[Long] = {
    import org.apache.hadoop.fs.Path
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    BatchMarkers.readFloor(fs, rootPath)
  }

  /** Refuse an as-of read the retained history cannot honestly serve:
    * no floor file = retention never enabled (folds reaped history
    * eagerly — nothing to serve); below the floor = the snapshot's
    * versions were reaped by [[reapRetainedVersions]]. Loud, never a
    * silently-wrong partial snapshot. */
  private def requireServable(fs: org.apache.hadoop.fs.FileSystem,
                              root: org.apache.hadoop.fs.Path,
                              asOf: Long): Unit =
    FoldStore.requireFloor(fs, root, asOf, notRetained(root),
      reaped(root, asOf))

  /** The per-bucket gate for point lookups
    * ([[FoldStore.requireBucketFloors]]): a cold key's history
    * outlives the hot buckets' churn. */
  private def requireServableBuckets(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, asOf: Long,
      layer: String, buckets: Set[Int]): Unit =
    FoldStore.requireBucketFloors(fs, root, asOf, layer, buckets,
      notRetained(root), reaped(root, asOf))

  private def notRetained(root: org.apache.hadoop.fs.Path): String =
    s"as-of read under $root: the state is not in retention mode — " +
      "folds reap superseded versions eagerly, so no snapshot " +
      "history exists; enable it (enableRetention / CLI kind " +
      "'retain') BEFORE the folds whose snapshots you need"

  private def reaped(root: org.apache.hadoop.fs.Path,
                     asOf: Long)(floor: Long): String =
    s"as-of read at batch $asOf under $root: retained history " +
      s"starts at floor $floor — earlier snapshots were reaped; " +
      "widen the retention window on the GC cadence"

  /** The view AS OF `asOf`: per bucket, the highest committed version
    * with id <= asOf — exactly the state a reader saw right after
    * batch `asOf` folded (an id above the frontier serves the current
    * state; ids between two folds serve the earlier one — the batch
    * id IS the snapshot axis). Requires retention mode and
    * asOf >= floor ([[requireServable]]); None when nothing committed
    * at or below `asOf` holds data. */
  def readViewAsOf(spark: SparkSession, root: String,
                   asOf: Long): Option[DataFrame] = {
    import org.apache.hadoop.fs.Path
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    requireServable(fs, rootPath, asOf)
    FoldStore.read(spark, fs, rootPath, "agg", None,
      BatchMarkers.read(fs, rootPath), Some(asOf))
  }

  /** The SCD1 base AS OF `asOf` — the [[readViewAsOf]] sibling over
    * the current-image layer: the keyed snapshot of the CDC feed as
    * it stood after that batch. */
  def readBaseAsOf(spark: SparkSession, root: String,
                   asOf: Long): Option[DataFrame] = {
    import org.apache.hadoop.fs.Path
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    requireServable(fs, rootPath, asOf)
    FoldStore.read(spark, fs, rootPath, "base", None,
      BatchMarkers.read(fs, rootPath), Some(asOf))
  }

  /** The CHANGE SET between two snapshots — per-group state at
    * `fromId` vs at `toId`, restricted to groups that actually
    * differ, labeled `added` / `removed` / `changed`. The CDC-view
    * answer to "what moved since the run I shipped?"
    *
    * 100 TB shape: the version chain itself says which buckets
    * changed — exactly those holding a committed version in
    * `(fromId, toId]` — so BOTH snapshot reads prune to the changed
    * buckets and the diff costs O(changed buckets), never two state
    * scans. Groups in untouched buckets are byte-identical by
    * construction; groups in touched buckets that merely rode along
    * are compared and dropped (null-safe on every state column, so a
    * NULL group and NULL min/max extrema diff correctly).
    *
    * Output: group columns, every state column twice (`<col>_from`,
    * `<col>_to`, NULL on the absent side), and `change`. Requires
    * retention mode with `fromId >= floor` ([[requireServable]]);
    * `toId` above the frontier reads the current state (the as-of
    * axis is total). */
  def diffView(spark: SparkSession, root: String,
               fromId: Long, toId: Long,
               /** Some(name) diffs that AUX view instead of the main
                 * one — same change-set semantics on its own group
                 * key and its own (slim) layer's version chain. */
               auxView: Option[String] = None): DataFrame = {
    import org.apache.hadoop.fs.Path
    require(fromId <= toId,
      s"diffView: fromId $fromId must be <= toId $toId")
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    requireServable(fs, rootPath, fromId)
    val pin = graft.sources.PartitionedStore.readPin(fs, rootPath)
      .getOrElse(throw new IllegalStateException(
        s"diffView: no layout pin under $root — not a cdcRollup state"))
    val layout = parseLayout(pin, root)
    val groupCols = auxView match {
      case None => layout.groupCols
      case Some(name) => layout.auxViews.collectFirst {
        case (n, cs) if n == name => cs
      }.getOrElse(throw new IllegalArgumentException(
        s"diffView: no aux view '$name' declared under $root (has: " +
          s"${layout.auxViews.map(_._1).mkString(", ")})"))
    }
    val layer = auxView.map("aux_" + _).getOrElse("agg")
    val k = layout.valueCols.length
    // min/max state: the pin's own set for the main view, the per-aux
    // declaration (if any) for an aux view
    val mmDecl = auxView match {
      case None       => layout.minMaxCols
      case Some(name) => layout.auxMinMax.getOrElse(name, Nil)
    }
    val m = mmDecl.length
    val stateCols = Seq("n") ++ aggNames(k) ++ minNames(m) ++ maxNames(m)
    val markers = BatchMarkers.read(fs, rootPath)
    val changed = FoldStore.changedBuckets(fs, rootPath, layer, markers,
      fromId, toId)
    // the empty diff keeps the full output schema (group types from
    // the pin's typed field)
    val typed = layout.typed
    import org.apache.spark.sql.types.{StructField, StructType}
    def ddl(v: String) = org.apache.spark.sql.types.DataType
      .fromDDL(typed.getOrElse(v, "string"))
    def emptyState = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      StructType(
        groupCols.map(c => StructField(c, ddl(c))) ++
          (StructField("n", org.apache.spark.sql.types.LongType) +:
            aggNames(k).map(t => StructField(t,
              org.apache.spark.sql.types.DecimalType(38, 6)))) ++
          mmDecl.zipWithIndex.flatMap { case (v, i) =>
            Seq(StructField(minNames(m)(i), ddl(v)),
              StructField(maxNames(m)(i), ddl(v)))
          }))
    def side(id: Long) = FoldStore.read(spark, fs, rootPath, layer,
      Some(changed), markers, Some(id)).getOrElse(emptyState)
    // presence rides `n` (never NULL on a live state row)
    FoldStore.labelChanges(side(fromId), side(toId), groupCols, stateCols,
      "n")
  }

  /** The per-KEY change set between two snapshots of the SCD1 base —
    * the row-level symmetric of [[diffView]]: which keyed images were
    * `added` / `removed` / `changed` between batch `fromId` and
    * `toId`. This is the CDC-out face: a downstream system mirroring
    * the base table consumes exactly these rows.
    *
    * Output: pk columns, every non-pk payload column twice
    * (`<col>_from` / `<col>_to`, NULL on the absent side), and
    * `change`. Same retention rules and changed-bucket pruning as
    * [[diffView]] (the base layer's own version chain); cost is
    * O(changed base buckets), never two base scans. */
  def diffBase(spark: SparkSession, root: String,
               fromId: Long, toId: Long): DataFrame = {
    import org.apache.hadoop.fs.Path
    require(fromId <= toId,
      s"diffBase: fromId $fromId must be <= toId $toId")
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    requireServable(fs, rootPath, fromId)
    val pin = graft.sources.PartitionedStore.readPin(fs, rootPath)
      .getOrElse(throw new IllegalStateException(
        s"diffBase: no layout pin under $root — not a cdcRollup state"))
    val layout = parseLayout(pin, root)
    val pkCols = layout.pkCols
    // payload columns in the pin's (sorted) spelling — deterministic
    // output order regardless of parquet file layout
    val payload = layout.typed.keys.toSeq.sorted
    val stateCols = payload.filterNot(pkCols.contains)
    val markers = BatchMarkers.read(fs, rootPath)
    val changed = FoldStore.changedBuckets(fs, rootPath, "base", markers,
      fromId, toId)
    import org.apache.spark.sql.types.{StructField, StructType}
    def emptyState = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      StructType(payload.map(c => StructField(c,
        org.apache.spark.sql.types.DataType.fromDDL(
          layout.typed.getOrElse(c, "string"))))))
    def side(id: Long) =
      FoldStore.read(spark, fs, rootPath, "base", Some(changed),
        markers, Some(id)).getOrElse(emptyState)
        .select(payload.map(col): _*)
    // pk components are never NULL on a live image (folds refuse
    // NULL pks) — presence rides the first pk column
    FoldStore.labelChanges(side(fromId), side(toId), pkCols, stateCols,
      pkCols.head)
  }

  /** [[readViewSince]]'s base-layer sibling: the per-key image
    * changes since the consumer's last pulled frontier — the
    * incremental CDC-out pull a downstream mirror consumes. Same
    * frontier resolution, refusals, and retention rules. */
  def readBaseSince(spark: SparkSession, root: String,
                    afterId: Long): DataFrame =
    readBaseSincePinned(spark, root, afterId)._1

  /** [[readBaseSince]] returning the frontier it pulled to — the
    * value the consumer must record as the next pull's `afterId`.
    * The frontier is resolved ONCE and the diff is pinned to it, so
    * a fold committing concurrently can never slip between "what was
    * pulled" and "what was reported": reporting a frontier ahead of
    * the pulled range would make the consumer skip that fold's
    * changes forever. */
  def readBaseSincePinned(spark: SparkSession, root: String,
                          afterId: Long,
                          /** cap the pull at this id instead of the
                            * root's own frontier — the cross-root
                            * manifest gate ([[FoldManifest]]): every
                            * view of a group pulled at the SAME cap
                            * reads one consistent snapshot. Must not
                            * exceed the root's frontier. */
                          upTo: Option[Long] = None): (DataFrame, Long) = {
    import org.apache.hadoop.fs.Path
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val frontier = FoldStore.pinFrontier("readBaseSince", root,
      BatchMarkers.read(fs, rootPath), afterId, upTo,
      s"readBaseSince: no committed state under $root")
    (diffBase(spark, root, afterId, frontier), frontier)
  }

  /** The incremental CONSUMER PULL — the change set since the
    * consumer's last pulled frontier, the CDC-family symmetric of
    * [[JoinView.readViewDelta]]: "give me what moved since batch
    * `afterId`" without the consumer having to know about retention
    * floors, the current frontier, or [[diffView]]'s two-sided API.
    * Consumers record the frontier they pulled to (returned by
    * [[committedFrontier]], and surfaced in the CLI export report)
    * and pass it back as `afterId` on the next pull.
    *
    * Semantics: exactly `diffView(afterId, frontier)` — per-group
    * `added`/`removed`/`changed` rows with `_from`/`_to` state
    * columns — because a STATE family's delta is a change set, not an
    * append log (the same group may move many times between pulls;
    * the consumer wants the net move). Requires retention mode with
    * `afterId >= floor` (the pull cadence must fit inside the
    * retention window — widen gc retainHours if pulls are rarer than
    * reaps); `afterId` equal to the frontier is a VALID empty pull;
    * `afterId` AHEAD of the frontier refuses loud — a consumer
    * frontier this state never produced means a wrong root or a
    * reset state, and serving an empty pull would silently drop the
    * consumer's backlog forever. Re-pulls of the same range are
    * stable while the floor stays below `afterId` (retained version
    * dirs are immutable).
    *
    * 100 TB shape: inherited from [[diffView]] — both snapshot reads
    * prune to the buckets holding a committed version in
    * `(afterId, frontier]`, so a pull costs O(changed buckets), never
    * a state scan, and an idle state costs nothing. */
  def readViewSince(spark: SparkSession, root: String, afterId: Long,
                    /** Some(name) pulls that AUX view's change set
                      * on its own group key. */
                    auxView: Option[String] = None): DataFrame =
    readViewSincePinned(spark, root, afterId, auxView)._1

  /** [[readViewSince]] returning the frontier it pulled to — the
    * [[readBaseSincePinned]] discipline: ONE frontier resolution pins
    * both the diff range and the reported value, so a concurrently
    * committing fold can never make the report run ahead of the pull
    * (a consumer recording an ahead frontier would permanently skip
    * that fold's changes). */
  def readViewSincePinned(spark: SparkSession, root: String,
                          afterId: Long,
                          auxView: Option[String] = None,
                          /** the cross-root manifest cap — see
                            * [[readBaseSincePinned]]. */
                          upTo: Option[Long] = None)
      : (DataFrame, Long) = {
    import org.apache.hadoop.fs.Path
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val frontier = FoldStore.pinFrontier("readViewSince", root,
      BatchMarkers.read(fs, rootPath), afterId, upTo,
      s"readViewSince: no committed state under $root")
    (diffView(spark, root, afterId, frontier, auxView), frontier)
  }

  /** The committed frontier — the batch id a consumer should record
    * after a [[readViewSince]] pull (None when nothing committed). */
  def committedFrontier(spark: SparkSession, root: String): Option[Long] = {
    import org.apache.hadoop.fs.Path
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    BatchMarkers.read(fs, rootPath).maxCommitted
  }

  // ---- fold-time CDC change log -------------------------------------

  /** Switch a state into CHANGE-LOG mode: from now on every fold ALSO
    * emits its net per-key image changes (old image `_from` vs new
    * image `_to`, labeled `added`/`removed`/`changed`, no-op updates
    * dropped) into an append-only `log/b<batchId>` dir, committed by
    * the SAME batch marker as the state it describes. This is the
    * FORWARD-ONLY consumer face: [[readBaseLog]] serves the
    * [[readBaseSince]] change set from the log alone — no COW
    * retention history, no floor to out-run, so a mirror that only
    * ever pulls forward needs neither `enableRetention` nor a
    * `retainHours` sized to its cadence ([[readBaseSince]] documents
    * that coupling; this is its zero-retention escape hatch).
    *
    * The `_LOG_FROM_<f>` file is both the mode switch and the honesty
    * bound: the log only covers folds AFTER `f` (the committed
    * frontier at enable time), and [[reapChangeLog]] advances it past
    * everything it deletes. Pulls below it refuse loud.
    *
    * 100 TB shape: the fold's extra cost is ONE delta-sized write
    * (this fold's keys only — the fold already holds both images);
    * pulls read ONLY the committed log dirs in range — O(changes in
    * range), never a state scan. Idempotent; an enable on a floorless
    * crash residue simply resumes.
    *
    * SINGLE-WRITER requirement: enable with NO fold in flight. A
    * racing fold reads `logOn=false` at start and commits with no
    * `b<id>` dir — yet its id lands ABOVE the enable-time bound
    * (read as maxCommitted before that fold committed), minting a
    * coverage gap. The gap cannot serve wrong data — [[readBaseLog]]
    * / [[readViewLog]] refuse a range whose committed ids lack their
    * log dirs (netLogRange's coverage check), and fsck names the
    * same shape — but only re-enabling after a consumer re-baseline
    * clears it. @return the log-from bound in force */
  def enableChangeLog(spark: SparkSession, root: String): Long = {
    import org.apache.hadoop.fs.Path
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    BatchMarkers.readLogFrom(fs, rootPath).getOrElse {
      val from = BatchMarkers.read(fs, rootPath).maxCommitted
        .getOrElse(-1L)
      fs.mkdirs(rootPath)
      BatchMarkers.writeLogFrom(fs, rootPath, from)
      from
    }
  }

  /** The change-log coverage bound in force — None when the state is
    * not in change-log mode. */
  def changeLogFrom(spark: SparkSession, root: String): Option[Long] = {
    import org.apache.hadoop.fs.Path
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    BatchMarkers.readLogFrom(fs, rootPath)
  }

  /** The per-key image change set since `afterId`, served from the
    * APPEND-ONLY change log — [[readBaseSince]] semantics (same
    * output schema, same labels, same net-move-per-key rows) without
    * retention mode: the forward-only mirror pull. */
  def readBaseLog(spark: SparkSession, root: String,
                  afterId: Long): DataFrame =
    readBaseLogPinned(spark, root, afterId)._1

  /** [[readBaseLog]] returning the frontier it pulled to — the
    * [[readBaseSincePinned]] discipline (ONE frontier resolution pins
    * both the range and the report).
    *
    * Semantics: the committed `log/b<id>` dirs with
    * `afterId < id <= frontier`, NETTED per key — a key may move many
    * times across the folds in range, and the consumer wants the net
    * move, so the pull composes first `_from` side with last `_to`
    * side and drops self-cancelling moves (add-then-remove,
    * change-then-revert). The result is row-for-row equal to
    * `diffBase(afterId, frontier)` on a retained twin. Re-pulls of
    * the same range are byte-stable (committed log dirs are
    * immutable). Refusals: not in change-log mode
    * (IllegalStateException); `afterId` below the `_LOG_FROM_` bound
    * (those folds were never logged, or their dirs were reaped);
    * `afterId` ahead of the frontier (the [[readBaseSince]] loud-
    * refusal contract — a silent empty pull would drop the backlog).
    *
    * 100 TB shape: reads only the log dirs in range (each
    * delta-sized), then ONE shuffle on the pk over those rows —
    * O(changes in range), independent of state size; an idle state
    * costs nothing. */
  def readBaseLogPinned(spark: SparkSession, root: String,
                        afterId: Long,
                        /** the cross-root manifest cap — see
                          * [[readBaseSincePinned]]. */
                        upTo: Option[Long] = None): (DataFrame, Long) = {
    import org.apache.hadoop.fs.Path
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val logFrom = BatchMarkers.readLogFrom(fs, rootPath).getOrElse(
      throw new IllegalStateException(
        s"readBaseLog under $root: the state is not in change-log " +
          "mode — folds emit no change log; enable it " +
          "(enableChangeLog / CLI kind 'changelog') BEFORE the folds " +
          "whose changes you need"))
    val markers = BatchMarkers.read(fs, rootPath)
    val frontier = FoldStore.pinFrontier("readBaseLog", root, markers, afterId,
      upTo, s"readBaseLog: no committed state under $root",
      logStart = Some(logFrom))
    val pin = graft.sources.PartitionedStore.readPin(fs, rootPath)
      .getOrElse(throw new IllegalStateException(
        s"readBaseLog: no layout pin under $root — not a cdcRollup " +
          "state"))
    val layout = parseLayout(pin, root)
    val pkCols = layout.pkCols
    // the pin's (sorted) payload spelling — deterministic output
    // order, the diffBase discipline
    val payload = layout.typed.keys.toSeq.sorted
    val stateCols = payload.filterNot(pkCols.contains)
    def typeOf(c: String) = org.apache.spark.sql.types.DataType
      .fromDDL(layout.typed.getOrElse(c, "string"))
    (netLogRange(spark, fs, rootPath, "log",
      pkCols.map(c => c -> typeOf(c)),
      stateCols.map(c => c -> typeOf(c)),
      markers, afterId, frontier), frontier)
  }

  /** The per-GROUP view change set since `afterId`, served from the
    * APPEND-ONLY view log — [[readViewSince]] semantics (same output
    * schema, labels, and net-move-per-group rows) WITHOUT retention
    * mode: the forward-only dashboard-cache pull, the group-level
    * sibling of [[readBaseLog]]. `auxView` pulls that aux view's feed
    * from its own `log_aux_<name>` layer. */
  def readViewLog(spark: SparkSession, root: String, afterId: Long,
                  auxView: Option[String] = None): DataFrame =
    readViewLogPinned(spark, root, afterId, auxView)._1

  /** [[readViewLog]] returning the frontier it pulled to — the
    * [[readBaseLogPinned]] discipline, group-keyed: the committed
    * `log_view/b<id>` (or `log_aux_<name>/b<id>`) dirs in range,
    * netted per group (first `_from` side + last `_to` side,
    * self-cancelling moves dropped) — row-for-row equal to
    * `diffView(afterId, frontier)` on a retained twin. */
  def readViewLogPinned(spark: SparkSession, root: String,
                        afterId: Long,
                        auxView: Option[String] = None,
                        /** the cross-root manifest cap — see
                          * [[readBaseSincePinned]]. */
                        upTo: Option[Long] = None): (DataFrame, Long) = {
    import org.apache.hadoop.fs.Path
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val logFrom = BatchMarkers.readLogFrom(fs, rootPath).getOrElse(
      throw new IllegalStateException(
        s"readViewLog under $root: the state is not in change-log " +
          "mode — folds emit no change log; enable it " +
          "(enableChangeLog / CLI kind 'changelog') BEFORE the folds " +
          "whose changes you need"))
    val markers = BatchMarkers.read(fs, rootPath)
    val frontier = FoldStore.pinFrontier("readViewLog", root, markers, afterId,
      upTo, s"readViewLog: no committed state under $root",
      logStart = Some(logFrom))
    val pin = graft.sources.PartitionedStore.readPin(fs, rootPath)
      .getOrElse(throw new IllegalStateException(
        s"readViewLog: no layout pin under $root — not a cdcRollup " +
          "state"))
    val layout = parseLayout(pin, root)
    val (groupCols, mmDecl, layer) = auxView match {
      case None => (layout.groupCols, layout.minMaxCols, "log_view")
      case Some(name) =>
        val cols = layout.auxViews.collectFirst {
          case (n, cs) if n == name => cs
        }.getOrElse(throw new IllegalArgumentException(
          s"readViewLog: no aux view '$name' declared under $root " +
            s"(has: ${layout.auxViews.map(_._1).mkString(", ")})"))
        (cols, layout.auxMinMax.getOrElse(name, Nil), s"log_aux_$name")
    }
    import org.apache.spark.sql.types.{DecimalType, LongType}
    def typeOf(c: String) = org.apache.spark.sql.types.DataType
      .fromDDL(layout.typed.getOrElse(c, "string"))
    val k = layout.valueCols.length
    val m = mmDecl.length
    val states: Seq[(String, org.apache.spark.sql.types.DataType)] =
      (("n", LongType: org.apache.spark.sql.types.DataType) +:
        aggNames(k).map(_ -> (DecimalType(38, 6):
          org.apache.spark.sql.types.DataType))) ++
        mmDecl.zipWithIndex.map { case (v, i) =>
          minNames(m)(i) -> typeOf(v) } ++
        mmDecl.zipWithIndex.map { case (v, i) =>
          maxNames(m)(i) -> typeOf(v) }
    (netLogRange(spark, fs, rootPath, layer,
      groupCols.map(c => c -> typeOf(c)), states,
      markers, afterId, frontier), frontier)
  }

  /** Shared log-range netting — the committed `<layer>/b<id>` dirs in
    * `(afterId, frontier]`, netted per key: first row's `_from` side
    * composed with last row's `_to` side (batch ids order the chain;
    * one log row per key per fold, so min_by/max_by are tie-free),
    * presence riding the per-fold labels, self-cancelling moves
    * dropped (add-then-remove; change-then-revert). One shuffle over
    * the rows in range — O(changes), never a state scan. ONE
    * definition for every change-log family — the bucketed rollup's
    * log pull ([[graft.streaming.EventStreams.readRollupViewLog]])
    * nets through this too, so the semantics cannot diverge. */
  private[graft] def netLogRange(spark: SparkSession,
                          fs: org.apache.hadoop.fs.FileSystem,
                          rootPath: org.apache.hadoop.fs.Path,
                          layer: String,
                          keys: Seq[(String,
                            org.apache.spark.sql.types.DataType)],
                          states: Seq[(String,
                            org.apache.spark.sql.types.DataType)],
                          markers: BatchMarkers.Markers,
                          afterId: Long, frontier: Long): DataFrame = {
    import org.apache.hadoop.fs.Path
    val keyCols = keys.map(_._1)
    val stateCols = states.map(_._1)
    val logDir = new Path(rootPath, layer)
    val inRange = FoldStore.entries(fs, rootPath, Nil, Seq(layer))
      .filter(e => !e.staging && markers.committed(e.id) &&
        e.id > afterId && e.id <= frontier)
    // COVERAGE, not just presence: every committed fold in range MUST
    // have its `b<id>` dir (even an empty fold mkdirs one — the
    // coverage witness). A gap is the one wrong-data shape this layer
    // can take — a fold that committed while log emission was off
    // (enableChangeLog raced an in-flight fold: it read logOn=false
    // at start, yet its id lands above the enable-time bound) or a
    // hand-deleted dir — and netting around it would serve a silently
    // incomplete change set. Refuse loud; fsck names the same shape
    // out-of-band. Only individually-listable markers are checkable
    // (watermark-subsumed ids carry no per-id witness), which covers
    // the race: a fold recent enough to race the enable is never
    // aged into the watermark yet.
    val present = inRange.map(_.id).toSet
    val gaps = markers.ids
      .filter(id => id > afterId && id <= frontier && !present(id))
    if (gaps.nonEmpty) throw new IllegalStateException(
      s"$layer under $rootPath: committed fold(s) " +
        s"${gaps.toSeq.sorted.mkString(", ")} in the pull range " +
        s"($afterId, $frontier] have no log dir — the log does not " +
        "cover the range (change-log mode enabled while a fold was " +
        "in flight? a hand-deleted dir?); re-baseline the consumer " +
        "with a full export. enableChangeLog requires the " +
        "single-writer discipline: no fold in flight at enable time")
    import org.apache.spark.sql.types.{LongType, StringType,
      StructField, StructType}
    val rawSchema = StructType(
      keys.map { case (c, t) => StructField(c, t) } ++
        states.map { case (c, t) => StructField(s"${c}_from", t) } ++
        states.map { case (c, t) => StructField(s"${c}_to", t) } ++
        Seq(StructField("change", StringType),
          StructField("__batch_id", LongType)))
    val raw = ParquetFooter.readHoldingData(spark, fs, inRange.map(_.path))
      .getOrElse(spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        rawSchema))
    val fromStruct = struct((stateCols.map(c => col(s"${c}_from")) :+
      col("change").as("__chg")): _*)
    val toStruct = struct((stateCols.map(c => col(s"${c}_to")) :+
      col("change").as("__chg")): _*)
    val netted = raw.groupBy(keyCols.map(col): _*)
      .agg(min_by(fromStruct, col("__batch_id")).as("__f"),
        max_by(toStruct, col("__batch_id")).as("__t"))
    val inFrom = col("__f").getField("__chg") =!= lit("added")
    val inTo = col("__t").getField("__chg") =!= lit("removed")
    val same = stateCols.map(c =>
      col("__f").getField(s"${c}_from") <=>
        col("__t").getField(s"${c}_to"))
      .reduceOption(_ && _).getOrElse(lit(true))
    netted
      .where((inFrom || inTo) && !(inFrom && inTo && same))
      .select((keyCols.map(col) ++
        stateCols.map(c =>
          col("__f").getField(s"${c}_from").as(s"${c}_from")) ++
        stateCols.map(c =>
          col("__t").getField(s"${c}_to").as(s"${c}_to")) :+
        when(inFrom && !inTo, lit("removed"))
          .when(!inFrom && inTo, lit("added"))
          .otherwise(lit("changed")).as("change")): _*)
  }

  /** Reap committed change-log dirs older than the retention window
    * and ADVANCE `_LOG_FROM_` past everything reaped — the GC face of
    * change-log mode (an append-only log otherwise grows forever);
    * bound before delete, see [[FoldStore.reapLog]].
    * @return (deleted dir paths, the bound now in force) */
  def reapChangeLog(spark: SparkSession, root: String,
                    retainMs: Long): (Seq[String], Long) = {
    import org.apache.hadoop.fs.Path
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val logFrom = BatchMarkers.readLogFrom(fs, rootPath).getOrElse(
      throw new IllegalStateException(
        s"reapChangeLog under $root: the state is not in change-log " +
          "mode — no log accretes, nothing to reap"))
    FoldStore.reapLog(fs, rootPath, presentLogLayers(fs, rootPath),
      BatchMarkers.read(fs, rootPath), retainMs, logFrom)
  }

  /** Reap retained history older than the retention window and
    * ADVANCE THE FLOOR past everything reaped — the GC face of
    * retention mode ([[FoldStore.reapSuperseded]]: a version goes
    * only once its SUPERSEDING version is older than the window, so
    * "retain X hours of snapshots" holds; floor before delete; a
    * bucket's latest committed version is never touched). The
    * advanced GLOBAL floor is the MAX superseding id
    * across every reaped bucket and gates range reads; each reaped
    * bucket also gets a PER-BUCKET floor (its own max superseding
    * id) that gates point lookups — see [[enableRetention]]'s
    * granularity note and [[requireServableBuckets]].
    * @return (deleted version paths, the global floor now in force) */
  def reapRetainedVersions(spark: SparkSession, root: String,
                           retainMs: Long): (Seq[String], Long) = {
    import org.apache.hadoop.fs.Path
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val floor = BatchMarkers.readFloor(fs, rootPath).getOrElse(
      throw new IllegalStateException(
        s"reapRetainedVersions under $root: the state is not in " +
          "retention mode — nothing accretes, nothing to reap " +
          "(cleanOrphanBatchDirs owns crash garbage)"))
    FoldStore.reapSuperseded(fs, rootPath, presentLayers(fs, rootPath),
      BatchMarkers.read(fs, rootPath), retainMs, floor,
      bucketFloors = true)
  }

  /** Bucket-pruned POINT LOOKUP into the SCD1 base — the serving
    * path: reads ONLY the bucket dirs the requested keys hash into
    * (O(touched buckets) IO, never a base scan), then semi-joins the
    * keys. `keys` must carry exactly the pinned pk columns WITH the
    * pinned types — xxhash64 is type-sensitive, so a drifted lookup
    * frame would probe the wrong buckets and silently miss every
    * match; it refuses instead. NULL key components refuse for the
    * same reason the fold refuses them (never matchable). The touched-
    * bucket probe collects ≤ 2 * nBaseBuckets rows from a scanned key
    * frame regardless of how many keys are asked, and one row per key
    * (no job) from a local one ([[FoldStore.bucketPairs]]). `asOf` serves the images as of that batch
    * (retention mode required — [[readBaseAsOf]] semantics, still
    * bucket-pruned). None before the first commit. */
  def lookupBase(spark: SparkSession, root: String,
                 keys: DataFrame,
                 asOf: Option[Long] = None): Option[DataFrame] =
    lookupLayer(spark, root, "lookupBase", keys, asOf,
      "the pinned pk columns", "key column",
      Some("lookupBase: NULL in a pk column — a NULL key can never match"))(
      l => ("base", l.pkCols, l.nBaseBuckets))

  /** Bucket-pruned POINT LOOKUP into the VIEW (agg) layer — the
    * group-keyed sibling of [[lookupBase]]: reads ONLY the agg bucket
    * dirs the requested GROUP keys hash into, then null-safe
    * semi-joins the keys (NULL group values are a real group — GROUP
    * BY folds them into one, and the state row for it must be
    * servable; using-columns semi-join would never match them).
    * `keys` must carry exactly the pinned group columns WITH the
    * pinned types (xxhash64 bucketing, the lookupBase discipline).
    * `asOf` serves the group state as of that batch (retention mode
    * required). None before the first commit. */
  def lookupView(spark: SparkSession, root: String,
                 keys: DataFrame,
                 asOf: Option[Long] = None): Option[DataFrame] =
    lookupLayer(spark, root, "lookupView", keys, asOf,
      "the pinned group columns", "group column", None)(
      l => ("agg", l.groupCols, l.nAggBuckets))

  /** The point lookup behind [[lookupBase]], [[lookupView]] and
    * [[lookupAuxView]] (`fn` in its refusals): `pick` gives the layer,
    * its key columns and bucket count from the layout; `keys` must
    * carry exactly those columns (`colsNoun`) with the pinned types.
    * Reads only the buckets the keys hash into
    * ([[FoldStore.probeBuckets]], refusing NULL keys with
    * `nullRefusal`), gated per bucket when `asOf` is given, then
    * null-safe semi-joins the keys. */
  private def lookupLayer(spark: SparkSession, root: String, fn: String,
                          keys: DataFrame, asOf: Option[Long],
                          colsNoun: String, colNoun: String,
                          nullRefusal: Option[String])(
      pick: Layout => (String, Seq[String], Int)): Option[DataFrame] = {
    import org.apache.hadoop.fs.Path
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val pin = graft.sources.PartitionedStore.readPin(fs, rootPath)
      .getOrElse(throw new IllegalStateException(
        s"$fn: no layout pin under $root — not a cdcRollup state"))
    val layout = parseLayout(pin, root)
    val (layer, cols, nBuckets) = pick(layout)
    require(keys.columns.sorted.toSeq == cols.sorted,
      s"$fn: the key frame must carry exactly $colsNoun " +
        s"(${cols.mkString(", ")}), got " +
        s"(${keys.columns.mkString(", ")}) — project upstream")
    cols.foreach { c =>
      val got = keys.schema(c).dataType.catalogString
      require(layout.typed.get(c).contains(got),
        s"$fn: $colNoun '$c' is $got but the state pinned " +
          s"${layout.typed.getOrElse(c, "?")} — xxhash64 bucketing is " +
          "type-sensitive, a drifted lookup would probe the wrong " +
          "buckets and miss silently; cast to the pinned type")
    }
    val touched = FoldStore.probeBuckets(keys, cols, nBuckets, nullRefusal)
    // per-bucket gate: a cold key's history outlives hot-bucket churn
    // ([[requireServableBuckets]])
    asOf.foreach(requireServableBuckets(fs, rootPath, _, layer, touched))
    FoldStore.read(spark, fs, rootPath, layer, Some(touched),
      BatchMarkers.read(fs, rootPath), asOf)
      .map(st => st.join(keys,
        cols.map(c => st(c) <=> keys(c)).reduce(_ && _), "left_semi"))
  }

  /** Reap ABANDONED batch garbage — the CDC sibling of
    * [[JoinView.cleanOrphanBatchDirs]] and the streaming sink's GC
    * cadence hook. A batch's replay reaps its OWN id's garbage, but an
    * id the scheduler abandons (a checkpoint wipe, CLI misuse) strands
    * forever:
    *
    *  - hidden `base|agg/.staging<id>` dirs (crash before the
    *    promotes);
    *  - uncommitted `bucket=<k>/v<id>` version dirs (crash in the
    *    promote window, before the marker) — invisible to readers but
    *    real storage.
    *
    * Safety: an id at or below the committed frontier can NEVER
    * commit later (batch ids are monotone, enforced by the fold), so
    * its garbage goes regardless of age; above the frontier only AGED
    * dirs go (default 24 h — an in-flight fold's fresh staging
    * survives; single-writer, so anything older cannot be in flight).
    * Committed versions are live state, never touched.
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
    // ids at or below the committed frontier can never commit later
    val below = markers.maxCommitted.getOrElse(Long.MinValue) + 1
    FoldStore.sweep(fs, FoldStore.entries(fs, rootPath,
        presentLayers(fs, rootPath), presentLogLayers(fs, rootPath)))(
      FoldStore.monotoneDead(markers, below,
        System.currentTimeMillis() - olderThanMs))
  }

  /** Collapse AGED committed per-batch markers into ONE
    * `_APPLIED_UPTO_<w>` watermark — year-long streams stay listable
    * without the full state rewrite `compact` costs. Sound for
    * SUBSUMED ids because batch ids are monotone (the fold refuses
    * ids below the committed frontier, so nothing the watermark
    * subsumes can ever commit later); a replay of a subsumed id
    * resolves as committed and stays a quiet no-op.
    *
    * Why the AGE gate (default 24 h, the [[JoinView.foldMarkers]]
    * discipline): the watermark turns "id <= w" into "committed", so
    * it also swallows a NEVER-delivered gap id <= w — the fold's
    * replay short-circuit would answer false before the loud
    * monotonicity guard ever saw it, the exact silent-vanish class
    * that guard exists to refuse. Folding only markers older than
    * `olderThanMs` keeps every id inside its replay window on a
    * per-id marker, so an out-of-order submission there still refuses
    * loud; a gap OLDER than the window is abandoned by the
    * single-writer contract (nothing in flight survives 24 h) and
    * subsuming it is the documented cost of a listable state.
    * Uncommitted garbage at or below the new watermark is swept FIRST
    * — after the fold it would read as committed.
    * @return the watermark written, None when nothing qualifies */
  def foldMarkers(spark: SparkSession, root: String,
                  olderThanMs: Long = 24L * 3600 * 1000): Option[Long] = {
    import org.apache.hadoop.fs.Path
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    FoldStore.foldMarkers(fs, rootPath, olderThanMs)(
      FoldStore.entries(fs, rootPath, presentLayers(fs, rootPath),
        presentLogLayers(fs, rootPath)))
  }

  /** Compact a long-lived state into a FRESH root: the latest
    * committed version of every bucket becomes `v0` of the fresh root
    * (one scan + one write per layer — `grp` rides along on min/max
    * states — no re-aggregation) and the accumulated markers collapse
    * to ONE `_APPLIED_UPTO_<frontier>` watermark carrying the
    * SOURCE's committed frontier. Seeding the frontier (not
    * `_APPLIED_0`) is what keeps the replay protocol intact across
    * the swap: a replay of any pre-compaction id resolves as
    * committed (quiet no-op, exactly as at the old root) and the
    * monotone guard keeps refusing fresh ids below the frontier —
    * with a zeroed marker both would have silently RE-APPLIED.
    * Continue with batch ids above the frontier. Also the re-shard
    * path (new bucket counts). A PINNED-but-uncommitted fresh root (a
    * prior compact's crash — the pin lands before the layers stage)
    * is reset and retried, not refused. @return view rows carried
    * over */
  def compactStateTo(spark: SparkSession, root: String, freshRoot: String,
                     nBaseBuckets: Int = 64, nAggBuckets: Int = 16,
                     /** SCHEMA EVOLUTION (the `Load.withStageColumns`
                       * allowAddColumns discipline at compact time):
                       * NULLABLE payload columns to ADD — each (name,
                       * Spark DDL type) migrates the layout pin and
                       * NULL-fills the existing base images, so a
                       * long-lived state gains a column without a
                       * full re-fold. Payload-only: an existing
                       * column (retype), a pk/group/value/minMax
                       * role, or a state-namespace name refuses —
                       * xxhash64 bucketing and the fold arithmetic
                       * are type-sensitive, and those drifts stay
                       * the loud-refusal class by design. Post-
                       * migration folds must carry the new columns
                       * (NULL upstream where absent). A change-log
                       * state RE-BASELINES its bound at the frontier
                       * (old log rows lack the new columns — mixing
                       * schemas would break pulls); forward-only
                       * consumers take one full base export after
                       * the swap. */
                     addColumns: Seq[(String, String)] = Nil): Long = {
    import org.apache.hadoop.fs.Path
    require(nBaseBuckets >= 1 && nAggBuckets >= 1,
      s"bucket counts must be >= 1, got $nBaseBuckets/$nAggBuckets")
    val rootPath = new Path(root)
    val freshPath = new Path(freshRoot)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val pin = graft.sources.PartitionedStore.readPin(fs, rootPath)
      .getOrElse(throw new IllegalStateException(
        s"compactStateTo: no layout pin under $root — not a cdcRollup state"))
    val parts = pin.split('|')
    val layout = parseLayout(pin, root)
    require(addColumns.map(_._1).distinct.size == addColumns.size,
      s"compactStateTo: addColumns lists a column twice")
    val canonAdds = addColumns.map { case (c, t) =>
      require(c.nonEmpty && t.nonEmpty,
        "compactStateTo: addColumns entries need a name and a type")
      require(!layout.typed.contains(c),
        s"compactStateTo: column '$c' is already declared as " +
          s"${layout.typed(c)} — compaction adds NULLABLE payload " +
          "columns only; retyping or re-adding refuses (xxhash64 " +
          "bucketing and the fold arithmetic are type-sensitive, so " +
          "type drift stays the loud-refusal class)")
      val mmWidest = (layout.minMaxCols.size +:
        layout.auxMinMax.values.map(_.size).toSeq).max
      val stateNames = Set("n") ++ aggNames(layout.valueCols.size) ++
        minNames(mmWidest) ++ maxNames(mmWidest)
      require(!stateNames(c) && !c.startsWith("__"),
        s"compactStateTo: added column '$c' collides with the " +
          "state/staging namespace — rename upstream")
      val dt =
        try org.apache.spark.sql.types.DataType.fromDDL(t)
        catch {
          case _: Exception => throw new IllegalArgumentException(
            s"compactStateTo: added column '$c' has an unparseable " +
              s"type '$t'")
        }
      // canonical spelling — the pin must match what later folds
      // compute from their delta schemas (catalogString)
      (c, dt.catalogString)
    }
    // "already holds a state" means a COMMITTED batch, not a pin: a
    // crash between the fresh pin and the marker leaves a
    // pinned-but-dataless root the retry must reclaim, not refuse on
    require(BatchMarkers.read(fs, freshPath).maxCommitted.isEmpty,
      s"compactStateTo: $freshRoot already holds a state — refusing " +
        "to merge into it (compact to an empty root, then swap)")
    graft.sources.PartitionedStore.readPin(fs, freshPath) match {
      case Some(p) if p.startsWith("cdcRollup|") =>
        // a prior compact's crash remnants — nothing committed, reset
        // (incl. any stray retention floor: the retry re-seeds it)
        for (l <- presentLayers(fs, freshPath))
          fs.delete(new Path(freshPath, l), true)
        fs.delete(new Path(freshPath, "_CONFIG"), true)
        fs.delete(new Path(freshPath, "_CONFIG_WITNESS"), true)
        for (l <- presentLogLayers(fs, freshPath))
          fs.delete(new Path(freshPath, l), true)
        BatchMarkers.clearFloors(fs, freshPath)
        BatchMarkers.clearSeeds(fs, freshPath)
        BatchMarkers.clearLogFrom(fs, freshPath)
      case Some(p) => throw new IllegalStateException(
        s"compactStateTo: $freshRoot carries a non-cdcRollup pin '$p' — " +
          "refusing to overwrite a different state family")
      case None =>
        require(!graft.sources.PartitionedStore
            .hasDataEntries(fs, freshPath),
          s"compactStateTo: $freshRoot is not empty — refusing to " +
            "merge into it (compact to an empty root, then swap)")
    }
    val pkCols = layout.pkCols
    val groupCols = layout.groupCols
    // fresh pin: the source's fields verbatim (incl. the minMax and
    // aux fields when present), the (possibly new) bucket counts —
    // and the MIGRATED typed field when columns are added (sorted by
    // name, the fold's own spelling, so post-migration folds match
    // byte-for-byte)
    def encPin(x: String) = java.net.URLEncoder.encode(x, "UTF-8")
    val typedField =
      if (canonAdds.isEmpty) parts(1)
      else (layout.typed.toSeq ++ canonAdds).sortBy(_._1)
        .map { case (c, t) => encPin(c) + ":" + encPin(t) }
        .mkString(",")
    graft.sources.PartitionedStore.pinLayout(fs, freshPath, freshRoot,
      (Seq("cdcRollup", typedField, parts(2), parts(3), parts(4),
        nBaseBuckets.toString, nAggBuckets.toString) ++
        parts.drop(7)).mkString("|"))
    val baseBucket = pmod(xxhash64(pkCols.map(col): _*), lit(nBaseBuckets))
      .cast("int")
    val aggBucket = pmod(xxhash64(groupCols.map(col): _*), lit(nAggBuckets))
      .cast("int")
    val srcMarkers = BatchMarkers.read(fs, rootPath)
    // aux layers (and their grp_aux image layers, when the aux has
    // min/max) re-shard with the agg bucket count on THEIR OWN group
    // columns (each aux view hashes its own key set)
    val auxBuckets = layout.auxViews.flatMap { case (name, cols) =>
      val bucketOf = pmod(xxhash64(cols.map(col): _*),
        lit(nAggBuckets)).cast("int")
      Seq(s"aux_$name" -> bucketOf) ++
        (if (layout.auxMinMax.contains(name))
          Seq(s"grp_aux_$name" -> bucketOf)
        else Nil)
    }
    for ((layer, bucketOf) <- Seq("base" -> baseBucket,
        "agg" -> aggBucket, "grp" -> aggBucket) ++ auxBuckets)
      FoldStore.read(spark, fs, rootPath, layer, None, srcMarkers).foreach { df0 =>
        // schema evolution: the existing images gain the added
        // columns as typed NULLs (base only — the derived layers
        // never carry payload columns outside group/pk/minMax)
        val df =
          if (layer == "base")
            canonAdds.foldLeft(df0) { case (d, (c, t)) =>
              d.withColumn(c, lit(null).cast(t))
            }
          else df0
        FoldStore.writeVersion(fs, freshPath, layer, 0L,
          df.withColumn("__bucket", bucketOf), "__bucket")
      }
    // a declared layer whose source held NO committed data (every row
    // retracted) still gets its dir: the pin promises the layer, and
    // fsck treats a promised-but-missing layer as a silently-empty
    // ERROR — an empty dir is the honest spelling of an empty view
    for (l <- layout.auxViews.map("aux_" + _._1) ++
        layout.auxMinMax.keys.map("grp_aux_" + _) ++
        (if (layout.minMaxCols.nonEmpty) Seq("grp") else Nil))
      if (!fs.exists(new Path(freshPath, l))) {
        fs.mkdirs(new Path(freshPath, l)); ()
      }
    // retention mode survives the swap but the history does NOT
    // (compaction collapses every bucket to one v0 image) — the
    // fresh floor is the frontier: pre-compaction snapshots refuse
    // loud, post-compaction folds accrete history again. Floor
    // BEFORE the committing foldInto (the JoinView.compactStateTo
    // ordering): a floor on an uncommitted root is harmless (the
    // retry's crash-reset clears it), while the reverse order's
    // crash window would leave a committed root with retention
    // silently OFF — conservative (requireServable refuses) but a
    // dropped property.
    if (BatchMarkers.readFloor(fs, rootPath).isDefined) {
      // seed = floor = frontier: the collapse destroyed every chain,
      // so per-bucket lookups may not reach below it either
      BatchMarkers.writeSeed(fs, freshPath,
        srcMarkers.maxCommitted.getOrElse(0L))
      BatchMarkers.writeFloor(fs, freshPath,
        srcMarkers.maxCommitted.getOrElse(0L))
    }
    // CHANGE-LOG mode survives the swap WITH its history: unlike the
    // COW version chains (collapsed to one v0 image), the log dirs
    // are self-contained per-batch change sets — copying the
    // committed in-coverage ones over keeps every forward-only
    // consumer's pull servable across the compaction (their ids stay
    // committed through the seeded watermark). The bound carries
    // verbatim.
    BatchMarkers.readLogFrom(fs, rootPath).foreach { logFrom =>
      val logDirs = logLayerNames(layout.auxViews.map(_._1))
      logDirs.foreach(l => fs.mkdirs(new Path(freshPath, l)))
      if (canonAdds.nonEmpty) {
        // the old BASE log rows lack the added columns — mixing them
        // with post-migration dirs would break the pull's schema, so
        // the bound RE-BASELINES at the frontier: pulls below it
        // refuse loud and forward-only consumers take one full
        // export. (The view logs carry no payload columns, but one
        // bound governs all layers — re-baseline them together.)
        BatchMarkers.writeLogFrom(fs, freshPath,
          srcMarkers.maxCommitted.getOrElse(0L))
      } else {
        for (ld <- logDirs; e <- FoldStore.entries(fs, rootPath, Nil,
            Seq(ld)) if !e.staging && e.id > logFrom &&
            srcMarkers.committed(e.id))
          org.apache.hadoop.fs.FileUtil.copy(fs, e.path, fs,
            FoldStore.batchDir(freshPath, ld, e.id), false,
            spark.sessionState.newHadoopConf())
        BatchMarkers.writeLogFrom(fs, freshPath, logFrom)
      }
    }
    // the v0 data dirs resolve committed through the watermark
    // (0 <= frontier); a source with nothing committed seeds 0
    BatchMarkers.foldInto(fs, freshPath,
      BatchMarkers.read(fs, freshPath),
      srcMarkers.maxCommitted.getOrElse(0L))
    readView(spark, freshRoot).map(_.count()).getOrElse(0L)
  }

  /** REBUILD a derived layer from the SCD1 base — the `repair` face:
    * `agg`, `grp`, `aux_<name>` and `grp_aux_<name>` are all exact
    * functions of the CURRENT images (the maintained-view invariant
    * the gate oracles pin: agg = GROUP BY over the images, grp =
    * their projection), so a MISSING layer dir — hand-deleted, or a
    * pre-empty-batch-fix startup shape — is reconstructible without
    * refolding history: recompute from the base and write the content
    * as version `v<frontier>` of each bucket (the frontier is already
    * committed, so the rebuilt layer is servable the moment the
    * renames land; no new marker is written — a subsumed duplicate
    * would only add fsck noise).
    *
    * Honesty on RETAINED states: the rebuilt layer's history below
    * the frontier is gone (that is why repair ran), so the rebuild
    * writes per-bucket floors at the frontier on every rebuilt bucket
    * AND advances the global floor to the frontier — below-frontier
    * reads refuse loud instead of silently serving an empty layer.
    * Conservative for the intact layers (their earlier snapshots
    * refuse too), never wrong.
    *
    * Refuses: the base layer itself (the source of truth cannot be
    * derived), an undeclared layer name, and a layer whose dir still
    * holds entries (a present layer is live state — re-shards belong
    * to compact). @return rows written */
  def rebuildDerivedLayer(spark: SparkSession, root: String,
                          layer: String): Long = {
    import org.apache.hadoop.fs.Path
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val pin = graft.sources.PartitionedStore.readPin(fs, rootPath)
      .getOrElse(throw new IllegalStateException(
        s"rebuildDerivedLayer: no layout pin under $root — not a " +
          "cdcRollup state"))
    val layout = parseLayout(pin, root)
    val markers = BatchMarkers.read(fs, rootPath)
    val frontier = markers.maxCommitted.getOrElse(
      throw new IllegalStateException(
        s"rebuildDerivedLayer: nothing committed under $root — " +
          "nothing to rebuild from"))
    require(layer != "base",
      "rebuildDerivedLayer: the base layer is the source of truth — " +
        "it cannot be derived; restore it from the feed or a " +
        "snapshot export")
    val (groupCols, mm, isProjection) = layer match {
      case "agg" => (layout.groupCols, layout.minMaxCols, false)
      case "grp" =>
        require(layout.minMaxCols.nonEmpty,
          s"rebuildDerivedLayer: the pin under $root declares no " +
            "minMax columns — there is no grp layer to rebuild")
        (layout.groupCols, layout.minMaxCols, true)
      case l if l.startsWith("aux_") && !l.startsWith("grp_aux_") =>
        val n = l.stripPrefix("aux_")
        val cols = layout.auxViews.collectFirst {
          case (an, cs) if an == n => cs
        }.getOrElse(throw new IllegalArgumentException(
          s"rebuildDerivedLayer: no aux view '$n' declared under $root"))
        (cols, layout.auxMinMax.getOrElse(n, Nil), false)
      case l if l.startsWith("grp_aux_") =>
        val n = l.stripPrefix("grp_aux_")
        require(layout.auxMinMax.contains(n),
          s"rebuildDerivedLayer: the pin under $root declares no " +
            s"minMax columns for aux view '$n' — there is no " +
            s"grp_aux_$n layer to rebuild")
        (layout.auxViews.collectFirst {
          case (an, cs) if an == n => cs
        }.get, layout.auxMinMax(n), true)
      case other => throw new IllegalArgumentException(
        s"rebuildDerivedLayer: unknown layer '$other' " +
          "(agg | grp | aux_<name> | grp_aux_<name>)")
    }
    val layerDir = new Path(rootPath, layer)
    require(!fs.exists(layerDir) || fs.listStatus(layerDir).isEmpty,
      s"rebuildDerivedLayer: layer '$layer' under $root holds " +
        "entries — a present layer is live state and repair only " +
        "rebuilds MISSING ones; re-shard via compact instead")
    val baseOpt = FoldStore.read(spark, fs, rootPath, "base", None, markers)
    fs.mkdirs(layerDir)
    val retained = BatchMarkers.readFloor(fs, rootPath).isDefined
    val written = baseOpt match {
      case None => 0L
      case Some(base) =>
        val dec = "decimal(38,6)"
        val df =
          if (isProjection)
            base.select((groupCols ++ layout.pkCols ++ mm)
              .distinct.map(col): _*)
          else {
            val aggN = aggNames(layout.valueCols.size)
            val mins = minNames(mm.size)
            val maxs = maxNames(mm.size)
            // n counts IMAGES; an all-NULL measure group stores 0
            // (the fold's coalesce arithmetic), NULL min/max extrema
            // (SQL semantics) — exactly the folded state's bytes
            val sums = count(lit(1)).as("n") +:
              (layout.valueCols.zip(aggN).map { case (v, t) =>
                coalesce(sum(col(v).cast(dec)), lit(0).cast(dec))
                  .cast(dec).as(t)
              } ++ mm.zipWithIndex.flatMap { case (v, i) =>
                Seq(min(col(v)).as(mins(i)), max(col(v)).as(maxs(i)))
              })
            base.groupBy(groupCols.map(col): _*)
              .agg(sums.head, sums.tail: _*)
          }
        val bucketOf = pmod(xxhash64(groupCols.map(col): _*),
          lit(layout.nAggBuckets)).cast("int")
        val cached = df.persist()
        try {
          val n = cached.count()
          val buckets = FoldStore.writeVersion(fs, rootPath, layer, frontier,
            cached.withColumn("__bucket", bucketOf), "__bucket")
          if (retained) buckets.foreach { b =>
            BatchMarkers.writeFloor(fs,
              FoldStore.bucketDir(rootPath, layer, b), frontier)
          }
          n
        } finally { cached.unpersist(); () }
    }
    // the rebuilt layer has no history below the frontier — gate the
    // whole state's range reads there (conservative, loud)
    if (retained) BatchMarkers.writeFloor(fs, rootPath, frontier)
    written
  }

  /** Label the jobs an action spawns (optimization guide §1.5) so the
    * fold's many small jobs are attributable in the UI/listeners;
    * thread-local, restored after the action. */
  private def labeled[T](spark: SparkSession, desc: String)(body: => T): T = {
    // save/restore the PREVIOUS description (not null): nested scopes
    // or an outer caller's label must survive this block
    val prev = spark.sparkContext
      .getLocalProperty("spark.job.description")
    spark.sparkContext.setJobDescription(desc)
    try body finally spark.sparkContext.setJobDescription(prev)
  }

  // ---- layout plumbing ------------------------------------------------

  /** Write each layer's new touched-bucket content as version
    * `v<batchId>` ([[FoldStore.writeVersion]]: staged, promoted,
    * retracted-to-empty buckets covered) and each change log as
    * `<log>/b<batchId>` (None: an empty fold's empty dir), drop the
    * batch's residue from every other layer of `chains` and `logs`,
    * commit the marker LAST, then best-effort drop superseded
    * versions — UNLESS `retain` (as-of retention mode), where
    * superseded versions are the snapshot history and only
    * [[reapRetainedVersions]] may delete them (floor-advancing). */
  private def stageAndCommit(spark: SparkSession,
                             fs: org.apache.hadoop.fs.FileSystem,
                             root: org.apache.hadoop.fs.Path, batchId: Long,
                             layers: Seq[(String, DataFrame, Column,
                               Set[Int])],
                             chains: Seq[String], logs: Seq[String],
                             retain: Boolean = false,
                             /** change-log mode: this fold's change
                               * rows per log layer (base + view +
                               * aux), committed atomically with the
                               * state they describe. */
                             changeLogs: Seq[(String, Option[DataFrame])])
      : Unit = {
    // NOTE (r18, measured): running these independent layer writes
    // from a thread pool (guide §2.6) was tried and REJECTED — at the
    // bench config the concurrent write jobs contend on broadcast
    // construction/codegen and oversubscribe the cores, and
    // cdc_cube_view regressed 7.6 -> 22 s (4 threads) / 9.1 s
    // (2 threads) warm. Serial writes keep the cluster busy per job
    // and stay predictable AT THIS (local-mode) config; on a real
    // cluster with idle tail capacity guide §2.6 still argues for 2-3
    // concurrent write jobs — re-measure there before changing the
    // default. Retro-documented in OPTIMIZATION_r19.md (the r18 round
    // ended before its own account was written).
    for ((layer, df, bucketOf, touched) <- layers)
      labeled(spark, s"cdc-fold b$batchId: write $layer") {
        FoldStore.writeVersion(fs, root, layer, batchId,
          df.withColumn("__bucket", bucketOf), "__bucket", touched)
      }
    changeLogs.foreach { case (layer, logDf) =>
      labeled(spark, s"cdc-fold b$batchId: write $layer") {
        FoldStore.writeBatchDir(fs, root, layer, batchId, logDf)
      }
    }
    FoldStore.dropBatch(fs, root, batchId, chains.diff(layers.map(_._1)),
      logs.diff(changeLogs.map(_._1)))
    BatchMarkers.commit(fs, root, batchId)
    if (!retain) for ((layer, _, _, touched) <- layers)
      FoldStore.dropSuperseded(fs, root, layer, batchId, touched)
  }

}
