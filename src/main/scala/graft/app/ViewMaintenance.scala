package graft.app

import graft.model._
import graft.operators.{JoinView, Load}
import graft.sources.ParquetFooter
import graft.state.FoldStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import scala.concurrent.Await
import scala.concurrent.duration._

/** Runner for the `maintainView` action — the CLI face of the
  * incremental view-maintenance library ([[graft.operators.JoinView]],
  * [[graft.operators.IncrementalAgg]]), the reference's
  * config-in/JSON-status-out idiom (RedshiftApplication.php:47-55)
  * applied to materialized-view upkeep.
  *
  * One invocation = one delta batch folded into persisted state.
  * Exactly-once per `batchId` under at-least-once invocation:
  *
  *  - rollup: delegates to the streaming sink's own bucketed fold
  *    ([[graft.streaming.EventStreams.applyRollupBatchBucketed]]) —
  *    per-bucket staging + `_APPLIED_<batchId>` markers + swap, the
  *    crash-replay machinery its spec pins, O(touched buckets) work.
  *  - join: delegates to [[JoinView.foldBatchDirs]] — the
  *    batch-granular staging + marker protocol around the JoinView
  *    delta algebra (layout documented there; shared with the
  *    `streamingJoinView` sink).
  *
  * Config-level resolution (paths relative to the job data dir,
  * CSV/parquet dispatch, optional per-side CDC netting) lives here;
  * the fold protocols live with their operators.
  */
object ViewMaintenance {

  final case class Report(kind: String, applied: Boolean,
                          /** join/rollup: the folded batch id. */
                          batchId: Option[Long] = None,
                          /** rollup: buckets swapped this call. */
                          buckets: Option[Int] = None,
                          /** compact/export: rows carried/written. */
                          rows: Option[Long] = None,
                          /** export: the dataset written. */
                          output: Option[String] = None,
                          /** status: pre-rendered JSON object. */
                          detail: Option[String] = None)

  def run(spark: SparkSession, cfg: ViewConfig, dataDir: String): Report =
    cfg match {
      case r: RollupViewConfig =>
        val delta = readDelta(spark, r.delta, dataDir)
        val swapped = graft.streaming.EventStreams.applyRollupBatchBucketed(
          delta, resolve(r.statePath, dataDir), r.batchId, r.keys,
          r.valueColumn, r.nBuckets)
        Report(r.kind, applied = swapped.nonEmpty, Some(r.batchId),
          buckets = Some(swapped.size))
      case j: JoinViewConfig =>
        val applied = JoinView.foldBatchDirs(
          resolve(j.statePath, dataDir), j.batchId, j.key,
          readDelta(spark, j.deltaA, dataDir),
          readDelta(spark, j.deltaB, dataDir), j.nBuckets)
        Report(j.kind, applied, Some(j.batchId))
      case cr: CdcRollupViewConfig =>
        val applied = graft.operators.CdcRollup.foldBatch(
          resolve(cr.statePath, dataDir), cr.batchId,
          readDelta(spark, cr.delta, dataDir), cr.keyColumns,
          cr.seqColumn, cr.opColumn, cr.keys, cr.valueColumns,
          cr.nBaseBuckets, cr.nAggBuckets, cr.minMaxColumns,
          cr.auxViews, cr.auxMinMaxColumns)
        Report(cr.kind, applied, Some(cr.batchId))
      case e: ExportViewConfig =>
        val root = resolve(e.statePath, dataDir)
        val out = resolve(e.output, dataDir)
        val rootPath = new org.apache.hadoop.fs.Path(root)
        val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
        val pin = graft.sources.PartitionedStore.readPin(fs, rootPath)
          .getOrElse(throw new UserException(
            s"maintainView export: no layout pin under $root — not a " +
              "view state"))
        // `layer` selects between a cdcRollup state's two layers; on
        // any other family a non-default value would silently export
        // the view while the user believes they asked for something
        // else — refuse NAMED instead
        if (e.layer != "view" && !pin.startsWith("cdcRollup|"))
          throw new UserException(
            s"maintainView export: layer '${e.layer}' is only valid " +
              s"for cdcRollup states; the state under $root is " +
              s"'${pin.takeWhile(_ != '|')}' — drop the layer key")
        // on a cdcRollup state the layer key is a dispatch: an
        // unknown value (a typo like 'agg' or 'grp', or 'aux:' with
        // no name) must refuse as config misuse, never silently fall
        // through to the MAIN view — the parser validates this shape
        // too, but this face also serves programmatic configs
        if (pin.startsWith("cdcRollup|") && e.layer != "view" &&
            e.layer != "base" && e.layer != "log" &&
            !(e.layer.startsWith("aux:") && e.layer.length > 4))
          throw new UserException(
            s"maintainView export: unknown layer '${e.layer}' for a " +
              "cdcRollup state (view | base | log | aux:<name>) — " +
              "refusing rather than silently serving the main view")
        // the log pull is the incremental face only (the parser
        // enforces this too; this face also serves programmatic
        // configs)
        if (e.layer == "log" && e.sinceBatch.isEmpty)
          throw new UserException(
            "maintainView export: layer 'log' is the change-log " +
              "consumer pull — it requires sinceBatch (use layer " +
              "'base' for a full image export)")
        // asOf = snapshot export (cdcRollup retention mode): the bulk
        // face of reproducibility — "write out the view exactly as
        // batch N saw it". Silently exporting the CURRENT state of a
        // family with no history would be the worst failure shape
        // here; refuse NAMED (the layer-key discipline).
        e.asOf.foreach(checkAsof(spark, "export", pin, root, _))
        // sinceBatch = the incremental consumer pull. Join views pull
        // the APPENDED rows (their batch dirs are an append log);
        // cdcRollup states pull the per-group CHANGE SET derived from
        // the retained version chain; plain rollup states pull the
        // per-key finalized-view change set — snapshot-diff in
        // retention mode, the fold-time log in change-log mode (the
        // cdc dispatch, rollup-flavored); in NEITHER mode refuse
        // NAMING both options.
        if (e.sinceBatch.isDefined && !pin.startsWith("join|") &&
            !pin.startsWith("cdcRollup|") &&
            graft.streaming.EventStreams.rollupAsofFloor(spark, root)
              .isEmpty &&
            graft.streaming.EventStreams.rollupChangeLogFrom(spark, root)
              .isEmpty)
          throw new UserException(
            "maintainView export: a sinceBatch pull needs retention " +
              "mode (snapshot-diff pulls; run 'retain') or " +
              "change-log mode (fold-time log pulls; run " +
              s"'changelog') on the rollup state under $root — it " +
              "is in neither")
        // cross-root manifest cap: resolve the GROUP frontier once —
        // every member view pulled with the same manifest reads one
        // consistent snapshot, even while a lagging root recovers
        val manifestCap: Option[Long] = e.manifest.map { m =>
          val mRoot = resolve(m, dataDir)
          val mPath = new org.apache.hadoop.fs.Path(mRoot)
          val mfs = mPath.getFileSystem(
            spark.sessionState.newHadoopConf())
          val mPin = graft.sources.PartitionedStore.readPin(mfs, mPath)
            .getOrElse(throw new UserException(
              s"maintainView export: no layout pin under manifest " +
                s"$mRoot — not a fold manifest"))
          if (!mPin.startsWith("foldManifest|"))
            throw new UserException(
              "maintainView export: the state under " +
                s"$mRoot is '${mPin.takeWhile(_ != '|')}', not a " +
                "fold manifest")
          val members = graft.operators.FoldManifest.roots(spark, mRoot)
          if (!members.contains(root))
            throw new UserException(
              s"maintainView export: $root is not a member of the " +
                "manifest's pinned group (has: " +
                s"${members.mkString(", ")}) — capping at its " +
                "frontier would be meaningless")
          graft.operators.FoldManifest.frontier(spark, mRoot)
            .getOrElse(throw new UserException(
              s"maintainView export: the manifest under $mRoot has " +
                "no group commit yet — nothing is group-consistent " +
                "to pull"))
        }
        // a sinceBatch pull resolves the committed frontier ONCE and
        // pins both the pulled range and the reported batch_id to it
        // — reading the frontier after the pull would let a
        // concurrently committing fold push the report AHEAD of the
        // range actually pulled, and a consumer recording that value
        // as its next sinceBatch would skip the fold's changes
        // forever. `pulledTo` is that single resolution.
        val (df, pulledTo): (DataFrame, Option[Long]) =
          if (pin.startsWith("join|"))
            (e.asOf, e.sinceBatch) match {
              case (_, Some(since)) =>
                val rootFrontier = graft.operators.BatchMarkers
                  .read(fs, rootPath).maxCommitted
                  .getOrElse(throw new UserException(
                    s"maintainView export: no committed state under " +
                      s"$root"))
                manifestCap.filter(_ > rootFrontier).foreach { u =>
                  throw new UserException(
                    s"maintainView export: the manifest frontier $u " +
                      "is AHEAD of this root's committed frontier " +
                      s"$rootFrontier — a group frontier this root " +
                      "never produced (a reset root?); re-baseline")
                }
                val frontier = manifestCap.getOrElse(rootFrontier)
                // ahead of the frontier refuses NAMED (the cdc-pull
                // discipline): a frontier this state never produced
                // means a wrong root or a reset state, and a silent
                // empty pull would drop the consumer's backlog forever
                if (since > frontier) throw new UserException(
                  s"maintainView export: sinceBatch $since is AHEAD " +
                    s"of the committed frontier $frontier under " +
                    s"$root — a frontier this state never produced " +
                    "(wrong root, or a reset state); re-baseline the " +
                    "consumer with a full export")
                val d =
                  try JoinView.readViewDelta(spark, root, since,
                      Some(frontier))
                    .getOrElse(
                      // an empty range is a VALID pull (nothing new) —
                      // export an empty frame with the view's schema
                      JoinView.readCommittedView(spark, root)
                        .getOrElse(throw new UserException(
                          s"maintainView export: no committed state " +
                            s"under $root")).limit(0))
                  catch {
                    case ex: IllegalArgumentException
                        if ex.getMessage.contains("compaction floor") =>
                      throw new UserException(
                        s"maintainView export: ${ex.getMessage}")
                  }
                (d, Some(frontier))
              case (Some(a), _) =>
                (JoinView.readViewAsOf(spark, root, a)
                  .getOrElse(throw new UserException(
                    s"maintainView export: no committed state under " +
                      s"$root as of batch $a")), None)
              case _ =>
                (JoinView.readCommittedView(spark, root)
                  .getOrElse(throw new UserException(
                    s"maintainView export: no committed state under " +
                      s"$root")), None)
            }
          else if (pin.startsWith("cdcRollup|")) {
            // an undeclared aux name is config misuse (exit 1), not
            // an application error — rewrap the library refusal
            def aux(name: String)(f: => Option[DataFrame]) =
              try f catch {
                case ex: IllegalArgumentException =>
                  throw new UserException(
                    s"maintainView export: ${ex.getMessage}")
              }
            // sinceBatch dispatch: RETENTION mode serves pulls as
            // bucket-pruned snapshot diffs; with retention OFF but
            // CHANGE-LOG mode on, the same change set serves from the
            // fold-time logs (identical rows — both equal
            // diff(since, frontier)); in neither mode, refuse NAMING
            // both options. A LOG-layer pull is always the log path.
            val retained =
              graft.operators.CdcRollup.asofFloor(spark, root).isDefined
            if (e.layer != "log") e.sinceBatch.foreach { since =>
              if (retained)
                // the pull cadence must fit the retention window: the
                // same honesty checks as asOf, as config misuse
                checkAsof(spark, "export", pin, root, since,
                  keyName = "sinceBatch")
              else if (graft.operators.CdcRollup
                  .changeLogFrom(spark, root).isEmpty)
                throw new UserException(
                  "maintainView export: a sinceBatch pull needs " +
                    "retention mode (snapshot-diff pulls; run " +
                    "'retain') or change-log mode (fold-time log " +
                    s"pulls; run 'changelog') on the state under " +
                    s"$root — it is in neither")
              // change-log-only: the library's _LOG_FROM_ bound gates
              // the range, rewrapped below as config misuse
            }
            val (read, pulled): (Option[DataFrame], Option[Long]) =
              (e.layer, e.asOf) match {
                case (l, None) if e.sinceBatch.isDefined =>
                  // view/aux layers pull the per-GROUP change set;
                  // the base layer pulls the per-KEY image changes —
                  // the CDC-out feed a downstream mirror consumes.
                  // "ahead of the frontier" / undeclared aux are
                  // config misuse — rewrap the library refusals. The
                  // Pinned variants return the ONE frontier the pull
                  // resolved against — the value reported back
                  val auxName = Some(l).filter(_.startsWith("aux:"))
                    .map(_.stripPrefix("aux:"))
                  try {
                    val (d, frontier) =
                      if (l == "log")
                        graft.operators.CdcRollup.readBaseLogPinned(
                          spark, root, e.sinceBatch.get,
                          upTo = manifestCap)
                      else if (l == "base") {
                        if (retained)
                          graft.operators.CdcRollup.readBaseSincePinned(
                            spark, root, e.sinceBatch.get,
                            upTo = manifestCap)
                        else graft.operators.CdcRollup.readBaseLogPinned(
                          spark, root, e.sinceBatch.get,
                          upTo = manifestCap)
                      } else {
                        if (retained)
                          graft.operators.CdcRollup.readViewSincePinned(
                            spark, root, e.sinceBatch.get, auxName,
                            upTo = manifestCap)
                        else graft.operators.CdcRollup.readViewLogPinned(
                          spark, root, e.sinceBatch.get, auxName,
                          upTo = manifestCap)
                      }
                    (Some(d), Some(frontier))
                  } catch {
                    case ex: IllegalArgumentException =>
                      throw new UserException(
                        s"maintainView export: ${ex.getMessage}")
                    // "not in change-log mode" is config misuse at
                    // this face, not an application error
                    case ex: IllegalStateException
                        if l == "log" &&
                          ex.getMessage.contains("change-log mode") =>
                      throw new UserException(
                        s"maintainView export: ${ex.getMessage}")
                  }
                case ("base", Some(a)) =>
                  (graft.operators.CdcRollup.readBaseAsOf(spark, root, a),
                    None)
                case ("base", None) =>
                  (graft.operators.CdcRollup.readBase(spark, root), None)
                case (l, Some(a)) if l.startsWith("aux:") =>
                  val n = l.stripPrefix("aux:")
                  (aux(n)(graft.operators.CdcRollup
                    .readAuxViewAsOf(spark, root, n, a)), None)
                case (l, None) if l.startsWith("aux:") =>
                  val n = l.stripPrefix("aux:")
                  (aux(n)(graft.operators.CdcRollup
                    .readAuxView(spark, root, n)), None)
                case (_, Some(a)) =>
                  (graft.operators.CdcRollup.readViewAsOf(spark, root, a),
                    None)
                case _ =>
                  (graft.operators.CdcRollup.readView(spark, root), None)
              }
            (read.getOrElse(throw new UserException(
              s"maintainView export: no committed state under $root" +
                e.asOf.map(a => s" as of batch $a").getOrElse(""))),
              pulled)
          } else {
            // rollup pin: nBuckets|keys|valueCol — export the
            // FINALIZED aggregates, the monoid state is an
            // implementation detail
            val parts = pin.split('|')
            if (parts.length != 3) throw new UserException(
              s"maintainView export: unrecognized layout pin '$pin'")
            val keys = parts(1).split(',').toSeq
              .map(java.net.URLDecoder.decode(_, "UTF-8"))
            val statePq = new org.apache.hadoop.fs.Path(root, "state")
            (e.asOf, e.sinceBatch) match {
              case (_, Some(since)) =>
                // RETENTION mode serves the pull as a bucket-pruned
                // snapshot diff; with retention OFF but CHANGE-LOG
                // mode on, the identical change set serves from the
                // fold-time log (both equal diff(since, frontier) —
                // the cdc dispatch, rollup-flavored). The library
                // range refusals are config misuse at this face.
                val retained = graft.streaming.EventStreams
                  .rollupAsofFloor(spark, root).isDefined
                if (retained)
                  // the pull cadence must fit the retention window —
                  // the same honesty checks as asOf
                  checkAsof(spark, "export", pin, root, since,
                    keyName = "sinceBatch")
                try {
                  val (d, frontier) =
                    if (retained)
                      graft.streaming.EventStreams
                        .readRollupViewSincePinned(spark, root, since,
                          upTo = manifestCap)
                    else graft.streaming.EventStreams
                      .readRollupViewLogPinned(spark, root, since,
                        upTo = manifestCap)
                  (d, Some(frontier))
                } catch {
                  case ex: IllegalArgumentException =>
                    throw new UserException(
                      s"maintainView export: ${ex.getMessage}")
                }
              case (Some(a), _) =>
                // the retention-mode + floor gates already ran in
                // checkAsof above (as config misuse)
                (graft.streaming.EventStreams
                  .readRollupViewAsOf(spark, root, a)
                  .getOrElse(throw new UserException(
                    s"maintainView export: no committed state under " +
                      s"$root as of batch $a")), None)
              case _ =>
                if (!fs.exists(statePq)) throw new UserException(
                  s"maintainView export: no committed state under $root")
                (graft.operators.IncrementalAgg.finalizeState(
                  ParquetFooter.read(spark, fs, Seq(statePq)).drop("bucket"),
                  keys), None)
            }
          }
        // `pulledTo` (a sinceBatch pull's resolved frontier) rides the
        // report as batch_id — the value the consumer records and
        // passes back as the next pull's sinceBatch
        Report(e.kind, applied = true, batchId = pulledTo,
          rows = Some(writeCounted(df, out)), output = Some(out))
      case st: StatusViewConfig =>
        val root = resolve(st.statePath, dataDir)
        Report(st.kind, applied = false,
          detail = Some(statusJson(spark, root, st.countRows)))
      case d: DiffViewConfig =>
        val root = resolve(d.statePath, dataDir)
        val out = resolve(d.output, dataDir)
        val rootPath = new org.apache.hadoop.fs.Path(root)
        val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
        val pin = graft.sources.PartitionedStore.readPin(fs, rootPath)
          .getOrElse(throw new UserException(
            s"maintainView diff: no layout pin under $root — not a " +
              "view state"))
        // diff is the per-group/per-key change set over a retained
        // version chain — cdcRollup states (layer-addressed) and
        // plain rollup states (finalized view, COW history) serve it;
        // join views have no group state to diff — refuse NAMED
        if (pin.startsWith("join|"))
          throw new UserException(
            "maintainView diff: the change set is defined on " +
              s"cdcRollup and rollup states; the state under $root " +
              s"is '${pin.takeWhile(_ != '|')}'")
        // unknown layer values refuse as config misuse, never fall
        // through to the main view (the export-face discipline; the
        // parser validates too, this face also serves programmatic
        // configs)
        if (d.layer != "view" && d.layer != "base" &&
            !(d.layer.startsWith("aux:") && d.layer.length > 4))
          throw new UserException(
            s"maintainView diff: unknown layer '${d.layer}' for a " +
              "cdcRollup state (view | base | aux:<name>) — refusing " +
              "rather than silently diffing the main view")
        // rollup states have ONE face — the finalized view; a layer
        // address names a cdcRollup concept, refuse rather than
        // silently serving the view
        if (!pin.startsWith("cdcRollup|") && d.layer != "view")
          throw new UserException(
            s"maintainView diff: layer '${d.layer}' names a " +
              "cdcRollup layer; a rollup state diffs its finalized " +
              "view only (layer 'view')")
        // the same CLI-face honesty checks as asOf lookup/export
        checkAsof(spark, "diff", pin, root, d.fromBatch)
        val auxName = Some(d.layer).filter(_.startsWith("aux:"))
          .map(_.stripPrefix("aux:"))
        val df = try {
          if (!pin.startsWith("cdcRollup|"))
            graft.streaming.EventStreams.diffRollupView(
              spark, root, d.fromBatch, d.toBatch)
          else if (d.layer == "base")
            graft.operators.CdcRollup.diffBase(
              spark, root, d.fromBatch, d.toBatch)
          else graft.operators.CdcRollup.diffView(
            spark, root, d.fromBatch, d.toBatch, auxName)
        }
        catch {
          // an undeclared aux name is config misuse, exit 1
          case ex: IllegalArgumentException
              if auxName.isDefined &&
                ex.getMessage.contains("no aux view") =>
            throw new UserException(s"maintainView diff: ${ex.getMessage}")
        }
        Report(d.kind, applied = true, rows = Some(writeCounted(df, out)),
          output = Some(out))
      case f: FsckViewConfig =>
        val root = resolve(f.statePath, dataDir)
        Report(f.kind, applied = false,
          detail = Some(ViewFsck.fsckJson(spark, root)))
      case rp: RepairViewConfig =>
        val root = resolve(rp.statePath, dataDir)
        Report(rp.kind, applied = rp.apply,
          detail = Some(ViewRepair.repairJson(spark, root, rp.apply)))
      case mf: ManifestViewConfig =>
        // lagging roots / drifted root sets / out-of-order ids are
        // operational conditions at this face — exit 1 with the
        // library's named message, retry after re-running the folds
        val root = resolve(mf.statePath, dataDir)
        val roots = mf.roots.map(resolve(_, dataDir))
        val applied =
          try graft.operators.FoldManifest.commit(
            spark, root, mf.batchId, roots)
          catch {
            case ex @ (_: IllegalStateException |
                _: IllegalArgumentException) =>
              throw new UserException(
                s"maintainView manifest: ${ex.getMessage}")
          }
        Report(mf.kind, applied, Some(mf.batchId))
      case rt: RetainViewConfig =>
        val root = resolve(rt.statePath, dataDir)
        val rootPath = new org.apache.hadoop.fs.Path(root)
        val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
        val pin = graft.sources.PartitionedStore.readPin(fs, rootPath)
          .getOrElse(throw new UserException(
            s"maintainView retain: no layout pin under $root — not a " +
              "view state (retention must be enabled on an EXISTING " +
              "cdcRollup state; fold batch 0 first)"))
        if (pin.startsWith("join|"))
          throw new UserException(
            "maintainView retain: join views serve any committed " +
              "prefix for free (append-only batch dirs) — there is " +
              "no retention mode to enable; drop the kind")
        if (pin.startsWith("cdcRollup|")) {
          val already =
            graft.operators.CdcRollup.asofFloor(spark, root).isDefined
          val floor = graft.operators.CdcRollup.enableRetention(spark, root)
          Report(rt.kind, applied = !already,
            detail = Some(s"""{"asof_floor":$floor}"""))
        } else {
          // plain bucketed rollup: COW history via
          // [[graft.streaming.EventStreams.enableRollupRetention]] —
          // the pre-guard refusal (state rows, no _LAST_BATCH) is
          // config misuse at this face
          val already = graft.streaming.EventStreams
            .rollupAsofFloor(spark, root).isDefined
          val floor =
            try graft.streaming.EventStreams
              .enableRollupRetention(spark, root)
            catch {
              case ex: IllegalArgumentException =>
                throw new UserException(
                  s"maintainView retain: ${ex.getMessage}")
            }
          Report(rt.kind, applied = !already,
            detail = Some(s"""{"asof_floor":$floor}"""))
        }
      case cl: ChangeLogViewConfig =>
        val root = resolve(cl.statePath, dataDir)
        val rootPath = new org.apache.hadoop.fs.Path(root)
        val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
        val pin = graft.sources.PartitionedStore.readPin(fs, rootPath)
          .getOrElse(throw new UserException(
            s"maintainView changelog: no layout pin under $root — " +
              "not a view state (change-log mode must be enabled on " +
              "an EXISTING cdcRollup or rollup state; fold batch 0 " +
              "first)"))
        if (pin.startsWith("join|") || pin.startsWith("foldManifest|"))
          throw new UserException(
            "maintainView changelog: the fold-time change log " +
              s"applies to cdcRollup and rollup states; the state " +
              s"under $root is '${pin.takeWhile(_ != '|')}'")
        if (pin.startsWith("cdcRollup|")) {
          val already = graft.operators.CdcRollup
            .changeLogFrom(spark, root).isDefined
          val from = graft.operators.CdcRollup.enableChangeLog(spark, root)
          Report(cl.kind, applied = !already,
            detail = Some(s"""{"log_from":$from}"""))
        } else {
          // plain bucketed rollup: per-key finalized-view log —
          // [[graft.streaming.EventStreams.enableRollupChangeLog]]
          // (a re-enable also advances past a raced-enable gap)
          val before = graft.streaming.EventStreams
            .rollupChangeLogFrom(spark, root)
          val from = graft.streaming.EventStreams
            .enableRollupChangeLog(spark, root)
          Report(cl.kind, applied = !before.contains(from),
            detail = Some(s"""{"log_from":$from}"""))
        }
      case lk: LookupViewConfig =>
        runLookup(spark, lk, dataDir)
      case g: GcViewConfig =>
        val root = resolve(g.statePath, dataDir)
        val rootPath = new org.apache.hadoop.fs.Path(root)
        val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
        val pin = graft.sources.PartitionedStore.readPin(fs, rootPath)
          .getOrElse(throw new UserException(
            s"maintainView gc: no layout pin under $root — not a " +
              "view state"))
        val ms = g.olderThanHours.map(_ * 3600L * 1000)
          .getOrElse(24L * 3600 * 1000)
        // retainHours = reap retained as-of history (floor-advancing)
        // — cdcRollup retention mode only; on any other target the
        // user believes history is being bounded when none accretes,
        // so refuse NAMED (the foldMarkers discipline below)
        if (g.retainHours.isDefined) {
          if (pin.startsWith("join|")) throw new UserException(
            "maintainView gc: retainHours applies to cdcRollup and " +
              s"rollup states in retention mode; the state under " +
              s"$root is 'join' — drop the key")
          val inRetention =
            if (pin.startsWith("cdcRollup|"))
              graft.operators.CdcRollup.asofFloor(spark, root).isDefined
            else graft.streaming.EventStreams
              .rollupAsofFloor(spark, root).isDefined
          if (!inRetention)
            throw new UserException(
              s"maintainView gc: the state under $root is not in " +
                "retention mode — no snapshot history accretes; drop " +
                "retainHours or run the 'retain' kind first")
        }
        // logRetainHours = reap change-log history (bound-advancing)
        // — change-log mode only, the retainHours discipline
        if (g.logRetainHours.isDefined) {
          if (pin.startsWith("join|") || pin.startsWith("foldManifest|"))
            throw new UserException(
              "maintainView gc: logRetainHours applies to cdcRollup " +
                s"and rollup states in change-log mode; the state " +
                s"under $root is '${pin.takeWhile(_ != '|')}' — drop " +
                "the key")
          val inLogMode =
            if (pin.startsWith("cdcRollup|"))
              graft.operators.CdcRollup.changeLogFrom(spark, root)
                .isDefined
            else graft.streaming.EventStreams
              .rollupChangeLogFrom(spark, root).isDefined
          if (!inLogMode)
            throw new UserException(
              s"maintainView gc: the state under $root is not in " +
                "change-log mode — no log accretes; drop " +
                "logRetainHours or run the 'changelog' kind first")
        }
        val (deleted, watermark) =
          if (pin.startsWith("join|"))
            (JoinView.cleanOrphanBatchDirs(spark, root, ms),
              if (g.foldMarkers) JoinView.foldMarkers(spark, root, ms)
              else None)
          else if (pin.startsWith("cdcRollup|"))
            (graft.operators.CdcRollup.cleanOrphanBatchDirs(spark, root, ms),
              if (g.foldMarkers)
                graft.operators.CdcRollup.foldMarkers(spark, root, ms)
              else None)
          else if (pin.startsWith("foldManifest|"))
            // a manifest holds only marker files — foldMarkers is its
            // one gc face
            (Nil,
              if (g.foldMarkers)
                graft.operators.FoldManifest.foldMarkers(spark, root, ms)
              else None)
          else {
            // rollup: stranded state__stage_* shells plus (in
            // retention mode) abandoned history staging/version dirs;
            // per-bucket swap markers never accrete, but the ROOT
            // history markers do once retention is on — foldMarkers
            // folds those, and keeps refusing on a non-retained
            // state (nothing accretes there)
            val retained0 = graft.streaming.EventStreams
              .rollupAsofFloor(spark, root).isDefined ||
              graft.streaming.EventStreams
                .rollupChangeLogFrom(spark, root).isDefined
            if (g.foldMarkers && !retained0) throw new UserException(
              "maintainView gc: foldMarkers does not apply to a " +
                "plain rollup state in neither retention nor " +
                "change-log mode — its per-bucket markers are part " +
                "of the swap protocol and never accrete; root " +
                "markers only accrete in those modes")
            (graft.operators.Maintenance.cleanTableOrphanStages(
              spark, s"$root/state", ms) ++
              graft.streaming.EventStreams.cleanRollupHistoryOrphans(
                spark, root, ms),
              if (g.foldMarkers)
                graft.streaming.EventStreams.foldRollupMarkers(
                  spark, root, ms)
              else None)
          }
        val retained = g.retainHours.map { h =>
          if (pin.startsWith("cdcRollup|"))
            graft.operators.CdcRollup.reapRetainedVersions(
              spark, root, h * 3600L * 1000)
          else graft.streaming.EventStreams.reapRollupHistory(
            spark, root, h * 3600L * 1000)
        }
        val logReaped = g.logRetainHours.map { h =>
          if (pin.startsWith("cdcRollup|"))
            graft.operators.CdcRollup.reapChangeLog(
              spark, root, h * 3600L * 1000)
          else graft.streaming.EventStreams.reapRollupChangeLog(
            spark, root, h * 3600L * 1000)
        }
        val reaped = retained.map(_._1.size).getOrElse(0) +
          logReaped.map(_._1.size).getOrElse(0)
        Report(g.kind,
          applied = deleted.nonEmpty || watermark.nonEmpty || reaped > 0,
          rows = Some((deleted.size + reaped).toLong),
          detail = Some(s"""{"deleted":${deleted.size},"watermark":""" +
            watermark.map(_.toString).getOrElse("null") +
            retained.map { case (d, f) =>
              s""","retain_deleted":${d.size},"asof_floor":$f"""
            }.getOrElse("") +
            logReaped.map { case (d, f) =>
              s""","log_deleted":${d.size},"log_from":$f"""
            }.getOrElse("") + "}"))
      case c: CompactViewConfig =>
        // kind auto-detected from the state's own layout pin — one
        // config shape for both view families; a path that is not a
        // pinned view state refuses loud (no pin, no guess)
        val root = resolve(c.statePath, dataDir)
        val fresh = resolve(c.freshPath, dataDir)
        val rootPath = new org.apache.hadoop.fs.Path(root)
        val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
        val pin = graft.sources.PartitionedStore.readPin(fs, rootPath)
          .getOrElse(throw new UserException(
            s"maintainView compact: no layout pin under $root — not a " +
              "view state"))
        // the non-cdc families carry ONE layout; a silently ignored
        // nAggBuckets would let the user believe the agg layer
        // re-sharded — refuse NAMED (the export `layer` discipline)
        if (c.nAggBuckets.isDefined && !pin.startsWith("cdcRollup|"))
          throw new UserException(
            "maintainView compact: nAggBuckets is only valid for " +
              s"cdcRollup states; the state under $root is " +
              s"'${pin.takeWhile(_ != '|')}' — use nBuckets")
        // schema evolution rides the typed pins: cdcRollup payload
        // columns, or join-view side columns (side-qualified names —
        // 'a.<col>' / 'b.<col>', the view keeps both sides' columns
        // so the side must be explicit). Plain rollup states carry no
        // typed payload pin — refuse NAMED.
        if (c.addColumns.nonEmpty && !pin.startsWith("cdcRollup|") &&
            !pin.startsWith("join|"))
          throw new UserException(
            "maintainView compact: addColumns is only valid for " +
              s"cdcRollup and join states; the state under $root is " +
              s"'${pin.takeWhile(_ != '|')}' — drop the key")
        val rows =
          if (pin.startsWith("join|")) {
            // split the side-qualified adds; an unqualified name is
            // config misuse (which side would it land on?)
            val (qa, qb) = (Seq.newBuilder[(String, String)],
              Seq.newBuilder[(String, String)])
            c.addColumns.foreach { case (n, t) =>
              if (n.startsWith("a.") && n.length > 2)
                qa += ((n.stripPrefix("a."), t))
              else if (n.startsWith("b.") && n.length > 2)
                qb += ((n.stripPrefix("b."), t))
              else throw new UserException(
                s"maintainView compact: addColumns name '$n' on a " +
                  "join state needs a side qualifier — 'a.<col>' or " +
                  "'b.<col>' (the view keeps both sides' columns, so " +
                  "the side must be explicit)")
            }
            // retype / collision / key / legacy-pin refusals are
            // config misuse at this face — rewrap to exit 1
            try JoinView.compactStateTo(spark, root, fresh,
              c.nBuckets.getOrElse(pin.split('|').last.toIntOption
                .getOrElse(64)),
              addColumnsA = qa.result(), addColumnsB = qb.result())
            catch {
              case ex: IllegalArgumentException
                  if c.addColumns.nonEmpty &&
                    (ex.getMessage.contains("addColumns") ||
                      ex.getMessage.contains("added column") ||
                      ex.getMessage.contains("already declared") ||
                      ex.getMessage.contains("join key") ||
                      ex.getMessage.contains("names-only")) =>
                throw new UserException(
                  s"maintainView compact: ${ex.getMessage}")
            }
          }
          else if (pin.startsWith("cdcRollup|")) {
            // nBuckets (when given) re-shards BOTH layers; nAggBuckets
            // overrides the agg/grp side alone — the knob that keeps
            // the deliberate base/agg asymmetry (keys >> groups)
            // reshardable; absent, the source counts carry over
            val parts = pin.split('|')
            // addColumns refusals (retype / namespace collision) are
            // config misuse at this face — rewrap to exit 1
            try graft.operators.CdcRollup.compactStateTo(spark, root,
              fresh,
              c.nBuckets.orElse(parts(5).toIntOption).getOrElse(64),
              c.nAggBuckets.orElse(c.nBuckets)
                .orElse(parts(6).toIntOption).getOrElse(16),
              addColumns = c.addColumns)
            catch {
              case ex: IllegalArgumentException
                  if c.addColumns.nonEmpty &&
                    (ex.getMessage.contains("addColumns") ||
                      ex.getMessage.contains("added column") ||
                      ex.getMessage.contains("already declared")) =>
                throw new UserException(
                  s"maintainView compact: ${ex.getMessage}")
            }
          } else
            graft.streaming.EventStreams.compactRollupStateTo(
              spark, root, fresh, c.nBuckets)
        Report(c.kind, applied = true, rows = Some(rows))
    }

  /** CLI-face validation of an as-of request — the same honesty
    * rules the library paths enforce, but as a [[UserException]]
    * (exit 1): a bad asOf key is config misuse, not an application
    * error. Family semantics differ: join states serve any committed
    * prefix for free (append-only batch dirs) and only a compaction
    * floor gates them; cdcRollup states must be in retention mode
    * (their folds reap history eagerly otherwise) AND above their
    * reap floor; rollup states keep no history at all. */
  private def checkAsof(spark: SparkSession, what: String, pin: String,
                        root: String, asOf: Long,
                        /** the config key being validated — "asOf",
                          * or "sinceBatch" for the incremental pull
                          * (same history rules, right name in the
                          * refusal). */
                        keyName: String = "asOf",
                        /** false = check retention-mode PRESENCE
                          * only; the cdc `lookup` kind gates depth
                          * per-bucket in the library (a cold key may
                          * serve below the global floor), so the CLI
                          * must not pre-refuse on it. */
                        globalFloorGate: Boolean = true): Unit = {
    if (pin.startsWith("join|")) {
      val rootPath = new org.apache.hadoop.fs.Path(root)
      val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
      graft.operators.BatchMarkers.readFloor(fs, rootPath)
        .filter(asOf < _).foreach { floor =>
          throw new UserException(
            s"maintainView $what: $keyName $asOf is below this " +
              s"root's compaction floor $floor — compaction merged " +
              "earlier history into one batch dir; read older " +
              "snapshots from the pre-compaction root")
        }
    } else if (pin.startsWith("cdcRollup|")) {
      val floor = graft.operators.CdcRollup.asofFloor(spark, root)
        .getOrElse(throw new UserException(
          s"maintainView $what: the state under $root is not in " +
            "retention mode — no snapshot history exists; run the " +
            "'retain' kind BEFORE the folds whose snapshots you need"))
      if (globalFloorGate && asOf < floor)
        throw new UserException(
          s"maintainView $what: $keyName $asOf is below the " +
            s"retention floor $floor — that snapshot's versions were " +
            "reaped; widen gc retainHours")
    } else {
      // plain bucketed rollup: history exists only in retention mode
      // (the cdcRollup rules, rollup-flavored — COW history versions
      // accrete per fold once 'retain' ran)
      val floor = graft.streaming.EventStreams.rollupAsofFloor(spark, root)
        .getOrElse(throw new UserException(
          s"maintainView $what: the state under $root is not in " +
            "retention mode — no snapshot history exists; run the " +
            "'retain' kind BEFORE the folds whose snapshots you need"))
      if (asOf < floor)
        throw new UserException(
          s"maintainView $what: $keyName $asOf is below the " +
            s"retention floor $floor — that snapshot's versions were " +
            "never retained or were reaped; widen gc retainHours")
    }
  }

  /** The `lookup` kind — pin-dispatched bucket-pruned point lookup,
    * the CLI face of the serving paths ([[JoinView.lookupView]],
    * [[graft.operators.CdcRollup.lookupBase]]/`lookupView`,
    * [[graft.streaming.EventStreams.lookupRollupState]]). Key
    * literals arrive as strings and are CAST to the state's OWN
    * column types before probing — xxhash64 bucketing is
    * type-sensitive, and an uncast literal would hash into the wrong
    * buckets (the library paths refuse on the typed pin; the cast is
    * what makes CLI literals meet it). Matching rows ride the status
    * JSON; `maxRows` refuses oversized results (export is the bulk
    * face). */
  private def runLookup(spark: SparkSession, lk: LookupViewConfig,
                        dataDir: String): Report = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{DataType, StructField, StructType,
      StringType}
    val root = resolve(lk.statePath, dataDir)
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val pin = graft.sources.PartitionedStore.readPin(fs, rootPath)
      .getOrElse(throw new UserException(
        s"maintainView lookup: no layout pin under $root — not a " +
          "view state"))
    if (lk.layer.isDefined && !pin.startsWith("cdcRollup|"))
      throw new UserException(
        s"maintainView lookup: layer '${lk.layer.get}' is only valid " +
          s"for cdcRollup states; the state under $root is " +
          s"'${pin.takeWhile(_ != '|')}' — drop the layer key")
    // unknown layer values refuse as config misuse, never fall
    // through to the main view (the export-face discipline)
    lk.layer.filter(l => l != "view" && l != "base" &&
        !(l.startsWith("aux:") && l.length > 4)).foreach { l =>
      throw new UserException(
        s"maintainView lookup: unknown layer '$l' for a cdcRollup " +
          "state (view | base | aux:<name>) — refusing rather than " +
          "silently probing the main view")
    }
    lk.asOf.foreach(checkAsof(spark, "lookup", pin, root, _,
      globalFloorGate = !pin.startsWith("cdcRollup|")))
    // the cdc lookups gate depth PER-BUCKET in the library (a cold
    // key's history outlives hot-bucket churn); their refusals are
    // config misuse at this face — rewrap to exit 1
    def gated[A](f: => A): A =
      try f catch {
        case ex: IllegalArgumentException
            if lk.asOf.isDefined && (ex.getMessage.contains("floor") ||
              ex.getMessage.contains("retained chain")) =>
          throw new UserException(s"maintainView lookup: ${ex.getMessage}")
      }
    def noState = throw new UserException(
      s"maintainView lookup: no committed state under $root")
    def typedKeys(schema: StructType): DataFrame = {
      val cols = lk.keys.head.keys.toSeq.sorted
      val missing = cols.filterNot(c => schema.fieldNames.contains(c))
      if (missing.nonEmpty) throw new UserException(
        s"maintainView lookup: key column(s) ${missing.mkString(", ")} " +
          s"not in the state (has: " +
          s"${schema.fieldNames.sorted.mkString(", ")})")
      val raw = spark.createDataFrame(
        java.util.Arrays.asList(lk.keys.map(m =>
          org.apache.spark.sql.Row.fromSeq(cols.map(m(_)))): _*),
        StructType(cols.map(c => StructField(c, StringType))))
      raw.select(cols.map(c => col(c).cast(schema(c).dataType).as(c)): _*)
    }
    val (layerName, result) =
      if (pin.startsWith("join|")) {
        val view = JoinView.readCommittedView(spark, root)
          .getOrElse(noState)
        ("view", JoinView.lookupView(spark, root,
          typedKeys(view.schema), lk.asOf))
      } else if (pin.startsWith("cdcRollup|")) {
        // key TYPES come from the layout pin — identical at every
        // retained snapshot (the pin refuses type drift), so an as-of
        // probe types its keys the same way
        val layout = graft.operators.CdcRollup.parseLayout(pin, root)
        val pinned = StructType(layout.typed.toSeq.sorted.map {
          case (c, t) => StructField(c, DataType.fromDDL(t))
        })
        // nothing in the probed buckets: a layer holding no rows at
        // all is no committed state
        def orNoState(found: Option[DataFrame])(
            layer: => Option[DataFrame]): Option[DataFrame] =
          found.orElse { if (layer.isEmpty) noState; None }
        lk.layer.getOrElse("base") match {
          case "base" =>
            ("base", orNoState(gated(graft.operators.CdcRollup.lookupBase(
              spark, root, typedKeys(pinned), lk.asOf)))(
              graft.operators.CdcRollup.readBase(spark, root)))
          case l if l.startsWith("aux:") =>
            val name = l.stripPrefix("aux:")
            // undeclared name = config misuse, exit 1
            try graft.operators.CdcRollup.requireAuxDeclared(layout, root,
              name)
            catch {
              case ex: IllegalArgumentException =>
                throw new UserException(
                  s"maintainView lookup: ${ex.getMessage}")
            }
            (l, orNoState(gated(graft.operators.CdcRollup.lookupAuxView(
              spark, root, name, typedKeys(pinned), lk.asOf)))(
              graft.operators.CdcRollup.readAuxView(spark, root, name)))
          case _ =>
            ("view", orNoState(gated(graft.operators.CdcRollup.lookupView(
              spark, root, typedKeys(pinned), lk.asOf)))(
              graft.operators.CdcRollup.readView(spark, root)))
        }
      } else {
        // rollup pin: nBuckets|keys|valueCol — key types come from the
        // state's own parquet footer (the pin is names-only)
        val statePq = new org.apache.hadoop.fs.Path(root, "state")
        if (!fs.exists(statePq)) noState
        ("view", graft.streaming.EventStreams.lookupRollupStateWith(spark,
          root, typedKeys, lk.asOf))
      }
    val json = result.map(_.toJSON.take(lk.maxRows + 1))
      .getOrElse(Array.empty[String])
    if (json.length > lk.maxRows) throw new UserException(
      s"maintainView lookup: more than ${lk.maxRows} matching rows — " +
        "a lookup is the point-read face; raise maxRows or export " +
        "the state instead")
    Report(lk.kind, applied = false, rows = Some(json.length.toLong),
      detail = Some(
        s"""{"layer":"$layerName","matches":[${json.mkString(",")}]}"""))
  }

  /** The maintained join view as a DataFrame — committed batches only
    * ([[JoinView.readCommittedView]]); an empty state is a user-facing
    * error here (exit 1), not a silent empty frame. */
  def readJoinView(spark: SparkSession, statePath: String,
                   dataDir: String): DataFrame = {
    val root = resolve(statePath, dataDir)
    JoinView.readCommittedView(spark, root).getOrElse(
      throw new UserException(s"maintainView: no committed state under $root"))
  }

  /** The `status` kind's JSON payload — pure listings plus (at most)
    * ONE view count, family-dispatched on the state's own layout pin
    * (the compact/export discipline). Reported per family: committed
    * batch ids (count/max + watermark), per-layer dir counts, ORPHAN
    * CANDIDATES (staging dirs + uncommitted batch/version dirs — what
    * `cleanOrphanBatchDirs` would consider; reported, never deleted),
    * and the view row count — UNLESS `countRows` is off: on a huge
    * view that one count is a full state scan, and a marker/orphan
    * health probe shouldn't pay it (`view_rows` reports null, and no
    * Spark job runs at all — pure listings). */
  private def statusJson(spark: SparkSession, root: String,
                         countRows: Boolean = true): String = {
    import org.apache.hadoop.fs.Path
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val pin = graft.sources.PartitionedStore.readPin(fs, rootPath)
      .getOrElse(throw new UserException(
        s"maintainView status: no layout pin under $root — not a " +
          "view state"))
    val markers = graft.operators.BatchMarkers.read(fs, rootPath)
    def ls(p: Path): Seq[org.apache.hadoop.fs.FileStatus] =
      if (fs.exists(p)) fs.listStatus(p).toSeq else Nil
    def chainJson(sh: FoldStore.Shape): String =
      s"""{"buckets":${sh.buckets},"committed_versions":""" +
        s"""${sh.committed},"orphan_candidates":${sh.orphans}}"""
    def opt(n: String, v: Option[Long]): String =
      v.map(x => s""""$n":$x""").getOrElse(s""""$n":null""")
    val batches = s""""batches":{"committed":${markers.count},""" +
      opt("max", markers.maxCommitted) + "," +
      opt("watermark", markers.watermark) + "}"
    val (family, layersJson, rows) =
      if (pin.startsWith("join|")) {
        val layers = Seq("a", "b", "view").map { side =>
          val dirs = ls(new Path(rootPath, side)).filter(_.isDirectory)
          val committed = dirs.count(st => FoldStore
            .idOf("d", st.getPath.getName).exists(markers.committed))
          val orphans = dirs.length - committed
          s""""$side":{"batch_dirs":$committed,"orphan_candidates":$orphans}"""
        }.mkString(",")
        ("join", layers,
          if (!countRows) None
          else Some(JoinView.readCommittedView(spark, root)
            .map(_.count()).getOrElse(0L)))
      } else if (pin.startsWith("cdcRollup|")) {
        // `grp` exists only on minMax states, `aux_<name>` layers
        // only on multi-view states — report what is present
        val cdcLayers = Seq("base", "agg") ++
          (if (fs.exists(new Path(rootPath, "grp"))) Seq("grp") else Nil) ++
          ls(rootPath).filter(_.isDirectory).map(_.getPath.getName)
            .filter(n => n.startsWith("aux_") ||
              n.startsWith("grp_aux_")).sorted
        // the change-log layers report their own shape (append-only
        // b<id> dirs, no buckets): committed dirs vs orphan candidates
        val logJson = ls(rootPath).filter(_.isDirectory)
          .map(_.getPath.getName)
          .filter(n => n == "log" || n == "log_view" ||
            n.startsWith("log_aux_")).sorted
          .map { ld =>
            val sh = FoldStore.shape(fs, rootPath, ld, markers, flat = true)
            s""""$ld":{"batch_dirs":${sh.committed},""" +
              s""""orphan_candidates":${sh.orphans}},"""
          }.mkString
        val layers = cdcLayers.map(l =>
          s""""$l":""" + chainJson(FoldStore.shape(fs, rootPath, l, markers)))
          .mkString(",")
        ("cdcRollup", logJson + layers,
          if (!countRows) None
          else Some(graft.operators.CdcRollup.readView(spark, root)
            .map(_.count()).getOrElse(0L)))
      } else if (pin.startsWith("foldManifest|")) {
        // per-root frontier by each root's own family evidence; a
        // root AHEAD of the group is the crash-between-roots residue
        // (consumers stay consistent at the group frontier until the
        // orchestrator's replay closes the gap)
        val members = graft.operators.FoldManifest.roots(spark, root)
        val group = markers.maxCommitted
        val layers = members.map { r =>
          val rp = new Path(r)
          val rfs = rp.getFileSystem(spark.sessionState.newHadoopConf())
          val f: Option[Long] =
            graft.sources.PartitionedStore.readPin(rfs, rp) match {
              case Some(x) if x.startsWith("join|") ||
                  x.startsWith("cdcRollup|") =>
                graft.operators.BatchMarkers.read(rfs, rp).maxCommitted
              case Some(_) =>
                graft.streaming.EventStreams.readLastBatch(rfs, rp)
              case None => None
            }
          s"""${graft.JsonUtil.str(r)}:{""" + opt("frontier", f) +
            s""","ahead_of_group":${f.exists(x => group.forall(_ < x))}}"""
        }.mkString(",")
        ("foldManifest", layers, None)
      } else {
        // rollup pin: nBuckets|keys|valueCol — per-bucket markers
        // live INSIDE the state swap; the root carries _LAST_BATCH
        val statePq = new Path(rootPath, "state")
        val buckets = ls(statePq)
          .count(_.getPath.getName.startsWith("bucket="))
        val stranded = ls(rootPath).count(
          _.getPath.getName.matches("state__stage_[0-9a-f]{8}"))
        val last = graft.streaming.EventStreams.readLastBatch(fs, rootPath)
        // retention mode: report the history layer's shape too
        // (committed versions vs orphan candidates, the cdc spelling)
        val histDir = new Path(rootPath, "history")
        val histJson =
          if (!fs.exists(histDir)) ""
          else ""","history":""" +
            chainJson(FoldStore.shape(fs, rootPath, "history", markers))
        val layers = s""""state":{"buckets":$buckets,""" +
          opt("last_batch", last) + "," +
          s""""orphan_candidates":$stranded}""" + histJson
        ("rollup", layers,
          if (!countRows) None
          else Some(if (fs.exists(statePq))
            ParquetFooter.read(spark, fs, Seq(statePq)).count()
          else 0L))
      }
    // as-of floor: cdcRollup = retention mode (null = off); join =
    // compaction collapse point (null = never compacted, everything
    // servable); absent on rollup (no history at all)
    val floorJson =
        // rollup: retention mode (null = off) — same axis as cdc
        opt("asof_floor", graft.operators.BatchMarkers.readFloor(
          fs, rootPath)) + "," +
          // the retention seed (cdc only): where history hard-starts
          // for EVERY bucket; point lookups may serve back to it on
          // buckets the reaps never touched (null = pre-seed state
          // or join family)
          (if (pin.startsWith("cdcRollup|"))
            opt("asof_seed", graft.operators.BatchMarkers.readSeed(
              fs, rootPath)) + "," +
              // the change-log coverage bound (null = mode off)
              opt("log_from", graft.operators.BatchMarkers.readLogFrom(
                fs, rootPath)) + ","
          else "")
    s"""{"family":"$family","pin":${graft.JsonUtil.str(pin)},""" +
      s"""$batches,"layers":{$layersJson},$floorJson""" +
      opt("view_rows", rows) + "}"
  }

  private def readDelta(spark: SparkSession, d: DeltaInput,
                        dataDir: String): DataFrame = {
    val path = resolve(d.input, dataDir)
    val raw = d.format match {
      case "csv" =>
        // CSV deltas fold with DECLARED types, never inferred or
        // all-string (SURVEY §1): an untyped delta would feed
        // lexicographic min/max into the rollup monoid and
        // type-drifted xxhash64 keys into the join-view bucket
        // layout. The parser enforces items[] for csv; this guard
        // covers programmatic construction too.
        if (d.items.isEmpty) throw new UserException(
          s"View delta '${d.input}': format 'csv' requires declared " +
            "items[] — CSV is untyped and the engine never infers")
        val tc = TableConfig(tableId = d.input, dbName = d.input,
          items = d.items)
        // the P5 order check the main ingest path runs (Engine): CSV
        // columns map to the declaration POSITIONALLY (header
        // skipped), so a delta whose header order drifts from items[]
        // would silently mis-map same-typed columns — two swapped
        // bigint columns pass the strict cast and fold wrong values
        // into persisted state. Validate the header, loud.
        ConfigParser.checkColumns(
          graft.sources.CsvIngest.headerColumns(spark, path), tc)
        // strict ingest: a value that fails its declared cast aborts
        // the fold with "Column 'x', line N: …" — a maintained view
        // has no quarantine sink, so bad data must never fold silently
        graft.sources.CsvIngest.castAndProjectStrict(
          graft.sources.CsvIngest.read(spark, path, tc), tc)
      case _ =>
        val p = new org.apache.hadoop.fs.Path(path)
        ParquetFooter.read(spark,
          p.getFileSystem(spark.sessionState.newHadoopConf()), Seq(p))
    }
    d.cdc match {
      case Some(c) =>
        c.keyColumns.foreach { k =>
          if (!raw.columns.contains(k)) throw new UserException(
            s"cdc.keyColumns: '$k' not in ${d.input}")
        }
        Load.cdcNetEffect(raw, c.keyColumns, c.seqColumn, c.opColumn)
      case None => raw
    }
  }

  /** Write `df` to `out` as parquet and return its row count, observed
    * on that one write: no persist, no count job. A failed write
    * throws before the observation is read. The observation arrives
    * through the listener bus, which drops events when its queue is
    * full: past 10 s the written output is counted instead. */
  private[graft] def writeCounted(df: DataFrame, out: String): Long = {
    val rows = org.apache.spark.sql.Observation()
    df.observe(rows, count(lit(1)).as("rows"))
      .write.mode("overwrite").parquet(out)
    try Await.result(rows.future, 10.seconds).getLong(0)
    catch {
      case _: java.util.concurrent.TimeoutException =>
        val p = new org.apache.hadoop.fs.Path(out)
        ParquetFooter.read(df.sparkSession,
          p.getFileSystem(df.sparkSession.sessionState.newHadoopConf()),
          Seq(p)).count()
    }
  }

  private def resolve(path: String, dataDir: String): String =
    if (path.startsWith("/") || path.contains("://")) path
    else s"$dataDir/$path"
}
