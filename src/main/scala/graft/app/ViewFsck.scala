package graft.app

import graft.model.UserException
import graft.state.FoldStore
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The `fsck` maintainView kind: a DEEP state-integrity check over a
  * persisted view state — the diagnosis face `status` (a health
  * summary) and `gc` (a sweep) both lean on but neither provides.
  * Pure listings, ZERO Spark jobs: safe to run beside a live writer
  * at any state size.
  *
  * Severity model:
  *
  *  - **error** — the state LIES about itself or could serve wrong
  *    data: a bucket dir outside the pinned bucket count (a re-shard
  *    or copy that drifted from the pin — xxhash64 probes would miss
  *    its rows silently), a `grp` layer contradicting the pin's
  *    minMax field, a retention floor above the committed frontier,
  *    per-bucket rollup evidence newer than the `_LAST_BATCH`
  *    frontier (the monotone guard would wave through a replay of an
  *    id the state already folded). fsck reports `ok: false`.
  *  - **warning** — harmless crash remnants the protocols already
  *    tolerate and `gc` sweeps: stranded staging shells, uncommitted
  *    versions below the frontier, subsumed per-id markers, duplicate
  *    watermark/floor files (readers take the max), superseded
  *    versions lingering on a non-retained state (the best-effort
  *    reap missed them).
  *
  * fsck NEVER mutates the state — it is the read-only audit; `gc` is
  * the write face for everything fsck only reports. Every
  * error-severity finding carries a `fix` runbook hint — the manual
  * step that repairs it (errors are by definition outside what `gc`
  * may safely sweep, so the remediation is a human decision; the
  * hint makes it an informed one).
  */
object ViewFsck {

  /** One finding; `fix` is the runbook hint (required on errors). */
  private final case class Issue(error: Boolean, what: String,
                                 fix: String = "")

  /** The fsck JSON payload for the state under `root` — family is
    * pin-dispatched like every other kind; a pinless path refuses. */
  def fsckJson(spark: SparkSession, root: String): String = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val pin = graft.sources.PartitionedStore.readPin(fs, rootPath)
      .getOrElse(throw new UserException(
        s"maintainView fsck: no layout pin under $root — not a view state"))
    val issues = Seq.newBuilder[Issue]
    var checks = 0
    def check(errorWhen: Boolean, error: Boolean, what: String,
              fix: String = ""): Unit = {
      checks += 1
      // every error must ship its runbook hint — a contract on this
      // file's own call sites, not on user input
      if (error) assert(fix.nonEmpty, s"fsck error without a fix: $what")
      if (errorWhen) issues += Issue(error, what, fix)
    }
    def ls(p: Path) = if (fs.exists(p)) fs.listStatus(p).toSeq else Nil

    // witness hygiene (every family): a `_CONFIG_WITNESS` differing
    // from a healthy live pin is the crash residue of pinLayout's
    // commit-then-witness window — harmless (the next fold refreshes
    // it; repair only consults the witness when the PIN is lost), but
    // worth naming because the witness is the pin's restore path
    graft.sources.PartitionedStore.readWitness(fs, rootPath)
      .foreach { w =>
        check(w != pin, error = false,
          "stale _CONFIG_WITNESS (differs from the live pin) — a " +
            "crash between the pin commit and the witness refresh; " +
            "the next fold rewrites it")
      }

    val family =
      if (pin.startsWith("join|")) {
        fsckMarkers(fs, rootPath, issues, () => { checks += 1 })
        // layers hold d<id> batch dirs; anything else is a stray
        val markers = graft.operators.BatchMarkers.read(fs, rootPath)
        // compaction floor hygiene (same rules as the cdc floor)
        val jFloors = graft.operators.BatchMarkers
          .readFloorAll(fs, rootPath)
        check(jFloors.size > 1, error = false,
          s"join: ${jFloors.size} compaction floor files — a crashed " +
            "floor advance; readers take the max")
        jFloors.maxOption.foreach { f =>
          check(f > markers.maxCommitted.getOrElse(-1L), error = true,
            s"join: compaction floor $f is above the committed " +
              s"frontier ${markers.maxCommitted.getOrElse(-1L)} — " +
              "as-of reads would refuse prefixes that were never " +
              "collapsed (a floor file copied from another state?)",
            fix = "verify this root was never compacted (every d<id> " +
              "dir present and committed); if so, delete the " +
              s"_ASOF_FLOOR_$f file — it cannot belong to this state")
        }
        val committedIds = scala.collection.mutable.Map[String,
          Set[Long]]().withDefaultValue(Set.empty)
        for (layer <- Seq("a", "b", "view")) {
          val dirs = ls(new Path(rootPath, layer)).filter(_.isDirectory)
          dirs.foreach { st =>
            val n = st.getPath.getName
            val id = FoldStore.idOf("d", n)
            check(id.isEmpty, error = false,
              s"join/$layer: unrecognized entry '$n' (not a d<id> " +
                "batch dir) — not served, not swept; remove by hand")
            id.foreach { i =>
              check(!markers.committed(i) &&
                  markers.watermark.exists(i <= _), error = false,
                s"join/$layer/d$i: uncommitted batch dir below the " +
                  "watermark — abandoned garbage, gc sweeps it")
              if (markers.committed(i))
                committedIds(layer) = committedIds(layer) + i
            }
          }
        }
        // cross-layer completeness: a committed fold writes ALL THREE
        // d<id> dirs before its marker, so a hole is external loss —
        // reads silently drop those rows (the state LIES about
        // itself). The view layer is derived (repair rebuilds one
        // hole from the sides' join invariant); the sides are the
        // source of truth. The id universe is seeded from the per-id
        // markers TOO, not just on-disk dirs: a committed batch whose
        // a/, b/ AND view/ dirs are ALL lost (external triple loss —
        // a mis-scoped cleanup) leaves the `_APPLIED_<id>` marker as
        // the only listable evidence, and a dirs-only derivation
        // would report CLEAN while every read silently drops the
        // batch's rows. Watermark-subsumed ids stay best-effort
        // (subsumption deletes their markers; on a compacted root
        // the collapsed history below the floor is covered by d0) —
        // the same bound the change-log coverage audit accepts.
        val allIds = committedIds("a") ++ committedIds("b") ++
          committedIds("view") ++ markers.ids
        allIds.toSeq.sorted.foreach { i =>
          for (side <- Seq("a", "b"))
            check(!committedIds(side).contains(i), error = true,
              s"join/$side/d$i: committed batch dir MISSING — the " +
                "sides are the source of truth and cannot be " +
                "derived; reads silently drop the batch's rows",
              fix = "restore the dir from the upstream feed or a " +
                "pre-compaction root; do not fold further batches " +
                "until then (their snapshot joins read the hole)")
          check(!committedIds("view").contains(i), error = true,
            s"join/view/d$i: committed batch dir MISSING — view " +
              "reads and delta pulls silently drop its rows",
            fix = "run repair — with both sides complete and exactly " +
              "one view hole it rebuilds the dir from the invariant " +
              "view-total = a JOIN b (multiset difference against " +
              "the surviving dirs)")
        }
        "join"
      } else if (pin.startsWith("cdcRollup|")) {
        fsckMarkers(fs, rootPath, issues, () => { checks += 1 })
        val layoutOpt =
          try Some(graft.operators.CdcRollup.parseLayout(pin, root))
          catch { case _: IllegalArgumentException => None }
        check(layoutOpt.isEmpty, error = true,
          s"cdcRollup: malformed layout pin '$pin' — folds and " +
            "lookups will refuse",
          fix = "restore the _CONFIG pin from the writer's declared " +
            "layout (pk/group/value columns, bucket counts, minMax, " +
            "aux views) — the writer's fold call or view config is " +
            "the source of truth; do NOT guess bucket counts")
        val nBase = layoutOpt.map(_.nBaseBuckets).getOrElse(1)
        val nAgg = layoutOpt.map(_.nAggBuckets).getOrElse(1)
        val declaredAux = layoutOpt.toSeq.flatMap(_.auxViews)
          .map(_._1).toSet
        val markers = graft.operators.BatchMarkers.read(fs, rootPath)
        val frontier = markers.maxCommitted
        // grp layer must exist exactly when the pin declares minMax
        // (and something has committed — a pre-first-fold state holds
        // no layers at all)
        val hasGrp = fs.exists(new Path(rootPath, "grp"))
        check(hasGrp && layoutOpt.exists(_.minMaxCols.isEmpty),
          error = true,
          "cdcRollup: a grp layer exists but the pin declares no " +
            "minMax columns — min/max folds would silently serve " +
            "from a layer no fold maintains",
          fix = "if the state never had minMax columns, delete the " +
            "grp/ dir (stray copy); if minMax was dropped from the " +
            "pin by hand, restore the pin instead — never serve " +
            "min/max from an unmaintained layer")
        check(!hasGrp && layoutOpt.exists(_.minMaxCols.nonEmpty) &&
            frontier.isDefined,
          error = true,
          "cdcRollup: the pin declares minMax columns but the grp " +
            "image layer is missing — the next min/max recompute " +
            "would read nothing and store NULL extrema",
          fix = "compact into a fresh root (compactStateTo rebuilds " +
            "grp/ from the base images); do not fold more batches " +
            "until then — their extrema would persist wrong")
        // aux layers must match the pin's declaration both ways
        val presentAux = ls(rootPath).filter(_.isDirectory)
          .map(_.getPath.getName).filter(_.startsWith("aux_"))
          .map(_.stripPrefix("aux_")).toSet
        (presentAux -- declaredAux).toSeq.sorted.foreach { n =>
          check(errorWhen = true, error = true,
            s"cdcRollup: aux layer 'aux_$n' exists but the pin " +
              "declares no such view — no fold maintains it, so it " +
              "serves STALE data",
            fix = s"delete the aux_$n/ dir if the view was retired; " +
              "to keep it maintained, re-declare it in every fold's " +
              "auxViews and re-pin via compact into a fresh root")
        }
        (declaredAux -- presentAux).toSeq.sorted.foreach { n =>
          check(frontier.isDefined, error = true,
            s"cdcRollup: the pin declares aux view '$n' but layer " +
              s"'aux_$n' is missing — reads would come up silently " +
              "empty",
            fix = "compact into a fresh root (compactStateTo " +
              "recreates every declared layer dir); if the layer was " +
              "deleted by hand with data, the aux view must be " +
              "rebuilt — re-fold from the earliest retained batch " +
              "or drop the view from the pin via compact")
        }
        // grp_aux image layers must match the pin's per-aux minMax
        // declaration both ways (the grp-layer rules, per aux)
        val declaredGrpAux = layoutOpt.toSeq
          .flatMap(_.auxMinMax.keys).toSet
        val presentGrpAux = ls(rootPath).filter(_.isDirectory)
          .map(_.getPath.getName).filter(_.startsWith("grp_aux_"))
          .map(_.stripPrefix("grp_aux_")).toSet
        (presentGrpAux -- declaredGrpAux).toSeq.sorted.foreach { n =>
          check(errorWhen = true, error = true,
            s"cdcRollup: image layer 'grp_aux_$n' exists but the pin " +
              s"declares no minMax columns for aux view '$n' — no " +
              "fold maintains it",
            fix = s"delete the grp_aux_$n/ dir if the aux's minMax " +
              "was retired; to keep exact extrema, declare the aux " +
              "in auxMinMaxCols and re-pin via compact")
        }
        (declaredGrpAux -- presentGrpAux).toSeq.sorted.foreach { n =>
          check(frontier.isDefined, error = true,
            s"cdcRollup: the pin declares minMax columns for aux " +
              s"view '$n' but image layer 'grp_aux_$n' is missing — " +
              "the next min/max recompute would read nothing and " +
              "store NULL extrema",
            fix = "compact into a fresh root (compactStateTo " +
              "rebuilds grp_aux layers from the base images); do " +
              "not fold more batches until then")
        }
        for ((layer, n) <- Seq("base" -> nBase, "agg" -> nAgg,
            "grp" -> nAgg) ++
            presentAux.toSeq.sorted.map(n => s"aux_$n" -> nAgg) ++
            presentGrpAux.toSeq.sorted.map(n => s"grp_aux_$n" -> nAgg)) {
          ls(new Path(rootPath, layer)).filter(_.isDirectory)
            .foreach { st =>
              val name = st.getPath.getName
              if (name.startsWith("bucket=")) {
                val b = name.stripPrefix("bucket=").toIntOption
                check(b.isEmpty || b.exists(x => x < 0 || x >= n),
                  error = true,
                  s"cdcRollup/$layer/$name: bucket id outside the " +
                    s"pinned count $n — rows in it are INVISIBLE to " +
                    "every bucket-pruned probe (a copy or re-shard " +
                    "drifted from the pin)",
                  fix = "compact into a fresh root with the bucket " +
                    "count you intend (compactStateTo re-buckets " +
                    "every row); if this root was hand-assembled " +
                    "from two states, stop — their histories cannot " +
                    "be merged by file copy")
                val versions = fs.listStatus(st.getPath).toSeq
                  .filter(_.isDirectory)
                  .flatMap { v =>
                    val vn = v.getPath.getName
                    val id = FoldStore.versionId(vn)
                    if (id.isDefined) id
                    else {
                      check(errorWhen = true, error = false,
                        s"cdcRollup/$layer/$name/$vn: unrecognized " +
                          "entry (not a v<id> version dir)")
                      None
                    }
                  }
                versions.foreach { id =>
                  check(!markers.committed(id) &&
                      frontier.exists(id <= _), error = false,
                    s"cdcRollup/$layer/$name/v$id: uncommitted " +
                      "version below the frontier — abandoned " +
                      "garbage, gc sweeps it")
                }
                val committed = versions.filter(markers.committed)
                check(versions.nonEmpty && committed.isEmpty,
                  error = false,
                  s"cdcRollup/$layer/$name: no committed version at " +
                    "all — every entry is crash garbage, gc sweeps " +
                    "the bucket empty")
                check(committed.size > 1 &&
                    graft.operators.CdcRollup
                      .asofFloor(spark, root).isEmpty, error = false,
                  s"cdcRollup/$layer/$name: ${committed.size} " +
                    "committed versions on a non-retained state — a " +
                    "crashed best-effort reap left supersedees; the " +
                    "next fold touching the bucket (or compact) " +
                    "clears them")
              } else FoldStore.stagingId(name) match {
                case Some(id) =>
                  check(markers.committed(id) || frontier.exists(id <= _),
                    error = false,
                    s"cdcRollup/$layer/$name: staging shell that can " +
                      "never promote (committed or below the frontier) " +
                      "— gc sweeps it")
                case None =>
                  check(errorWhen = true, error = false,
                    s"cdcRollup/$layer/$name: unrecognized entry")
              }
            }
        }
        // retention invariants: at most one floor; floor <= frontier
        val floors = graft.operators.BatchMarkers
          .readFloorAll(fs, rootPath)
        check(floors.size > 1, error = false,
          s"cdcRollup: ${floors.size} retention floor files — a " +
            "crashed floor advance; readers take the max, the next " +
            "reap clears the rest")
        // the retention seed (where history hard-starts) can never
        // exceed the advanced floor — a seed above it would promise
        // bucket-pruned lookups chains the eager pre-retention reaps
        // already destroyed
        graft.operators.BatchMarkers.readSeed(fs, rootPath)
          .foreach { seed =>
            // a seed WITHOUT a floor is retention half-enabled — the
            // residue of a legacy enableRetention crash (seed written
            // first): folds run UNRETAINED and keep eagerly reaping
            // history, yet a later 'retain' keeps this stale seed
            // ("an existing seed wins") and would then approve
            // bucket-pruned as-of lookups on version chains those
            // un-retained folds already destroyed — silently wrong
            // results, the one crash direction the contract forbids
            check(floors.isEmpty, error = true,
              s"cdcRollup: retention seed $seed exists but no " +
                "retention floor — retention is HALF-ENABLED (an " +
                "enableRetention crash): folds keep reaping history, " +
                "and a later 'retain' would inherit this stale seed " +
                "and approve as-of lookups on destroyed chains",
              fix = "delete the _ASOF_SEED_ file, then re-run " +
                "'retain' if retention is wanted — a re-enable must " +
                "never inherit a seed older than its floor")
            check(floors.maxOption.exists(seed > _), error = true,
              s"cdcRollup: retention seed $seed is above the floor " +
                s"${floors.maxOption.getOrElse(-1L)} — the seed is " +
                "written at enable time and never advances, so it " +
                "cannot legitimately exceed the floor (a seed file " +
                "copied from another state?)",
              fix = "verify which state this seed belongs to; if it " +
                "is foreign, delete the _ASOF_SEED_ file — lookups " +
                "then fall back to the (conservative) global floor")
          }
        floors.maxOption.foreach { f =>
          check(f > frontier.getOrElse(-1L), error = true,
            s"cdcRollup: retention floor $f is above the committed " +
              s"frontier ${frontier.getOrElse(-1L)} — as-of reads " +
              "would refuse snapshots that were never reaped (a " +
              "floor file copied from another state?)",
            fix = "verify no reap ever ran here (every bucket still " +
              "holds its full version chain); if so, delete the " +
              s"_ASOF_FLOOR_$f file and re-run 'retain' to seed the " +
              "correct floor")
        }
        // change-log hygiene: bound files, per-layer coverage gaps,
        // stranded entries (base + view + aux logs share one bound)
        val logBounds = graft.operators.BatchMarkers
          .readLogFromAll(fs, rootPath)
        val logBound = logBounds.maxOption
        val logLayers = Seq("log", "log_view") ++
          declaredAux.toSeq.sorted.map("log_aux_" + _)
        val presentLog = ls(rootPath).filter(_.isDirectory)
          .map(_.getPath.getName)
          .filter(n => n == "log" || n == "log_view" ||
            n.startsWith("log_aux_"))
        check(logBounds.size > 1, error = false,
          s"cdcRollup: ${logBounds.size} _LOG_FROM_ files — a " +
            "crashed bound advance; readers take the max, the next " +
            "log reap clears the rest")
        check(presentLog.nonEmpty && logBound.isEmpty, error = false,
          "cdcRollup: change-log layer dirs exist but no _LOG_FROM_ " +
            "bound — change-log mode is off (a hand-removed bound?); " +
            "pulls refuse loud and the dirs are stale; re-run " +
            "'changelog' to resume from the current frontier")
        logBound.foreach { lf =>
          check(lf > frontier.getOrElse(-1L), error = true,
            s"cdcRollup: change-log bound $lf is above the committed " +
              s"frontier ${frontier.getOrElse(-1L)} — pulls would " +
              "refuse ranges the log actually covers (a _LOG_FROM_ " +
              "file copied from another state?)",
            fix = "verify which state this bound belongs to; if " +
              "foreign, delete the _LOG_FROM_ file and re-run " +
              "'changelog' to re-seed it at the frontier")
          for (ld <- logLayers) {
            val ldP = new Path(rootPath, ld)
            // every LISTABLE committed fold above the bound must have
            // its dir in EVERY log layer — a missing one is a
            // coverage GAP a pull would silently lose (the one
            // wrong-data shape these layers can take)
            val present =
              (if (fs.exists(ldP))
                fs.listStatus(ldP).toSeq.map(_.getPath.getName)
                  .flatMap(FoldStore.idOf("b", _))
              else Nil).toSet
            markers.ids.filter(_ > lf).toSeq.sorted.foreach { id =>
              check(!present(id), error = true,
                s"cdcRollup: batch $id committed after the " +
                  s"change-log bound $lf but $ld/b$id is missing — " +
                  "a pull spanning it would silently lose that " +
                  "fold's changes",
                fix = "delete the _LOG_FROM_ file and re-run " +
                  "'changelog' (re-seeding the bound at the " +
                  "frontier, past the gap), then re-baseline " +
                  "consumers with a full export — never serve a " +
                  "gapped pull")
            }
            if (fs.exists(ldP))
              fs.listStatus(ldP).toSeq.filter(_.isDirectory)
                .foreach { st =>
                  val n = st.getPath.getName
                  (FoldStore.stagingId(n), FoldStore.idOf("b", n)) match {
                    case (Some(id), _) =>
                      check(markers.committed(id) ||
                          frontier.exists(id <= _), error = false,
                        s"cdcRollup/$ld/$n: staging shell that can " +
                          "never promote — gc sweeps it")
                    case (_, Some(id)) =>
                      check(!markers.committed(id) &&
                          frontier.exists(id <= _), error = false,
                        s"cdcRollup/$ld/$n: uncommitted log dir below " +
                          "the frontier — abandoned garbage, gc " +
                          "sweeps it")
                    case _ =>
                      check(errorWhen = true, error = false,
                        s"cdcRollup/$ld/$n: unrecognized entry")
                  }
                }
          }
        }
        "cdcRollup"
      } else if (pin.startsWith("foldManifest|")) {
        // a manifest holds only marker files — its integrity is the
        // marker hygiene plus each member root still backing the
        // witness
        fsckMarkers(fs, rootPath, issues, () => { checks += 1 })
        val markers = graft.operators.BatchMarkers.read(fs, rootPath)
        val group = markers.maxCommitted
        val members = pin.stripPrefix("foldManifest|").split(',').toSeq
          .filter(_.nonEmpty)
          .map(java.net.URLDecoder.decode(_, "UTF-8"))
        check(members.isEmpty, error = true,
          "foldManifest: the pin declares no roots — the witness " +
            "covers nothing",
          fix = "delete the manifest and re-commit it from the " +
            "orchestrator with the group's actual root paths")
        members.foreach { r =>
          val rp = new Path(r)
          val rfs = rp.getFileSystem(fs.getConf)
          val rPin = graft.sources.PartitionedStore.readPin(rfs, rp)
          check(rPin.isEmpty, error = true,
            s"foldManifest: member root $r has no layout pin — the " +
              "group witnesses a state that no longer exists",
            fix = "if the root moved, the witnessed history belongs " +
              "to the OLD path — create a fresh manifest for the new " +
              "layout; if the root was deleted, the witness is void: " +
              "delete the manifest")
          val f: Option[Long] = rPin match {
            case Some(x) if x.startsWith("join|") ||
                x.startsWith("cdcRollup|") =>
              graft.operators.BatchMarkers.read(rfs, rp).maxCommitted
            case Some(_) =>
              graft.streaming.EventStreams.readLastBatch(rfs, rp)
            case None => None
          }
          check(rPin.isDefined &&
              group.exists(g => f.forall(_ < g)), error = true,
            s"foldManifest: member root $r is at frontier " +
              s"${f.getOrElse(-1L)}, BEHIND the group frontier " +
              s"${group.getOrElse(-1L)} — the witness OVERSTATES (a " +
              "reset or restored root?); consumers capping at the " +
              "group may have read mixed snapshots",
            fix = "re-fold the root's missing batches up to the " +
              "group frontier; if the root was restored from an " +
              "older copy, rebuild the witness — delete the " +
              "manifest's markers and re-commit from the restored " +
              "frontier")
          // rollup members: the frontier covering the group is not
          // enough — the fold advances _LAST_BATCH BEFORE the bucket
          // swap, so a crash in that gap leaves the frontier AT the
          // group with the batch's buckets still staged (post-swap
          // evidence is a stage no longer holding the id's markers)
          check(rPin.exists(x => !x.startsWith("join|") &&
              !x.startsWith("cdcRollup|")) &&
              group.exists(g => f.exists(_ >= g) &&
                !graft.streaming.EventStreams
                  .rollupBatchApplied(rfs, rp, g)), error = true,
            s"foldManifest: member root $r reports frontier " +
              s"${f.getOrElse(-1L)} but the group-frontier batch " +
              s"${group.getOrElse(-1L)}'s bucket swap did not finish " +
              "(a stranded stage still holds its markers) — the " +
              "witness OVERSTATES; consumers capping at the group " +
              "may have read mixed snapshots",
            fix = "re-run the fold for that batch — the replay " +
              "recovers the staged buckets marker-first and " +
              "completes the swap")
        }
        "foldManifest"
      } else {
        // rollup pin: nBuckets|keys|valueCol
        val parts = pin.split('|')
        check(parts.length != 3 ||
            !parts(0).toIntOption.exists(_ >= 1), error = true,
          s"rollup: malformed layout pin '$pin'",
          fix = "restore the _CONFIG pin from the writer's declared " +
            "layout (nBuckets|keys|valueColumn) — the sink/fold " +
            "config is the source of truth")
        val n = parts.headOption.flatMap(_.toIntOption).getOrElse(1)
        val last = graft.streaming.EventStreams.readLastBatch(fs, rootPath)
        val lastFile = fs.exists(new Path(rootPath, "_LAST_BATCH"))
        check(lastFile && last.isEmpty, error = true,
          "rollup: _LAST_BATCH exists but does not parse — the " +
            "monotone guard is blind",
          fix = "restore _LAST_BATCH to the highest folded batch id " +
            "(= the max _APPLIED_<id> across state/bucket dirs); " +
            "overstating is safe (skips replays), understating " +
            "re-admits folded ids")
        ls(rootPath).foreach { st =>
          val name = st.getPath.getName
          check(name.matches("state__stage_[0-9a-f]{8}"), error = false,
            s"rollup/$name: staging shell (in-flight if fresh) — gc " +
              "sweeps it once aged")
          check(name.startsWith("_LAST_BATCH_tmp_"), error = false,
            s"rollup/$name: stranded frontier temp — the next fold " +
              "reaps it")
        }
        // the crashed-pre-swap shape: the frontier already reads the
        // id but a stranded stage still holds its per-bucket markers
        // (the fold advances _LAST_BATCH BEFORE the swap) — an ERROR
        // because a reader trusting the frontier (or an orchestrator
        // skipping the replay) would act on data that is not applied;
        // the remediation is the fold's own designed recovery
        last.foreach { frontier =>
          check(!graft.streaming.EventStreams.rollupBatchApplied(
              fs, rootPath, frontier), error = true,
            s"rollup: the _LAST_BATCH frontier reads $frontier but a " +
              "stranded stage still holds that batch's bucket " +
              "markers — the fold crashed between its frontier " +
              "advance and its bucket swap, so the frontier " +
              "overstates the applied state",
            fix = s"re-run the fold for batch $frontier — the replay " +
              "recovers the staged buckets marker-first and " +
              "completes the swap (group witnesses already refuse " +
              "this shape via rollupBatchApplied)")
        }
        var applied = 0
        ls(new Path(rootPath, "state")).filter(_.isDirectory)
          .foreach { b =>
            val name = b.getPath.getName
            if (name.startsWith("bucket=")) {
              val id = name.stripPrefix("bucket=").toIntOption
              check(id.isEmpty || id.exists(x => x < 0 || x >= n),
                error = true,
                s"rollup/state/$name: bucket id outside the pinned " +
                  s"count $n — invisible to bucket-pruned probes",
                fix = "compact into a fresh root with the intended " +
                  "bucket count (compactRollupStateTo re-buckets " +
                  "every row)")
              val ms = fs.listStatus(b.getPath).toSeq
                .map(_.getPath.getName)
                .filter(_.startsWith("_APPLIED_"))
                .flatMap(_.stripPrefix("_APPLIED_").toLongOption)
              applied += ms.size
              check(ms.size > 1, error = false,
                s"rollup/state/$name: ${ms.size} _APPLIED markers — " +
                  "the swap replaces them wholesale, so extras are a " +
                  "crashed-swap remnant (harmless; replaced on the " +
                  "next touch)")
              ms.foreach { id =>
                check(last.exists(id > _), error = true,
                  s"rollup/state/$name/_APPLIED_$id: evidence NEWER " +
                    "than the _LAST_BATCH frontier " +
                    s"${last.getOrElse(-1L)} — the monotone guard " +
                    "would re-admit ids this state already folded",
                  fix = s"restore _LAST_BATCH to >= $id (the highest " +
                    "_APPLIED_<id> across buckets); a frontier file " +
                    "older than the evidence means it was restored " +
                    "from a stale copy")
              }
            }
          }
        check(applied > 0 && !lastFile, error = false,
          "rollup: per-bucket evidence exists but no _LAST_BATCH " +
            "frontier (a pre-frontier state) — the next fold seeds " +
            "it; until then an out-of-order id is only caught by " +
            "per-bucket markers")
        // retention mode: root markers + COW history hygiene (the
        // cdcRollup rules, rollup-flavored)
        fsckMarkers(fs, rootPath, issues, () => { checks += 1 })
        val rMarkers = graft.operators.BatchMarkers.read(fs, rootPath)
        val rFloors = graft.operators.BatchMarkers
          .readFloorAll(fs, rootPath)
        check(rFloors.size > 1, error = false,
          s"rollup: ${rFloors.size} retention floor files — a " +
            "crashed floor advance; readers take the max, the next " +
            "reap clears the rest")
        rFloors.maxOption.foreach { f =>
          check(f > last.getOrElse(-1L), error = true,
            s"rollup: retention floor $f is above the _LAST_BATCH " +
              s"frontier ${last.getOrElse(-1L)} — as-of reads would " +
              "refuse snapshots that were never reaped (a floor file " +
              "copied from another state?)",
            fix = "verify no reap ever ran here (every history " +
              "bucket still holds its full chain); if so, delete the " +
              s"_ASOF_FLOOR_$f file and re-run 'retain' to seed the " +
              "correct floor")
        }
        val histDir = new Path(rootPath, "history")
        check(fs.exists(histDir) && rFloors.isEmpty, error = false,
          "rollup: a history/ layer exists but no retention floor — " +
            "retention mode is off (a hand-removed floor?); as-of " +
            "reads refuse loud and the versions are stale; re-run " +
            "'retain' to resume from the current state")
        if (fs.exists(histDir))
          fs.listStatus(histDir).toSeq.filter(_.isDirectory)
            .foreach { st =>
              val name = st.getPath.getName
              if (name.startsWith("bucket=")) {
                val b = name.stripPrefix("bucket=").toIntOption
                check(b.isEmpty || b.exists(x => x < 0 || x >= n),
                  error = true,
                  s"rollup/history/$name: bucket id outside the " +
                    s"pinned count $n — invisible to bucket-pruned " +
                    "as-of probes (a copy or re-shard drifted from " +
                    "the pin)",
                  fix = "compact into a fresh root with the intended " +
                    "bucket count (compactRollupStateTo re-buckets " +
                    "every row; retention re-seeds at the frontier)")
                fs.listStatus(st.getPath).toSeq.filter(_.isDirectory)
                  .foreach { v =>
                    val vn = v.getPath.getName
                    val id = FoldStore.versionId(vn)
                    check(id.isEmpty, error = false,
                      s"rollup/history/$name/$vn: unrecognized entry " +
                        "(not a v<id> version dir)")
                    id.foreach { i =>
                      check(!rMarkers.committed(i) &&
                          last.exists(i < _), error = false,
                        s"rollup/history/$name/v$i: uncommitted " +
                          "version below the frontier — abandoned " +
                          "garbage, gc sweeps it")
                    }
                  }
              } else FoldStore.stagingId(name) match {
                case Some(id) =>
                  check(rMarkers.committed(id) || last.exists(id < _),
                    error = false,
                    s"rollup/history/$name: staging shell that can " +
                      "never promote (committed or below the frontier) " +
                      "— gc sweeps it")
                case None =>
                  check(errorWhen = true, error = false,
                    s"rollup/history/$name: unrecognized entry")
              }
            }
        "rollup"
      }
    val all = issues.result()
    val errors = all.filter(_.error)
    val warnings = all.filterNot(_.error).map(_.what)
    def arr(xs: Seq[String]) =
      xs.map(graft.JsonUtil.str).mkString("[", ",", "]")
    // errors are objects carrying their runbook hint; warnings stay
    // plain strings (gc already owns their remediation)
    val errArr = errors.map { i =>
      s"""{"what":${graft.JsonUtil.str(i.what)},""" +
        s""""fix":${graft.JsonUtil.str(i.fix)}}"""
    }.mkString("[", ",", "]")
    s"""{"family":"$family","ok":${errors.isEmpty},""" +
      s""""checks":$checks,"errors":$errArr,""" +
      s""""warnings":${arr(warnings)}}"""
  }

  /** Marker-file hygiene shared by the join/cdcRollup families:
    * duplicate watermarks and subsumed per-id markers are crash
    * remnants of `foldInto` (readers take the max / OR the sources,
    * so both are harmless — the next fold clears them). */
  private def fsckMarkers(fs: FileSystem, root: Path,
                          issues: scala.collection.mutable.Builder[
                            Issue, Seq[Issue]],
                          counted: () => Unit): Unit = {
    if (!fs.exists(root)) return
    val names = fs.listStatus(root).toSeq.map(_.getPath.getName)
    val uptos = names.filter(_.startsWith("_APPLIED_UPTO_"))
      .flatMap(_.stripPrefix("_APPLIED_UPTO_").toLongOption)
    counted()
    if (uptos.size > 1)
      issues += Issue(error = false,
        s"${uptos.size} _APPLIED_UPTO_ watermark files — a crashed " +
          "foldInto; readers take the max, the next fold clears the " +
          "older ones")
    val w = uptos.maxOption
    val subsumed = names.filter(n => n.startsWith("_APPLIED_") &&
        !n.startsWith("_APPLIED_UPTO_"))
      .flatMap(_.stripPrefix("_APPLIED_").toLongOption)
      .filter(id => w.exists(id <= _))
    counted()
    if (subsumed.nonEmpty)
      issues += Issue(error = false,
        s"${subsumed.size} per-id marker(s) at or below the " +
          s"watermark ${w.getOrElse(-1L)} — a crashed foldInto left " +
          "them; harmless (the watermark already covers them), the " +
          "next fold clears them")
  }
}
