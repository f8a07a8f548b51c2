package graft.app

import graft.model.UserException
import graft.state.FoldStore
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The `repair` maintainView kind — the EXECUTING face of fsck's
  * runbook hints, restricted to the provably-safe subset:
  *
  *  - **rebuild a missing derived layer** (cdcRollup `grp` /
  *    `aux_<n>` / `grp_aux_<n>`): every derived layer is an exact
  *    function of the SCD1 base images
  *    ([[graft.operators.CdcRollup.rebuildDerivedLayer]]), so the
  *    reconstruction cannot invent data — and on retained states it
  *    floors the rebuilt chain at the frontier so the lost history
  *    refuses instead of serving empty.
  *  - **re-seed a rollup `_LAST_BATCH` frontier from the per-bucket
  *    marker evidence** (missing, unparseable, or older than the
  *    evidence): the fsck hint's own rule — the max `_APPLIED_<id>`
  *    across buckets; overstating is safe (skips replays),
  *    understating re-admits folded ids, so the evidence max is the
  *    only sound value.
  *  - **sweep abandoned rename-window garbage** — exactly what `gc`
  *    sweeps (staging shells, unmarked versions), at the default 24 h
  *    gate; included here so one `repair --apply` leaves a state
  *    fsck-clean.
  *
  *  - **rebuild ONE missing committed join-view batch dir**
  *    (`view/d<id>`): the view layer is derived from the sides, and
  *    the delta algebra's coverage invariant (view total = a ⋈ b,
  *    every cross pair exactly once) makes the hole's contents a
  *    provable multiset difference
  *    ([[graft.operators.JoinView.rebuildViewBatchDir]]) — side
  *    holes and multiple view holes refuse (the sides are the source
  *    of truth; two holes cannot be split apart).
  *  - **restore a lost/garbled `_CONFIG` from the writer-declared
  *    witness** (`_CONFIG_WITNESS`, maintained by every fold through
  *    [[graft.sources.PartitionedStore.pinLayout]]) — but ONLY with
  *    proof: the witness parses for its family AND every on-disk
  *    bucket dir fits its pinned counts (an id at or past a count
  *    would mean a different bucket function — restoring that pin
  *    would bless wrong-bucket reads). A missing, tampered, or
  *    garbled-pin-identical witness keeps the whole run in the
  *    loud-refusal class.
  *
  * Everything else — live pin drift, bucket dirs outside the pinned
  * count, foreign floor/seed/bound files, change-log coverage gaps —
  * is the UNSAFE class: repair never touches it, and the post-repair
  * fsck embedded in the report names what remains manual.
  *
  * DRY-RUN by default: without `apply` the report lists what WOULD
  * run and mutates nothing. */
object ViewRepair {

  def repairJson(spark: SparkSession, root: String,
                 apply: Boolean): String = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    // (what, result) — result None on dry-run
    val repairs = Seq.newBuilder[(String, Option[String])]
    def plan(what: String)(exec: => String): Unit =
      repairs += ((what, if (apply) Some(exec) else None))

    // ---- pin restore from the writer-declared witness -------------
    // `_CONFIG_WITNESS` is the second pin copy every fold maintains
    // (PartitionedStore.pinLayout). A lost/garbled `_CONFIG` joins
    // the SAFE class exactly when the witness can PROVE it matches
    // the state bytes: the witness parses for its family AND every
    // on-disk bucket dir fits its pinned counts — an id at or past a
    // count would mean the state was written under a DIFFERENT
    // bucket function, and restoring that pin would bless wrong-
    // bucket reads. Anything less stays the loud-refusal class.
    def bucketIdsUnder(dir: Path, prefix: String): Seq[Int] =
      if (!fs.exists(dir)) Nil
      else fs.listStatus(dir).toSeq.map(_.getPath.getName)
        .filter(_.startsWith(prefix))
        .flatMap(_.stripPrefix(prefix).toIntOption)
    /** None = provable; Some(reason) otherwise. */
    def witnessFlaw(w: String): Option[String] =
      if (w.startsWith("cdcRollup|")) {
        try {
          val l = graft.operators.CdcRollup.parseLayout(w, root)
          val baseBad = bucketIdsUnder(new Path(rootPath, "base"),
            "bucket=").filter(_ >= l.nBaseBuckets)
          val aggLayers = Seq("agg", "grp") ++
            l.auxViews.map("aux_" + _._1) ++
            l.auxMinMax.keys.toSeq.map("grp_aux_" + _)
          val aggBad = aggLayers.flatMap(ly => bucketIdsUnder(
            new Path(rootPath, ly), "bucket=")).filter(_ >= l.nAggBuckets)
          if (baseBad.nonEmpty || aggBad.nonEmpty)
            Some("on-disk bucket ids " +
              (baseBad ++ aggBad).distinct.sorted.mkString(",") +
              " fall outside the witness's pinned counts")
          else None
        } catch {
          case e: IllegalArgumentException =>
            Some(s"the witness does not parse: ${e.getMessage}")
        }
      } else if (w.startsWith("join|")) {
        val parts = w.split('|')
        val n = if (parts.length == 5) parts(4).toIntOption else None
        n.filter(_ >= 1) match {
          case None => Some(s"the witness does not parse: '$w'")
          case Some(nb) =>
            val bad = Seq("a", "b", "view").flatMap { side =>
              val sideDir = new Path(rootPath, side)
              if (!fs.exists(sideDir)) Nil
              else fs.listStatus(sideDir).toSeq.map(_.getPath)
                .filter(_.getName.startsWith("d"))
                .flatMap(d => bucketIdsUnder(d, "__bucket="))
            }.filter(_ >= nb)
            if (bad.nonEmpty) Some("on-disk bucket ids " +
              bad.distinct.sorted.mkString(",") +
              " fall outside the witness's pinned count")
            else None
        }
      } else if (w.startsWith("foldManifest|")) {
        // marker-only family — a parseable nonempty root list is the
        // whole proof (no bucket dirs to cross-check)
        if (w.stripPrefix("foldManifest|").split(',').exists(_.nonEmpty))
          None
        else Some("the witness declares no roots")
      } else {
        val parts = w.split('|')
        val n = if (parts.length == 3) parts(0).toIntOption else None
        n.filter(_ >= 1) match {
          case None => Some(s"the witness does not parse: '$w'")
          case Some(nb) =>
            val bad = (bucketIdsUnder(new Path(rootPath, "state"),
              "bucket=") ++ bucketIdsUnder(new Path(rootPath, "history"),
              "bucket=")).filter(_ >= nb)
            if (bad.nonEmpty) Some("on-disk bucket ids " +
              bad.distinct.sorted.mkString(",") +
              " fall outside the witness's pinned count")
            else None
        }
      }
    val stored = graft.sources.PartitionedStore.readPin(fs, rootPath)
    def cdcGarbled(p: String) = p.startsWith("cdcRollup|") &&
      scala.util.Try(graft.operators.CdcRollup.parseLayout(p, root))
        .isFailure
    val pin: String = stored match {
      case Some(p) if !cdcGarbled(p) => p
      case _ =>
        val why = stored.map(p => s"malformed layout pin '$p'")
          .getOrElse("no layout pin")
        graft.sources.PartitionedStore.readWitness(fs, rootPath) match {
          case Some(w) if !stored.contains(w) && witnessFlaw(w).isEmpty =>
            plan("restore _CONFIG from the writer-declared witness " +
              "(provable: the witness parses for its family and " +
              "every on-disk bucket dir fits its pinned counts)") {
              // the pin's own replace
              graft.state.SmallFiles.replace(fs, rootPath, "_CONFIG", w,
                s"repair: could not restore _CONFIG at $root")
              "restored"
            }
            w // plan (and on apply: run) the rest against the witness
          case Some(w) =>
            val reason =
              if (stored.contains(w))
                "the witness matches the garbled pin byte-for-byte — " +
                  "no independent evidence"
              else witnessFlaw(w).getOrElse("unprovable")
            throw new UserException(
              s"maintainView repair: $why under $root and the " +
                s"_CONFIG_WITNESS cannot prove a restore ($reason) — " +
                "the UNSAFE class: restore _CONFIG from the writer's " +
                "declared layout by hand (the fsck runbook hint)")
          case None =>
            throw new UserException(
              s"maintainView repair: $why under $root and no " +
                "_CONFIG_WITNESS exists (a state written before the " +
                "witness discipline gains one on its next fold) — " +
                "the UNSAFE class: repair cannot derive anything " +
                "without a provable layout; restore _CONFIG from the " +
                "writer's declared layout by hand")
        }
    }

    val family =
      if (pin.startsWith("join|")) {
        // rebuild ONE missing committed view/d<id> — the view layer
        // is derived, and the sides' join invariant makes the hole's
        // contents provable (JoinView.rebuildViewBatchDir); side
        // holes and multiple view holes stay the manual class (the
        // embedded fsck names them)
        val markers = graft.operators.BatchMarkers.read(fs, rootPath)
        def committedIds(layer: String): Set[Long] =
          FoldStore.committedIds(fs, rootPath, layer, "d", markers)
        val (aIds, bIds, vIds) =
          (committedIds("a"), committedIds("b"), committedIds("view"))
        val sidesComplete = {
          val all = aIds ++ bIds ++ vIds
          (all -- aIds).isEmpty && (all -- bIds).isEmpty
        }
        val viewHoles = ((aIds ++ bIds) -- vIds).toSeq.sorted
        if (sidesComplete && viewHoles.size == 1) {
          val id = viewHoles.head
          plan(s"rebuild missing view batch dir d$id from the sides " +
            "(the invariant view-total = a JOIN b; multiset " +
            "difference against the surviving dirs — exact for one " +
            "hole)") {
            s"rows=${graft.operators.JoinView
              .rebuildViewBatchDir(spark, root, id)}"
          }
        }
        plan("sweep abandoned batch dirs (24h gate)") {
          s"deleted=${graft.operators.JoinView
            .cleanOrphanBatchDirs(spark, root).size}"
        }
        "join"
      } else if (pin.startsWith("cdcRollup|")) {
        // parses by construction: a stored pin passed cdcGarbled, a
        // witness-restored one passed witnessFlaw
        val layout = graft.operators.CdcRollup.parseLayout(pin, root)
        val markers = graft.operators.BatchMarkers.read(fs, rootPath)
        if (markers.maxCommitted.isDefined) {
          // 'agg' included: like every derived layer it is an exact
          // function of the SCD1 base images (rebuildDerivedLayer's
          // first supported target) — omitting it would leave a
          // missing-agg state with a red embedded fsck and no plan
          val declared = Seq("agg") ++
            (if (layout.minMaxCols.nonEmpty) Seq("grp") else Nil) ++
              layout.auxViews.map("aux_" + _._1) ++
              layout.auxMinMax.keys.toSeq.sorted.map("grp_aux_" + _)
          declared.filterNot(l => fs.exists(new Path(rootPath, l)))
            .foreach { l =>
              plan(s"rebuild missing layer '$l' from the base images" +
                " (floors the rebuilt chain at the frontier on " +
                "retained states)") {
                s"rows=${graft.operators.CdcRollup
                  .rebuildDerivedLayer(spark, root, l)}"
              }
            }
        }
        plan("sweep abandoned batch garbage (24h gate)") {
          s"deleted=${graft.operators.CdcRollup
            .cleanOrphanBatchDirs(spark, root).size}"
        }
        "cdcRollup"
      } else if (pin.startsWith("foldManifest|")) {
        // a manifest holds only marker files — nothing in the
        // safe-repair class lives here (gc foldMarkers owns the
        // hygiene); the embedded fsck below still names anything
        // manual (overstating witnesses, vanished roots)
        "foldManifest"
      } else {
        // rollup pin: nBuckets|keys|valueCol — the frontier witness
        val statePq = new Path(rootPath, "state")
        val evidence =
          if (!fs.exists(statePq)) Nil
          else fs.listStatus(statePq).toSeq.map(_.getPath)
            .filter(_.getName.startsWith("bucket="))
            .flatMap(b => fs.listStatus(b).toSeq
              .map(_.getPath.getName)
              .filter(_.startsWith("_APPLIED_"))
              .flatMap(_.stripPrefix("_APPLIED_").toLongOption))
        val last = graft.streaming.EventStreams
          .readLastBatch(fs, rootPath)
        evidence.maxOption
          .filter(ev => last.forall(_ < ev))
          .foreach { ev =>
            plan(s"restore _LAST_BATCH to $ev (the max _APPLIED " +
              "evidence across buckets — overstating skips replays, " +
              "understating would re-admit folded ids)") {
              // the fold's own replace: the fallback's crash residue
              // (a missing _LAST_BATCH) is exactly what a re-run of
              // this repair restores from the same evidence
              graft.state.SmallFiles.replace(fs, rootPath, "_LAST_BATCH",
                ev.toString, s"repair: could not restore _LAST_BATCH at $root")
              s"restored=$ev"
            }
          }
        plan("sweep stranded staging shells and abandoned history " +
          "garbage (24h gate)") {
          val a = graft.operators.Maintenance
            .cleanTableOrphanStages(spark, s"$root/state")
          val b = graft.streaming.EventStreams
            .cleanRollupHistoryOrphans(spark, root)
          s"deleted=${a.size + b.size}"
        }
        "rollup"
      }
    val done = repairs.result()
    val repairsJson = done.map { case (what, result) =>
      s"""{"what":${graft.JsonUtil.str(what)},"result":""" +
        result.map(graft.JsonUtil.str).getOrElse("null") + "}"
    }.mkString("[", ",", "]")
    // the post-repair audit names what stays manual — embedded whole,
    // so one repair report is a complete runbook state. On a DRY-RUN
    // whose plan includes the pin restore, the state still has no
    // servable pin — fsck refuses pinless paths; embed that refusal
    // as the honest audit instead of crashing the report
    val fsck =
      try ViewFsck.fsckJson(spark, root)
      catch {
        case e: UserException =>
          s"""{"family":"$family","ok":false,""" +
            """"checks":0,"errors":[{"what":""" +
            graft.JsonUtil.str(e.getMessage) +
            ""","fix":"run repair with apply — the planned pin """ +
            """restore clears this"}],"warnings":[]}"""
      }
    s"""{"family":"$family","apply":$apply,""" +
      s""""repairs":$repairsJson,"fsck":$fsck}"""
  }
}
