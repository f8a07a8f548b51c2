package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Load-plan operators: the reference's full-replace and primary-key
  * upsert, re-expressed as declarative DataFrame plans.
  *
  * The reference implements its upsert as three SQL statements against
  * Redshift — UPDATE-join (stage values win), DELETE-anti, INSERT-
  * select (reference: src/Keboola/DbWriter/Writer/Redshift.php:155-209).
  * The net semantics (SURVEY §2.3 J3):
  *
  *   target' = stage ∪ (target ▷_pk stage)
  *
  * i.e. every target row whose PK appears in staging is replaced
  * wholesale by the staging row; staging rows with new PKs are
  * appended. No PK ⇒ plain append (Redshift.php:169 guard).
  *
  * Scale notes (100 TB posture):
  *  - `left_anti` is a single hash/sort-merge join keyed on the PK —
  *    one shuffle of each side at most. With AQE on, a small stage side
  *    is broadcast automatically and the target side never shuffles.
  *  - `unionByName` is shuffle-free (bag union of partitions).
  *  - No driver-side collection anywhere; the whole merge is one
  *    distributed plan that Catalyst can pushdown-prune into both scans.
  */
object Load {

  /** Add-column schema evolution for the incremental merge: extend
    * `target` with every column `stage` carries that it lacks,
    * NULL-filled at the stage's type — the commonest upstream drift (a
    * new nullable column appears in the feed) no longer forces a drop
    * and 100 TB reload. Pure column projection (no shuffle, no scan
    * cost beyond the merge itself). Caller gates WHETHER evolution is
    * allowed (engine flag + nullability check); this only performs it.
    * Removed/retyped columns pass through untouched so the merge union
    * still fails loudly on them. */
  def withStageColumns(target: DataFrame, stage: DataFrame): DataFrame =
    addedColumns(target.schema, stage.schema).foldLeft(target)((df, f) =>
      df.withColumn(f.name, lit(null).cast(f.dataType)))

  /** The columns `stage` carries that `target` lacks (case-insensitive
    * match, like the merge's own column resolution). ONE definition:
    * the engine's nullability guard and [[withStageColumns]]'s fill
    * must agree on what counts as "added", or a column could be filled
    * without being checked. */
  def addedColumns(target: org.apache.spark.sql.types.StructType,
                   stage: org.apache.spark.sql.types.StructType)
      : Seq[org.apache.spark.sql.types.StructField] = {
    val have = target.fieldNames.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    stage.fields.filterNot(f => have(f.name.toLowerCase(java.util.Locale.ROOT))).toSeq
  }

  /** Stage-wins primary-key merge (J1+J2+J3). */
  def upsert(target: DataFrame, stage: DataFrame, pk: Seq[String]): DataFrame =
    if (pk.isEmpty) target.unionByName(stage)
    else stage.unionByName(target.join(stage.select(pk.map(col): _*), pk, "left_anti"))

  /** Full load = drop + create + copy (reference:
    * RedshiftApplication.php:131-139) — in Spark the staged frame simply
    * replaces the target (`.mode("overwrite")` at the sink). Returned
    * as-is for composition. */
  def fullLoad(stage: DataFrame): DataFrame = stage

  /** J1 in isolation: rows of `target` whose PK matches a staging row,
    * with the staging values taken (the UPDATE-join's output,
    * reference: Writer/Redshift.php:169-190). */
  def updateJoin(target: DataFrame, stage: DataFrame, pk: Seq[String]): DataFrame =
    stage.join(target.select(pk.map(col): _*), pk, "left_semi")

  /** J2 in isolation: staging rows whose PK is NOT in target — the
    * "new rows" that the INSERT appends after the DELETE
    * (reference: Writer/Redshift.php:192-205). */
  def newRows(stage: DataFrame, target: DataFrame, pk: Seq[String]): DataFrame =
    stage.join(target.select(pk.map(col): _*), pk, "left_anti")

  /** Type-2 slowly-changing-dimension merge — the history-keeping
    * upgrade of [[upsert]]: instead of overwriting a matched row, the
    * current version is CLOSED (`validTo` := `effectiveDate`,
    * `isCurrent` := false) and the staged values open a new current
    * version; history rows are never touched. The reference's upsert
    * family destroys prior values by design (stage wins wholesale);
    * a warehouse tracking attribute history needs this variant of the
    * same merge.
    *
    * Semantics per staged business key:
    *  - no current target row          → new current version (new key,
    *    or a key whose last version was closed earlier)
    *  - current row, tracked attrs equal (null-safe) → no-op
    *  - current row, any tracked attr differs → close + open
    * Target rows with keys absent from the stage — current or
    * historical — pass through untouched. Tracked attributes = every
    * stage column outside the key. Stage keys must be unique (run
    * [[dedupLastWins]] first if a feed can repeat keys — same contract
    * as the reference's upsert, SURVEY §2.3 caveat) and NON-NULL: a
    * NULL key can never match the join, so every batch would append
    * another open version for it — duplicate current rows, silently.
    * This operator is lazy and cannot check that cheaply; the eager
    * entry points (the streaming sinks, the bucketed merge) refuse
    * NULL keys loudly per batch.
    *
    * Scale (100 TB posture): ONE full-outer join keyed on the business
    * key (target matched only where `isCurrent` — history rows fall
    * through as unmatched-left in the same pass, so the target scans
    * ONCE), then a generate/explode that emits 1 row for pass-through/
    * no-op, 2 for close+open. No branch-and-union that would re-scan
    * either side, no driver collection. A full-outer join cannot
    * broadcast, so this is a sort-merge shuffle of both sides on the
    * key — the honest cost of a history merge that must see every
    * target row to decide pass-through. */
  def scd2Merge(target: DataFrame, stage: DataFrame, pk: Seq[String],
                effectiveDate: org.apache.spark.sql.Column,
                validFrom: String = "valid_from",
                validTo: String = "valid_to",
                isCurrent: String = "is_current"): DataFrame =
    scd2MergeImpl(target, stage, pk, effectiveDate, validFrom, validTo,
      isCurrent, closeMissing = false)

  /** [[scd2Merge]] for FULL-SNAPSHOT feeds, with delete detection:
    * `snapshot` is the complete current universe of keys, so a current
    * target version whose key is ABSENT from it was deleted upstream —
    * it is CLOSED at the effective date (a soft delete that keeps
    * history; no reopen), exactly how type-2 loads handle full
    * extracts. All other semantics match [[scd2Merge]] (changed →
    * close+open, equal → no-op, new key → open, history untouched).
    * NEVER feed an incremental batch through this face: every key the
    * batch happens not to mention would read as deleted and close.
    * Same plan shape — the delete branch rides the SAME single
    * full-outer join (unmatched-current rows close instead of passing
    * through), no extra scan or anti-join. */
  def scd2MergeSnapshot(target: DataFrame, snapshot: DataFrame,
                        pk: Seq[String],
                        effectiveDate: org.apache.spark.sql.Column,
                        validFrom: String = "valid_from",
                        validTo: String = "valid_to",
                        isCurrent: String = "is_current"): DataFrame =
    scd2MergeImpl(target, snapshot, pk, effectiveDate, validFrom, validTo,
      isCurrent, closeMissing = true)

  private def scd2MergeImpl(target: DataFrame, stage: DataFrame,
                            pk: Seq[String],
                            effectiveDate: org.apache.spark.sql.Column,
                            validFrom: String, validTo: String,
                            isCurrent: String,
                            closeMissing: Boolean): DataFrame = {
    require(pk.nonEmpty, "SCD2 merge needs a business key")
    // every contract check compares LOWERCASE names: Spark resolves
    // columns case-insensitively (default spark.sql.caseSensitive=
    // false, and this file's addedColumns does the same), so a check
    // stricter than the resolution would reject working calls — and a
    // check looser than it would let a case-variant reserved name slip
    // through to silent overwrite
    val scdCols = Set(validFrom, validTo, isCurrent).map(_.toLowerCase(java.util.Locale.ROOT))
    val stageLc = stage.columns.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val targetLc = target.columns.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    require(!stageLc.exists(scdCols),
      s"stage must not carry SCD bookkeeping columns ($scdCols); the " +
        "merge derives them")
    val markers = Set("__c_ex", "__s_ex")
    require(!(stageLc ++ targetLc).exists(markers),
      s"inputs must not carry the reserved marker columns $markers")
    val missing = (stageLc ++ scdCols) -- targetLc
    require(missing.isEmpty,
      s"target lacks columns the SCD2 merge needs: $missing")
    // the converse too: every non-SCD target column (pk included) must
    // exist in the stage, or newRow below would reference s.<col> and
    // die with an opaque unresolved-column error instead of this
    // contract message. A target that evolved a column the feed no
    // longer sends must be migrated (or the column dropped) first.
    val missingInStage = (targetLc -- scdCols) -- stageLc
    require(missingInStage.isEmpty,
      s"stage lacks columns the SCD2 merge must fill: $missingInStage " +
        "(every non-bookkeeping target column needs a staged value)")
    require(pk.forall(k => stageLc(k.toLowerCase(java.util.Locale.ROOT))),
      s"stage lacks business-key column(s): ${pk.filterNot(k => stageLc(k.toLowerCase(java.util.Locale.ROOT)))}")
    val outCols = target.columns.toSeq
    val tType = target.schema.fields
      .map(f => f.name.toLowerCase(java.util.Locale.ROOT) -> f.dataType).toMap
    val pkLc = pk.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val dataCols = stage.columns.filterNot(c => pkLc(c.toLowerCase(java.util.Locale.ROOT))).toSeq

    // existence markers: a pk column CAN be null-free by contract, but
    // a lit(true) marker makes match-side detection independent of it
    val c = target.withColumn("__c_ex", lit(true)).alias("c")
    val s = stage.withColumn("__s_ex", lit(true)).alias("s")
    val cond = pk.map(k => col(s"c.$k") === col(s"s.$k")).reduce(_ && _) &&
      col(s"c.$isCurrent")
    val j = c.join(s, cond, "full_outer")

    // all three row shapes share ONE struct schema (names + target
    // types) so the conditional array is well-typed for the explode
    // branch aliases always use `a` — the TARGET's declared casing —
    // so the three struct shapes stay field-name-identical even when
    // the caller spelled the SCD parameter names in a different case
    val cRow = struct(outCols.map(a => col(s"c.$a").as(a)): _*)
    val closedRow = struct(outCols.map {
      case a if a.equalsIgnoreCase(validTo) =>
        effectiveDate.cast(tType(a.toLowerCase(java.util.Locale.ROOT))).as(a)
      case a if a.equalsIgnoreCase(isCurrent) => lit(false).as(a)
      case a => col(s"c.$a").as(a)
    }: _*)
    val newRow = struct(outCols.map {
      case a if a.equalsIgnoreCase(validFrom) =>
        effectiveDate.cast(tType(a.toLowerCase(java.util.Locale.ROOT))).as(a)
      case a if a.equalsIgnoreCase(validTo) =>
        lit(null).cast(tType(a.toLowerCase(java.util.Locale.ROOT))).as(a)
      case a if a.equalsIgnoreCase(isCurrent) => lit(true).as(a)
      case a => col(s"s.$a").cast(tType(a.toLowerCase(java.util.Locale.ROOT))).as(a)
    }: _*)
    val changed = dataCols.map(a => !(col(s"c.$a") <=> col(s"s.$a")))
      .reduceOption(_ || _).getOrElse(lit(false))

    // unmatched-left rows: history always passes through; a CURRENT
    // row without a staged match passes in incremental mode but is a
    // soft DELETE in snapshot mode (the stage is the full universe)
    val unmatchedLeft =
      if (closeMissing)
        when(col(s"c.$isCurrent"), array(closedRow)).otherwise(array(cRow))
      else array(cRow)
    j.select(explode(
        when(col("s.__s_ex").isNull, unmatchedLeft)        // untouched or deleted
          .when(col("c.__c_ex").isNull, array(newRow))     // brand-new current
          .when(changed, array(closedRow, newRow))          // close + open
          .otherwise(array(cRow))).as("__r"))               // no-op match
      .select(outCols.map(a => col(s"__r.$a").as(a)): _*)
  }

  /** Wiring-time contract checks shared by every SCD2 entry point
    * (the streaming sinks and the bucketed merge): ONE definition so
    * the contract cannot drift between them. Lowercase comparisons
    * throughout — Spark resolves column names case-insensitively, so
    * a stricter check would reject working calls and a looser one
    * would let a case-variant reserved name slip through to silent
    * overwrite. Fails loud at WIRING, before any batch can run (a
    * bootstrap batch would otherwise overwrite a real `valid_from`
    * column and wedge every later merge). */
  def validateScd2Stage(columns: Seq[String], pk: Seq[String],
                        effCol: String, validFrom: String,
                        validTo: String, isCurrent: String,
                        extraReserved: Set[String] = Set.empty): Unit = {
    require(pk.nonEmpty, "SCD2 needs a business key")
    val colsLc = columns.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val reserved = Set(validFrom, validTo, isCurrent).map(_.toLowerCase(java.util.Locale.ROOT)) ++
      Set("__c_ex", "__s_ex", "__scd2_tb") ++
      extraReserved.map(_.toLowerCase(java.util.Locale.ROOT)) // callers may spell these freely
    require(!colsLc.exists(reserved),
      "columns collide with SCD/reserved names: " +
        (colsLc & reserved).mkString(", "))
    require(colsLc(effCol.toLowerCase(java.util.Locale.ROOT)),
      s"effective-date column '$effCol' missing")
    require(pk.forall(k => colsLc(k.toLowerCase(java.util.Locale.ROOT))),
      s"business-key column(s) missing: " +
        pk.filterNot(k => colsLc(k.toLowerCase(java.util.Locale.ROOT))).mkString(", "))
    require(!pk.exists(_.equalsIgnoreCase(effCol)),
      s"'$effCol' is a business-key column — the effective date is " +
        "dropped from the merged attributes and cannot double as a key")
  }

  /** Point-in-time snapshot of an SCD2 table: the rows whose validity
    * interval covers `at` (`validFrom <= at < validTo`, open current
    * versions unbounded). A filter — pushes to the scan, prunes on
    * footer stats when the layout clusters by validity. */
  def scd2AsOf(scd: DataFrame, at: org.apache.spark.sql.Column,
               validFrom: String = "valid_from",
               validTo: String = "valid_to"): DataFrame =
    scd.filter(col(validFrom) <= at &&
      (col(validTo).isNull || col(validTo) > at))

  /** Retention policy over SCD2 history: drop versions that CEASED to
    * be valid on-or-before `cutoff` (compliance/cost lifecycle — "keep
    * N years of history"). Current versions are immune regardless of
    * age; NULL `validTo` (open) rows likewise. As-of reads at or
    * before the cutoff become unanswerable for vacuumed keys — that is
    * the retention contract, not data loss. The bucketed store's
    * [[graft.sources.PartitionedStore.scd2VacuumBucketed]] applies the
    * SAME predicate rewriting only the buckets holding expirable
    * rows. */
  def scd2Retention(scd: DataFrame, cutoff: org.apache.spark.sql.Column,
                    validTo: String = "valid_to",
                    isCurrent: String = "is_current"): DataFrame =
    // NULL isCurrent reads as not-current (coalesce) so this keep
    // filter and the bucketed vacuum's expirable probe are EXACT
    // complements — a malformed row is deterministically expirable,
    // not retained-or-dropped depending on what shares its bucket
    scd.filter(coalesce(col(isCurrent), lit(false)) ||
      col(validTo).isNull || col(validTo) > cutoff)

  /** Deterministic duplicate-PK resolution — the fix for the
    * reference's documented nondeterminism (its UPDATE…FROM with
    * duplicate staged PKs is undefined; SURVEY §2.3 caveat). Keeps, per
    * PK, the first row by `orderCols` descending (e.g. latest
    * timestamp). One shuffle on the PK; window + filter stays inside
    * whole-stage codegen. */
  def dedupLastWins(df: DataFrame, pk: Seq[String],
                    orderCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(pk.map(col): _*)
      .orderBy(orderCols.map(c => col(c).desc): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Net effect of a change-data-capture stream: collapse an ordered
    * log of I(nsert)/U(pdate)/D(elete) events to the final row per
    * key — the one window pass that replaces replaying the log row by
    * row. Per key, the event with the highest (`seqCol`, op-rank)
    * wins; a winning D removes the key, a winning I/U contributes its
    * payload. Op-rank (D=3 > U=2 > I=1) breaks EXACT seq ties so
    * equal-sequence batches resolve deterministically (delete wins —
    * the conservative reading of an ambiguous log); any other op
    * string is refused loud at evaluation (corrupt log ≠ silent drop).
    *
    * ONE shuffle on the key, window + filter inside whole-stage
    * codegen — the same plan family as [[dedupLastWins]]; at 100 TB
    * the log partitions by key and no state accumulates (contrast
    * with a foreachBatch replay, which this operator gives its
    * per-batch net-change input).
    *
    * @param changes log carrying keyCols ++ (seqCol, opCol) ++ payload
    * @return surviving rows, payload columns only (op/seq dropped) */
  def cdcNetEffect(changes: DataFrame, keyCols: Seq[String],
                   seqCol: String, opCol: String): DataFrame =
    cdcNetEffectKeepSeq(changes, keyCols, seqCol, opCol).drop(seqCol)

  /** [[cdcNetEffect]] retaining `seqCol` on the survivors — the form a
    * CONTINUOUS apply stores, so the next batch's events can lose to
    * an already-applied higher sequence (out-of-order delivery across
    * micro-batches). */
  def cdcNetEffectKeepSeq(changes: DataFrame, keyCols: Seq[String],
                          seqCol: String, opCol: String): DataFrame = {
    require(keyCols.nonEmpty, "cdcNetEffect needs key columns")
    val opRank = when(col(opCol) === "D", 3)
      .when(col(opCol) === "U", 2)
      .when(col(opCol) === "I", 1)
      .otherwise(raise_error(concat(
        lit("cdcNetEffect: unknown op '"), col(opCol),
        lit("' (expected I/U/D)"))))
    // final tiebreak: the row-content hash. Two same-key events at the
    // SAME seq with the SAME op but different payloads are a log
    // ambiguity no rank can resolve semantically — but the winner must
    // at least be a pure function of the data, never of partitioning
    // or arrival order (a replay/shuffle-dependent winner flaps state).
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(seqCol).desc, col("__op_rank").desc,
        xxhash64(changes.columns.map(col): _*).desc)
    changes.withColumn("__op_rank", opRank)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col(opCol) =!= "D")
      .drop("__rn", "__op_rank", opCol)
  }

  /** [[cdcNetEffect]] KEEPING net deletes: every key's final event
    * with a boolean `__cdc_delete` flag instead of dropping D rows —
    * the form a cross-batch CDC consumer folds
    * ([[CdcRollup.foldBatch]]), where a net delete must RETRACT
    * persisted state, not vanish inside the batch. Same window, same
    * deterministic tiebreak; `seqCol`/`opCol` dropped like
    * [[cdcNetEffect]]. */
  def cdcNetOps(changes: DataFrame, keyCols: Seq[String],
                seqCol: String, opCol: String): DataFrame = {
    require(keyCols.nonEmpty, "cdcNetOps needs key columns")
    val opRank = when(col(opCol) === "D", 3)
      .when(col(opCol) === "U", 2)
      .when(col(opCol) === "I", 1)
      .otherwise(raise_error(concat(
        lit("cdcNetOps: unknown op '"), col(opCol),
        lit("' (expected I/U/D)"))))
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(seqCol).desc, col("__op_rank").desc,
        xxhash64(changes.columns.map(col): _*).desc)
    changes.withColumn("__op_rank", opRank)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .withColumn("__cdc_delete", col(opCol) === "D")
      .drop("__rn", "__op_rank", opCol, seqCol)
  }

  /** Apply a CDC log to an existing base table: rows of keys the log
    * never touched pass through; touched keys take the log's net
    * effect (so a net D removes the base row, a net I/U replaces or
    * inserts it). Schema contract: `changes`' payload must carry the
    * base columns (extra log columns beyond seq/op are refused —
    * silent column drift in a replication stream should fail loud).
    * One shuffle each side of ONE left-anti + one union — no
    * per-event work anywhere. */
  def cdcApply(base: DataFrame, changes: DataFrame, keyCols: Seq[String],
               seqCol: String, opCol: String): DataFrame = {
    val net = cdcNetEffect(changes, keyCols, seqCol, opCol)
    require(net.columns.sorted.sameElements(base.columns.sorted),
      s"CDC payload columns ${net.columns.sorted.mkString(",")} != " +
        s"base columns ${base.columns.sorted.mkString(",")}")
    val touched = changes.select(keyCols.map(col): _*).distinct()
    base.join(touched, keyCols, "left_anti")
      .unionByName(net.select(base.columns.map(col): _*))
  }
}
