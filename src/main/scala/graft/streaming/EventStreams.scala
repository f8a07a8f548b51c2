package graft.streaming

import graft.sources.ParquetFooter
import graft.state.FoldStore
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Typed event record for the stateful-streaming operators. */
final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                       event_type: String, value: Double)

/** An emitted session: closed when `gapMinutes` pass without activity. */
final case class Session(user_id: Long, session_start: java.sql.Timestamp,
                         session_end: java.sql.Timestamp, n_events: Long,
                         total_value: Double)

private final case class SessionState(start: Long, last: Long, n: Long,
                                      total: Double)

/** Structured Streaming operators over the `events` stream.
  *
  * The reference is strictly batch (one-shot CLI, run.php:18-56) — this
  * is north-star surface for the continuous-ingest side of a training
  * pipeline. All operators take a streaming `DataFrame` (`readStream`
  * source) and return a transformed streaming frame the caller wires to
  * `writeStream`; the same code paths work in batch mode (minus
  * watermarks), which is how the ScalaTest specs drive them
  * deterministically end-to-end via MemoryStream.
  *
  * Scale notes: windowed counts do partial aggregation before the
  * shuffle on (window, event_type); sessionization shuffles once on
  * user_id and keeps one small fixed-size state record per key, with
  * event-time timeout so state is dropped — no unbounded growth.
  */
object EventStreams {

  /** Tumbling-window counts/sums with a watermark: late events beyond
    * the watermark are dropped instead of growing state forever. */
  def windowedStats(events: DataFrame, windowLength: String = "1 hour",
                    watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Stream-stream attribution join: conversions matched to same-user
    * touches inside a lookback window, as an EVENT-TIME interval join
    * with watermarks on BOTH sides — Spark derives a state-retention
    * bound from the interval condition plus the watermark delay and
    * DROPS join state as the watermark advances, so a month-long run
    * holds `lookback + watermark` worth of per-user touches, never the
    * full history (the unbounded-state hazard of a naive stream join).
    *
    * Output (append): one row per (conversion, touch) pair — the
    * streaming twin of [[graft.operators.Attribution.touchPairs]]
    * minus the per-conversion rank/count, which need the conversion
    * CLOSED — [[streamingLastTouch]] adds that via a chained windowed
    * aggregation. Window semantics match the batch operator exactly:
    * `[conv_ts − lookback, conv_ts)`.
    */
  def streamingTouchPairs(events: DataFrame, touchTypes: Seq[String],
                          convType: String, lookback: String,
                          watermark: String): DataFrame = {
    val touches = events.filter(col("event_type").isin(touchTypes: _*))
      .select(col("user_id").as("t_user_id"),
        col("event_id").as("touch_id"), col("ts").as("touch_ts"),
        col("event_type").as("touch_type"))
      .withWatermark("touch_ts", watermark)
    val convs = events.filter(col("event_type") === convType)
      .select(col("user_id"), col("event_id").as("conv_id"),
        col("ts").as("conv_ts"), col("value"))
      .withWatermark("conv_ts", watermark)
    convs.join(touches,
        col("user_id") === col("t_user_id") &&
          col("touch_ts") >= col("conv_ts") - expr(s"INTERVAL $lookback") &&
          col("touch_ts") < col("conv_ts"))
      .drop("t_user_id")
  }

  /** Streaming last-touch attribution: the interval join above CHAINED
    * into a tumbling-window aggregation (the Spark 3.4+ multiple-
    * stateful-operator form, like [[streamingCategoricalDrift]]) — one
    * row per conversion once its window finalizes, carrying the LAST
    * touch (max event-time, ties broken on touch id — deterministic
    * under replay) and the touch count, so last-touch AND linear
    * (value/n) credit read directly off the row.
    *
    * Operational note: the pipeline has TWO watermark nodes (one per
    * join branch) and Spark's global watermark is their MIN — each
    * branch only observes its own event types, so a quiet conversion
    * stream holds emission back even while touches pour in. If
    * conversions can go silent, either feed both branches a heartbeat
    * or set `spark.sql.streaming.multipleWatermarkPolicy=max`
    * (trading late-conversion tolerance for liveness).
    */
  def streamingLastTouch(events: DataFrame, touchTypes: Seq[String],
                         convType: String, lookback: String,
                         watermark: String,
                         windowLength: String = "1 hour"): DataFrame =
    streamingTouchPairs(events, touchTypes, convType, lookback, watermark)
      .groupBy(window(col("conv_ts"), windowLength), col("conv_id"),
        col("value"))
      .agg(count(lit(1)).as("n_touches"),
        max_by(struct(col("touch_id"), col("touch_type")),
          struct(col("touch_ts"), col("touch_id"))).as("last"))
      .select(col("window.start").as("window_start"), col("conv_id"),
        col("value"), col("n_touches"),
        col("last.touch_id").as("last_touch_id"),
        col("last.touch_type").as("last_touch_type"))

  /** Streaming drift monitor: per finalized event-time window, the
    * categorical PSI of `catCol` against a STATIC reference snapshot —
    * [[graft.operators.Drift.categoricalPsi]]'s arithmetic running
    * continuously (the "is production traffic drifting from the
    * training distribution?" alarm).
    *
    * Shape: two CHAINED stateful aggregations in append mode (the
    * Spark 3.4+ multiple-stateful-operator form) — (window, category)
    * counts under the watermark, then a same-length re-window collapse
    * to ONE row per window carrying its category histogram. A window
    * therefore emits exactly once, complete. Reference rates are fixed
    * at wiring time as plan literals (category-cardinality-sized; the
    * reference is never rescanned per batch; an empty reference fails
    * loud here), and the PSI fold is pure codegen'd HOF arithmetic
    * over the histogram — smoothed with `eps` exactly like the batch
    * operator, including reference categories absent from the window
    * and window categories absent from the reference.
    *
    * @return streaming (window_start, cur_total, psi) — append mode
    */
  def streamingCategoricalDrift(events: DataFrame, catCol: String,
                                reference: DataFrame, refCatCol: String,
                                windowLength: String = "1 hour",
                                watermark: String = "2 hours",
                                eps: Double = 1e-6): DataFrame = {
    // reference rates at wiring: one tiny batch job, literals after
    val refRows = reference.groupBy(col(refCatCol).cast("string").as("c"))
      .agg(count(lit(1)).as("n")).collect()
    val refTotal = refRows.map(_.getLong(1)).sum
    require(refTotal > 0, "drift reference snapshot is empty")
    val refRates: Seq[(String, Double)] = refRows.map(r =>
      (r.getString(0), r.getLong(1).toDouble / refTotal)).toSeq
    val refArr = typedlit(refRates)

    def sm(c: Column) = greatest(c, lit(eps))
    def term(cur: Column, base: Column): Column =
      round((sm(cur) - sm(base)) * log(sm(cur) / sm(base)), 9)

    val counts = events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLength),
        col(catCol).cast("string").as("category"))
      .agg(count(lit(1)).as("cur_n"))
    // same-length re-window of the window's own event time → exactly
    // one output window per input window, one row per window after the
    // histogram collapse
    val perWindow = counts
      .groupBy(window(window_time(col("window")), windowLength))
      .agg(collect_list(struct(col("category"), col("cur_n"))).as("cats"))
    val total = aggregate(col("cats"), lit(0L),
      (a, x) => a + x.getField("cur_n"))
    // Σ cur_n of one category; empty-filter-safe (aggregate over [])
    def curN(cat: Column) = aggregate(
      filter(col("cats"), x => x.getField("category") <=> cat),
      lit(0L), (a, x) => a + x.getField("cur_n"))
    val refPsi = aggregate(refArr, lit(0.0), (acc, r) =>
      acc + term(curN(r.getField("_1")).cast("double") /
        col("cur_total").cast("double"), r.getField("_2")))
    // window categories the reference has never seen: base rate = eps
    val novelPsi = aggregate(
      filter(col("cats"), x => !exists(refArr,
        r => r.getField("_1") <=> x.getField("category"))),
      lit(0.0), (acc, x) =>
        acc + term(x.getField("cur_n").cast("double") /
          col("cur_total").cast("double"), lit(eps)))
    perWindow
      .select(col("window.start").as("window_start"),
        total.as("cur_total"), col("cats"))
      .withColumn("psi", refPsi + novelPsi)
      .drop("cats")
  }

  /** Numeric twin of [[streamingCategoricalDrift]]: the stream's
    * `valueCol` is bucketed by the REFERENCE's exact percentile bands
    * (edges from [[graft.operators.Percentiles]] at wiring, one
    * codegen'd CASE chain per event — exactly
    * [[graft.operators.Drift.numericPsi]]'s banding), then the
    * categorical monitor runs on the bucket id. NULL values are
    * dropped before bucketing (matching the batch operator — a NULL
    * has no position in a numeric distribution).
    *
    * @return streaming (window_start, cur_total, psi) — append mode */
  def streamingNumericDrift(events: DataFrame, valueCol: String,
                            reference: DataFrame, refValueCol: String,
                            buckets: Int = 10,
                            windowLength: String = "1 hour",
                            watermark: String = "2 hours",
                            eps: Double = 1e-6): DataFrame = {
    import graft.operators.Drift
    // wiring makes two reference passes (edge derivation, then the
    // rate collect inside the categorical monitor) — cache across
    // them so a stream (re)start costs one reference scan
    val ref = reference.filter(col(refValueCol).isNotNull).cache()
    try {
      val edges = Drift.referenceBandEdges(ref, refValueCol, buckets)
      def bucketOf(c: Column): Column = Drift.bandBucket(c, edges, buckets)
      streamingCategoricalDrift(
        events.filter(col(valueCol).isNotNull)
          .withColumn("__bucket", bucketOf(col(valueCol).cast("double"))),
        "__bucket",
        ref.select(bucketOf(col(refValueCol).cast("double")).as("__bucket")),
        "__bucket", windowLength, watermark, eps)
    } finally ref.unpersist()
  }

  /** In-stream exactly-once dedup on an id column: duplicates arriving
    * within the watermark window are dropped with bounded state
    * (`dropDuplicatesWithinWatermark` evicts ids once the watermark
    * passes — at-least-once upstream delivery becomes effectively-once
    * without unbounded key state). */
  def dedupStream(events: DataFrame, idCols: Seq[String],
                  watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(idCols)

  /** Continuous incremental load: the reference's stage-wins PK merge
    * (SURVEY §2.3 J3, Writer/Redshift.php:155-209) lifted onto
    * Structured Streaming. Each micro-batch of staged rows merges into
    * the sink table with the exact batch semantics
    * ([[graft.operators.Load.upsert]]): matched PKs replaced wholesale,
    * new PKs appended — so a slice-drop feed becomes a continuously
    * maintained table with one line of wiring.
    *
    * Duplicate PKs *within* a micro-batch resolve deterministically
    * last-wins by `orderCols` when provided (the §2.3 caveat fix);
    * otherwise the batch passes through like the reference (which does
    * not dedup).
    *
    * Scale: the merge is the sink's [[graft.app.TableSink.upsert]].
    * A JDBC sink ships only the micro-batch and merges in the
    * database. The default does one PK anti-join (stage side is
    * micro-batch-sized → broadcast) against the current target, and
    * the sink's staging+swap write keeps the read-while-replace safe;
    * that rewrites the WHOLE target per micro-batch — O(|target|) per
    * batch. For large parquet targets use
    * [[streamingUpsertPartitioned]], which rewrites only the
    * partitions a batch touches. Checkpointing makes the merge
    * effectively-once per batch id.
    */
  def streamingUpsert(stage: DataFrame, sink: graft.app.TableSink,
                      tableName: String, pk: Seq[String],
                      checkpointDir: String,
                      orderCols: Seq[String] = Nil,
                      /** Declarative per-batch quality gate
                        * ([[graft.operators.DataChecks.assertPass]]):
                        * a violating batch fails the stream BEFORE the
                        * merge/swap — nothing publishes, and the
                        * restart replays the same batch. */
                      checks: Seq[graft.operators.DataChecks.Check] = Nil)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stage.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.operators.DataChecks.assertPass(batch.toDF(), checks,
          s"streamingUpsert($tableName) batch $batchId")
        val deduped =
          if (pk.nonEmpty && orderCols.nonEmpty)
            graft.operators.Load.dedupLastWins(batch.toDF(), pk, orderCols)
          else batch.toDF()
        if (sink.tableExists(tableName))
          sink.upsert(sink.read(tableName), deduped, pk, tableName)
        else sink.overwrite(deduped, tableName)
      }
      .start()

  /** Continuous CDC apply: each micro-batch of I/U/D replication
    * events merges into a keyed table that RETAINS each survivor's
    * sequence number, so ordering holds ACROSS batches, not just
    * within one — a batch-2 event older than the already-applied
    * batch-1 state loses to it (the stored row re-enters the net-
    * effect window as a 'U' at its stored sequence). Deletes are NOT
    * tombstoned: an event older than an applied delete arriving in a
    * later batch resurrects the key — the standard retention-window
    * contract (replication feeds are near-ordered; violations beyond
    * the feed's reorder window need tombstone retention upstream).
    * Replaying a batch is a no-op by construction (same events, same
    * window outcome). Whole-target rewrite per batch, like
    * [[streamingUpsert]] — partition the store for large targets. */
  def streamingCdcApply(changes: DataFrame, sink: graft.app.TableSink,
                        tableName: String, keyCols: Seq[String],
                        seqCol: String, opCol: String,
                        checkpointDir: String,
                        /** Per-batch quality gate — see
                          * [[streamingUpsert]]'s `checks`. */
                        checks: Seq[graft.operators.DataChecks.Check] = Nil)
      : org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.operators.DataChecks.assertPass(batch.toDF(), checks,
          s"streamingCdcApply($tableName) batch $batchId")
        applyCdcBatch(batch.toDF(), sink, tableName, keyCols, seqCol, opCol)
        ()
      }
      .start()

  private[graft] def applyCdcBatch(batch: DataFrame,
                                   sink: graft.app.TableSink,
                                   tableName: String, keyCols: Seq[String],
                                   seqCol: String, opCol: String): Unit = {
    import graft.operators.Load
    val events =
      if (sink.tableExists(tableName)) {
        val stored = sink.read(tableName).withColumn(opCol, lit("U"))
        stored.unionByName(batch.select(stored.columns.map(col): _*))
      } else batch
    sink.overwrite(
      Load.cdcNetEffectKeepSeq(events, keyCols, seqCol, opCol), tableName)
  }

  /** [[streamingUpsert]] at scale: the target is a day-partitioned
    * parquet layout ([[graft.sources.PartitionedStore]]) and each
    * micro-batch rewrites ONLY the `p_date` partitions its rows touch —
    * O(touched partitions) per batch instead of the whole-table
    * read+rewrite of the sink-generic variant, which is the wall at
    * 100 TB continuous ingest. Same merge semantics (stage-wins PK
    * upsert, optional last-wins intra-batch dedup); see
    * [[graft.sources.PartitionedStore.mergeByDay]] for the
    * partition-stability contract and swap mechanics. */
  def streamingUpsertPartitioned(stage: DataFrame, targetPath: String,
                                 tsCol: String, pk: Seq[String],
                                 checkpointDir: String,
                                 orderCols: Seq[String] = Nil,
                                 gcEveryBatches: Int = 64,
                                 /** Per-batch quality gate — see
                                   * [[streamingUpsert]]'s `checks`. */
                                 checks: Seq[graft.operators.DataChecks.Check] = Nil)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stage.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.operators.DataChecks.assertPass(batch.toDF(), checks,
          s"streamingUpsertPartitioned($targetPath) batch $batchId")
        // batchId flows through so a replayed batch can recover its
        // own crashed partition swap automatically (_APPLIED marker)
        graft.sources.PartitionedStore.mergeByDay(
          batch.toDF(), targetPath, tsCol, pk, orderCols,
          batchId = Some(batchId))
        gcTick(batch.sparkSession, targetPath, batchId, gcEveryBatches)
      }
      .start()

  /** Type-2 SCD history ([[graft.operators.Load.scd2Merge]]) lifted
    * onto Structured Streaming: each micro-batch closes changed
    * current versions at the batch's effective date — MAX(`effCol`)
    * over the batch — and opens new ones; unchanged keys, history
    * rows, and unmatched keys pass through. The first batch bootstraps
    * the table (every row an open version from the batch date).
    *
    * EFFECTIVELY-ONCE WITHOUT MARKERS: the effective date derives from
    * the BATCH DATA (MAX over the RAW batch, before dedup), so a
    * checkpoint replay recomputes the identical merge — and
    * `scd2Merge` is idempotent (re-applying a batch whose versions are
    * already open is a pure no-op), so foreachBatch's at-least-once
    * replay composes to exactly-once table state with none of the
    * `_APPLIED` marker machinery the rollup sinks need. Replay
    * determinism also needs the intra-batch dedup to be deterministic
    * under ORDER TIES (two updates to a key at the same `orderCols`
    * values), so the last-wins ordering carries a full-row hash
    * tiebreaker — without it, a replay could keep the other tied row
    * and write a different table than the first attempt.
    *
    * LATE BATCHES FAIL LOUD: a batch whose effective date precedes the
    * table's newest `validFrom` would close versions at a date BEFORE
    * they opened — negative validity intervals that point-in-time
    * reads can never match, i.e. silent history corruption. Retroactive
    * corrections are a different operation (rebuild the affected
    * range); this sink refuses the batch instead. Equal dates are
    * fine (same-date re-changes close a zero-length version; the
    * current version stays correct).
    *
    * `effCol` is dropped from the tracked attributes: its monotone
    * movement would otherwise read as a "change" and re-open every
    * staged key every batch. Duplicate keys within a batch resolve
    * last-wins by `orderCols` (default: `effCol` — latest record
    * wins), since staged keys must be unique for the merge.
    *
    * Scale: same O(|target|)-per-batch rewrite as [[streamingUpsert]],
    * fine for a dimension table orders of magnitude smaller than its
    * fact streams. A huge dimension wants the hash-bucketed layout —
    * use [[streamingScd2Partitioned]], which rewrites only the buckets
    * a batch's keys hash into. */
  def streamingScd2(stage: DataFrame, sink: graft.app.TableSink,
                    tableName: String, pk: Seq[String], effCol: String,
                    checkpointDir: String,
                    orderCols: Seq[String] = Nil,
                    validFrom: String = "valid_from",
                    validTo: String = "valid_to",
                    isCurrent: String = "is_current",
                    /** Per-batch quality gate — see
                      * [[streamingUpsert]]'s `checks`. */
                    checks: Seq[graft.operators.DataChecks.Check] = Nil)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // contract checks at WIRING time (ONE definition shared by every
    // SCD2 entry point — Load.validateScd2Stage): failing here beats a
    // bootstrap batch silently overwriting a real valid_from column
    // and every later batch wedging on scd2Merge's stage check
    graft.operators.Load.validateScd2Stage(stage.columns.toSeq, pk,
      effCol, validFrom, validTo, isCurrent)
    stage.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        import graft.operators.Load
        graft.operators.DataChecks.assertPass(batch.toDF(), checks,
          s"streamingScd2($tableName) batch $batchId")
        // the batch feeds two jobs (one-row MAX + the merge write):
        // persist so the source scan and dedup window run once
        val b = batch.toDF()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // one probe job: the batch effective date + the NULL-key
          // refusal (a NULL key never matches the merge join — it
          // would accrete a duplicate open version per batch)
          val aggFrame = b.agg(max(col(effCol)),
            max(pk.map(col(_).isNull).reduce(_ || _)))
          val effRow = aggFrame.head() // NULL = empty/all-null batch → no-op
          if (!effRow.isNullAt(1) && effRow.getBoolean(1))
            throw new graft.model.UserException(
              s"batch carries NULL business key(s) [${pk.mkString(",")}]" +
                " — filter or repair NULL-keyed rows upstream")
          if (!effRow.isNullAt(0)) {
            val effType = aggFrame.schema.head.dataType
            val eff = lit(effRow.get(0)).cast(effType)
            val ord = if (orderCols.nonEmpty) orderCols else Seq(effCol)
            val deduped = Load.dedupLastWins(
                b.withColumn("__scd2_tb", xxhash64(b.columns.map(col): _*)),
                pk, ord :+ "__scd2_tb")
              .drop("__scd2_tb")
            val data = deduped.drop(effCol)
            val merged =
              if (sink.tableExists(tableName)) {
                val target = sink.read(tableName)
                val maxVf = target.filter(col(isCurrent))
                  .agg(max(col(validFrom))).head()
                if (!maxVf.isNullAt(0) &&
                    effRow.get(0).asInstanceOf[Comparable[Any]]
                      .compareTo(maxVf.get(0)) < 0)
                  throw new graft.model.UserException(
                    s"late batch: effective date ${effRow.get(0)} precedes " +
                      s"the table's newest $validFrom ${maxVf.get(0)} — " +
                      "merging would create negative validity intervals " +
                      "(silent history corruption). Rebuild the affected " +
                      "range instead")
                Load.scd2Merge(target, data, pk, eff,
                  validFrom, validTo, isCurrent)
              } else data
                .withColumn(validFrom, eff)
                .withColumn(validTo, lit(null).cast(effType))
                .withColumn(isCurrent, lit(true))
            sink.overwrite(merged, tableName)
          }
        } finally b.unpersist()
        ()
      }
      .start()
  }

  /** [[streamingScd2]] at scale: the dimension lives hash-bucketed on
    * the business key ([[graft.sources.PartitionedStore.scd2MergeBucketed]])
    * and each micro-batch rewrites ONLY the buckets its keys hash
    * into — O(touched buckets), not O(|target|). Same batch semantics
    * (batch-derived effective date, tie-broken last-wins dedup, late
    * batches refused) plus the `_APPLIED`-marker crashed-swap recovery
    * every partition-scoped writer here shares; the bucket function is
    * pinned at bootstrap, so a mis-wired restart fails loud instead of
    * splitting key histories. */
  def streamingScd2Partitioned(stage: DataFrame, targetPath: String,
                               pk: Seq[String], effCol: String,
                               nBuckets: Int, checkpointDir: String,
                               orderCols: Seq[String] = Nil,
                               gcEveryBatches: Int = 64,
                               /** Retention cadence: every
                                 * `retentionEveryBatches` batches,
                                 * vacuum versions that ceased to be
                                 * valid more than `retentionLag` (an
                                 * INTERVAL literal, e.g. "90 days")
                                 * before the batch's own effective
                                 * date — event-time-anchored, so a
                                 * backfill replay vacuums identically.
                                 * Off unless BOTH are set. */
                               retentionLag: Option[String] = None,
                               retentionEveryBatches: Int = 0,
                               /** Per-batch quality gate — see
                                 * [[streamingUpsert]]'s `checks`. */
                               checks: Seq[graft.operators.DataChecks.Check] = Nil)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // same wiring-time contract as streamingScd2: a schema violation
    // must fail at .start(), not hours later on the first micro-batch
    graft.operators.Load.validateScd2Stage(stage.columns.toSeq, pk,
      effCol, "valid_from", "valid_to", "is_current",
      extraReserved = Set("p_bucket"))
    require(nBuckets >= 1, s"nBuckets must be positive: $nBuckets")
    // retention is lag AND cadence — one without the other is a
    // silently-never-firing policy (unbounded history accretion the
    // operator believes is bounded); fail at wiring like every other
    // bad spec here
    require(retentionLag.isDefined == (retentionEveryBatches > 0),
      "retention needs BOTH retentionLag and retentionEveryBatches > 0" +
        " (or neither)")
    // parse AND analyze the INTERVAL literal NOW: the wiring contract
    // above says a bad spec fails at .start(), not on cadence batch N
    // hours later (expr alone defers unit errors to analysis, so
    // resolve it against a throwaway frame)
    val retentionInterval = retentionLag.map { l =>
      val c = expr(s"INTERVAL $l")
      stage.sparkSession.range(1).select(c).schema // forces analysis
      c
    }
    stage.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.operators.DataChecks.assertPass(batch.toDF(), checks,
          s"streamingScd2Partitioned($targetPath) batch $batchId")
        val cadence = retentionInterval.isDefined &&
          retentionEveryBatches > 0 && batchId > 0 &&
          batchId % retentionEveryBatches == 0
        // cadence batches read the micro-batch TWICE (merge + the
        // cutoff's max(effCol)) — persist so the source isn't
        // re-fetched for the second pass
        val df = if (cadence) batch.toDF().persist() else batch.toDF()
        try {
          graft.sources.PartitionedStore.scd2MergeBucketed(
            df, targetPath, pk, effCol, nBuckets, orderCols,
            batchId = Some(batchId))
          if (cadence) {
            // cutoff anchors to the BATCH's effective date (its max
            // effCol), not wall clock — replays vacuum the same rows.
            // batchId flows through so the vacuum's stage carries the
            // _APPLIED license a crashed-swap replay recovers by.
            val effRow = df.agg(max(col(effCol))).head()
            if (!effRow.isNullAt(0))
              graft.sources.PartitionedStore.scd2VacuumBucketed(
                batch.sparkSession, targetPath,
                lit(effRow.get(0)) - retentionInterval.get,
                batchId = Some(batchId))
          }
        } finally if (cadence) { df.unpersist(); () }
        gcTick(batch.sparkSession, targetPath, batchId, gcEveryBatches)
      }
      .start()
  }

  /** The maintenance cadence every long-running partition-scoped sink
    * wires in: crash leftovers are PRESERVED by the swap protocol
    * (a stranded stage can hold the only copy of its data, so nothing
    * deletes eagerly), which means a stream that crashes and recovers
    * over months accretes one deletable shell per healed crash unless
    * something reaps them. Every `every` batches, sweep THIS table's
    * shells through [[graft.operators.Maintenance
    * .cleanTableOrphanStages]] — age-gated (default 24 h) so an
    * in-flight concurrent writer's fresh stage survives, and
    * recoverable shells (target missing / staged partition missing)
    * are left for the loud manual path. GC failure must never wedge
    * ingest: reported, not rethrown. */
  /** Watermark-driven LATE-EVENT ROUTER — the dead-letter shape
    * Structured Streaming's own watermarking hides (late rows are
    * silently dropped inside stateful operators; an auditable
    * pipeline wants them ROUTED, counted, and replayable): each
    * micro-batch splits against a persisted event-time high-watermark
    * minus `latenessMs`; on-time rows land under
    * `mainPath/batch_id=<id>`, late rows under `latePath/batch_id=
    * <id>` (both overwrite-idempotent), and the watermark advances to
    * max(previous, batch max event time).
    *
    * REPLAY-DETERMINISTIC: the naive design (read current watermark,
    * split, advance) reclassifies rows on replay — the first attempt
    * may have advanced the watermark before crashing, so the retry
    * would see a HIGHER cutoff and route more rows late than the
    * attempt that partially landed. Here each batch's marker
    * (`_late_hwm/hwm_<id>`, staged+renamed) records the watermark
    * BEFORE the batch; a replayed batch finds its own marker and
    * re-splits against the identical cutoff, so both partition
    * overwrites are byte-stable. Only the last two markers are kept
    * (the checkpoint replays at most the last uncommitted batch) —
    * the rollup sinks' marker discipline on a two-file budget.
    *
    * Rows with NULL event time are ON-TIME by definition (no basis to
    * judge lateness; route them with a check if NULLs are invalid).
    * First batch has no watermark — nothing can be late. */
  def streamingLateRouter(events: DataFrame, mainPath: String,
                          latePath: String, tsCol: String,
                          latenessMs: Long, checkpointDir: String,
                          /** Per-batch quality gate — see
                            * [[streamingUpsert]]'s `checks`. */
                          checks: Seq[graft.operators.DataChecks.Check] = Nil)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(latenessMs >= 0, s"latenessMs must be >= 0, got $latenessMs")
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.operators.DataChecks.assertPass(batch.toDF(), checks,
          s"streamingLateRouter($mainPath) batch $batchId")
        routeLateBatch(batch.toDF(), mainPath, latePath, tsCol,
          latenessMs, batchId)
        ()
      }
      .start()
  }

  /** One routed batch; exposed for specs. */
  private[graft] def routeLateBatch(batch: DataFrame, mainPath: String,
                                    latePath: String, tsCol: String,
                                    latenessMs: Long,
                                    batchId: Long): Unit = {
    import org.apache.hadoop.fs.Path
    val spark = batch.sparkSession
    val hwmDir = new Path(mainPath, "_late_hwm")
    val fs = hwmDir.getFileSystem(spark.sessionState.newHadoopConf())
    val own = new Path(hwmDir, s"hwm_$batchId")
    // marker payload: "<prev>|<new>" micros, "none" for absent
    def readMarker(p: Path): (Option[Long], Option[Long]) = {
      val in = fs.open(p)
      val line =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      line.split('|') match {
        case Array(a, b) =>
          def parse(s: String) = if (s == "none") None else Some(s.toLong)
          (parse(a), parse(b))
        case _ => throw new java.io.IOException(
          s"corrupt late-router marker $p: '$line'")
      }
    }
    val prev: Option[Long] =
      if (fs.exists(own)) readMarker(own)._1 // replay: pin the original basis
      else if (!fs.exists(hwmDir)) None
      else {
        val ids = fs.listStatus(hwmDir).toSeq.map(_.getPath.getName)
          .filter(_.startsWith("hwm_"))
          .map(_.stripPrefix("hwm_").toLong)
          .filter(_ < batchId)
        if (ids.isEmpty) None
        else readMarker(new Path(hwmDir, s"hwm_${ids.max}"))._2
      }
    // the batch feeds three jobs (two writes + the max probe): persist
    val b = batch.withColumn("__micros",
        expr(s"unix_micros(cast(`$tsCol` as timestamp))"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cutoff = prev.map(_ - latenessMs * 1000L)
      val isLate = cutoff
        .map(c => coalesce(col("__micros") < c, lit(false)))
        .getOrElse(lit(false))
      b.filter(!isLate).drop("__micros").write.mode("overwrite")
        .parquet(s"$mainPath/batch_id=$batchId")
      b.filter(isLate).drop("__micros").write.mode("overwrite")
        .parquet(s"$latePath/batch_id=$batchId")
      val mx = b.agg(max(col("__micros"))).head()
      val batchMax = if (mx.isNullAt(0)) None else Some(mx.getLong(0))
      val newHwm = (prev.toSeq ++ batchMax.toSeq)
        .reduceOption(math.max(_, _))
      if (!fs.exists(own)) {
        if (!fs.exists(hwmDir)) fs.mkdirs(hwmDir)
        def render(o: Option[Long]) = o.map(_.toString).getOrElse("none")
        val tmp = new Path(hwmDir, s".hwm_${batchId}_tmp")
        val out = fs.create(tmp, true)
        try out.write(s"${render(prev)}|${render(newHwm)}".getBytes("UTF-8"))
        finally out.close()
        if (!fs.rename(tmp, own))
          throw new java.io.IOException(s"marker rename failed: $tmp -> $own")
      }
      // two-marker budget: this batch's and its predecessor's
      fs.listStatus(hwmDir).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith("hwm_") && n.stripPrefix("hwm_").toLong < batchId - 1) {
          fs.delete(st.getPath, false)
          ()
        }
      }
    } finally { b.unpersist(); () }
  }

  private def gcTick(spark: org.apache.spark.sql.SparkSession,
                     tablePath: String, batchId: Long, every: Int,
                     olderThanMs: Long = 24L * 3600 * 1000): Unit =
    if (every > 0 && batchId > 0 && batchId % every == 0)
      try {
        graft.operators.Maintenance.cleanTableOrphanStages(
          spark, tablePath, olderThanMs)
        ()
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(
            s"[graft] orphan-stage GC for '$tablePath' skipped: " +
              s"${e.getMessage}")
      }

  /** Streaming face of [[graft.operators.IncrementalAgg]]: keep a
    * persisted per-key rollup current as micro-batches arrive. Each
    * batch folds through the monoid state (one key-cardinality
    * shuffle — history never rescanned) and the new state swaps in via
    * staging+rename, the engine's overwrite pattern.
    *
    * EXACTLY-ONCE under foreachBatch's at-least-once replay: the
    * `_APPLIED_<batchId>` marker is written INTO the staging directory
    * before the atomic rename, so state and marker commit together —
    * a replayed batch sees its own marker inside the live state and
    * skips the fold (a marker-after-swap scheme would double-count on
    * a crash between swap and marker). Only the latest marker needs
    * carrying: the checkpoint replays at most the last uncommitted
    * batch. Crash between delete and rename leaves the stage as the
    * only copy — it uses the `__stage_` naming, so
    * [[graft.operators.Maintenance.recoverableStages]] reports it. */
  def streamingRollup(events: DataFrame, statePath: String,
                      keys: Seq[String], valueCol: String,
                      checkpointDir: String,
                      /** Also maintain an approx-distinct of this
                        * column per key (fixed-size OR-mergeable
                        * bitmap state — see
                        * [[graft.operators.IncrementalAgg.partialState]]);
                        * exact distinct is not expressible as bounded
                        * fold state. */
                      distinctCol: Option[String] = None,
                      /** Also maintain p50/p95/p99 of `valueCol` per
                        * key (bounded count-additive sketch state — see
                        * [[graft.operators.IncrementalAgg.partialState]]);
                        * exact quantiles are not expressible as bounded
                        * fold state. */
                      trackQuantiles: Boolean = false,
                      gcEveryBatches: Int = 64,
                      /** Per-batch quality gate — see
                        * [[streamingUpsert]]'s `checks`. */
                      checks: Seq[graft.operators.DataChecks.Check] = Nil)
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.operators.DataChecks.assertPass(batch.toDF(), checks,
          s"streamingRollup($statePath) batch $batchId")
        applyRollupBatch(batch.toDF(), statePath, batchId, keys, valueCol,
          distinctCol, trackQuantiles)
        // the state dir is `<statePath>/state`; its healed-crash
        // shells (`state__stage_*`) are siblings inside the root
        gcTick(batch.sparkSession, s"$statePath/state", batchId,
          gcEveryBatches)
      }
      .start()

  /** Bucket-partitioned variant of [[streamingRollup]] for
    * HIGH-CARDINALITY keys (per-user / per-document rollups —
    * billions of keys at the 100 TB posture): the state persists
    * partitioned by `bucket = pmod(xxhash64(keys), nBuckets)` and a
    * batch rewrites ONLY the buckets its keys touch —
    * O(touched state), not O(|keys|) — the same wall
    * [[graft.sources.PartitionedStore.mergeByDay]] removes for data.
    * Exactly-once is per BUCKET: each staged bucket carries the
    * batch's `_APPLIED_<batchId>` marker through its atomic rename,
    * so a replayed batch folds only buckets whose swap never landed
    * (already-landed buckets are skipped, not re-folded). */
  def streamingRollupBucketed(events: DataFrame, statePath: String,
                              keys: Seq[String], valueCol: String,
                              checkpointDir: String, nBuckets: Int = 64,
                              gcEveryBatches: Int = 64,
                              /** Per-batch quality gate — see
                                * [[streamingUpsert]]'s `checks`. */
                              checks: Seq[graft.operators.DataChecks.Check] = Nil)
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.operators.DataChecks.assertPass(batch.toDF(), checks,
          s"streamingRollupBucketed($statePath) batch $batchId")
        applyRollupBatchBucketed(batch.toDF(), statePath, batchId, keys,
          valueCol, nBuckets)
        gcTick(batch.sparkSession, s"$statePath/state", batchId,
          gcEveryBatches)
      }
      .start()

  /** Streaming face of the CROSS-ROOT fold manifest
    * ([[graft.operators.FoldManifest]]): fold one micro-batch bus
    * into N view roots, then GROUP-commit the batch id — each root's
    * own exactly-once protocol plus the manifest witness, driven by
    * a real foreachBatch restart loop instead of an out-of-band
    * orchestrator.
    *
    * `folds` pairs each root path with its fold thunk — close over
    * the family call ([[graft.operators.CdcRollup.foldBatch]],
    * [[applyRollupBatchBucketed]],
    * [[graft.operators.JoinView.foldBatchDirs]], ...). A thunk must
    * write exactly its own root: the manifest commit verifies every
    * root's OWN committed evidence (rollup roots by POST-swap
    * evidence) before witnessing, so a thunk that wrote elsewhere
    * refuses there rather than overstating the group.
    *
    * Crash ANYWHERE — between roots, or between the last fold and
    * the manifest commit — restart-replays the micro-batch from the
    * checkpoint: every already-applied root no-ops under its own
    * markers, lagging roots catch up, and the group marker lands
    * exactly once (a replayed committed id is a quiet false).
    * Consumers gating pulls on the manifest frontier never observe a
    * mixed snapshot through any of it — the crash-between-roots
    * window shows them the PREVIOUS group frontier, consistent
    * across every member view. */
  def streamingMultiView(events: DataFrame, manifestPath: String,
                         folds: Seq[(String, (DataFrame, Long) => Unit)],
                         checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(folds.nonEmpty, "streamingMultiView needs at least one root")
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row],
                       batchId: Long) =>
        // one bus, N folds — persist so the batch materializes once,
        // not once per root
        val df = batch.toDF().persist()
        try {
          folds.foreach { case (_, fold) => fold(df, batchId) }
          graft.operators.FoldManifest.commit(batch.sparkSession,
            manifestPath, batchId, folds.map(_._1))
          ()
        } finally { df.unpersist(); () }
      }
      .start()
  }

  /** Exactly-once RETRACTION-capable rollup over a streaming CDC log —
    * the streaming face of [[graft.operators.CdcRollup.foldBatch]]
    * (shared with the `maintainView` CLI action's `cdcRollup` kind)
    * and the 11th sink of this family. Each micro-batch is one CDC
    * batch: netted within the batch, cross-batch updates/deletes
    * retract the persisted (n, total...) state exactly — EVERY
    * `valueCols` measure in the same fold. Replay safety is the
    * fold's own `_APPLIED_<batchId>` marker over COPY-ON-WRITE
    * versioned buckets — a restarted stream re-offering a committed
    * batch is a no-op, and a crashed batch's unmarked versions are
    * invisible garbage its replay reaps.
    *
    * The fold reaps its own superseded versions, so steady state
    * holds ~1 version per bucket — but two slower accumulations
    * remain: batch ids a wiped checkpoint ABANDONS strand staging
    * dirs and unmarked versions no replay ever reaps, and the
    * per-batch `_APPLIED_<id>` markers grow one file per fold
    * forever. Every `gcEveryBatches` batches the sink sweeps the
    * former ([[graft.operators.CdcRollup.cleanOrphanBatchDirs]]) and
    * folds the AGED part of the latter into the `_APPLIED_UPTO_`
    * watermark ([[graft.operators.CdcRollup.foldMarkers]] with the
    * `gcOlderThanMs` age gate — ids inside their replay window keep
    * per-id markers, so the monotone guard stays loud for
    * out-of-order gap ids; the checkpoint itself feeds monotone
    * ids). Failure never wedges ingest: reported, not rethrown. */
  def streamingCdcRollup(events: DataFrame, pkCols: Seq[String],
                         seqCol: String, opCol: String,
                         groupCols: Seq[String], valueCols: Seq[String],
                         statePath: String, checkpointDir: String,
                         nBaseBuckets: Int = 64, nAggBuckets: Int = 16,
                         gcEveryBatches: Int = 64,
                         /** Per-batch quality gate — see
                           * [[streamingUpsert]]'s `checks`. */
                         checks: Seq[graft.operators.DataChecks.Check] = Nil,
                         /** GC age gate for marker folds + orphan
                           * sweeps (default 24 h). */
                         gcOlderThanMs: Long = 24L * 3600 * 1000,
                         /** Exact MIN/MAX measure columns — see
                           * [[graft.operators.CdcRollup.foldBatch]]. */
                         minMaxCols: Seq[String] = Nil,
                         /** As-of snapshot retention window: Some(ms)
                           * enables retention mode BEFORE the first
                           * fold (so every batch's snapshot is
                           * servable from the start — enabling later
                           * floors at the then-frontier) and reaps
                           * history older than the window on the GC
                           * cadence, floor-advancing
                           * ([[graft.operators.CdcRollup
                           * .reapRetainedVersions]]). None (default) =
                           * eager reaping, no history. */
                         retainMs: Option[Long] = None,
                         /** Extra rollup views over the same base —
                           * see [[graft.operators.CdcRollup
                           * .foldBatch]] `auxViews`. */
                         auxViews: Seq[(String, Seq[String])] = Nil,
                         /** Per-aux exact MIN/MAX columns — see
                           * [[graft.operators.CdcRollup.foldBatch]]
                           * `auxMinMaxCols`. */
                         auxMinMaxCols: Map[String, Seq[String]] =
                           Map.empty)
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.operators.DataChecks.assertPass(batch.toDF(), checks,
          s"streamingCdcRollup($statePath) batch $batchId")
        // idempotent: a no-op once the floor file exists, so restart
        // replay cannot move the floor
        retainMs.foreach(_ => graft.operators.CdcRollup
          .enableRetention(batch.sparkSession, statePath))
        graft.operators.CdcRollup.foldBatch(statePath, batchId,
          batch.toDF(), pkCols, seqCol, opCol, groupCols, valueCols,
          nBaseBuckets, nAggBuckets, minMaxCols, auxViews,
          auxMinMaxCols)
        if (gcEveryBatches > 0 && batchId > 0 &&
            batchId % gcEveryBatches == 0)
          try {
            graft.operators.CdcRollup.cleanOrphanBatchDirs(
              batch.sparkSession, statePath, gcOlderThanMs)
            graft.operators.CdcRollup.foldMarkers(
              batch.sparkSession, statePath, gcOlderThanMs)
            retainMs.foreach(ms => graft.operators.CdcRollup
              .reapRetainedVersions(batch.sparkSession, statePath, ms))
            ()
          } catch {
            case scala.util.control.NonFatal(e) =>
              System.err.println(
                s"[graft] cdc-rollup GC for '$statePath' skipped: " +
                  s"${e.getMessage}")
          }
        () // foreachBatch wants Unit; the Boolean is marker state
      }
      .start()

  /** Exactly-once maintained JOIN view over ONE tagged delta bus —
    * the streaming face of [[graft.operators.JoinView.foldBatchDirs]]
    * (shared with the `maintainView` CLI action). Real CDC buses
    * carry several tables down one stream; `sideCol` ("a"/"b") routes
    * each row to its side and `aCols`/`bCols` project the side's
    * schema out of the unified frame (unused columns of the other
    * side ride as NULLs upstream, dropped here).
    *
    * Per micro-batch: the two sides fold through the delta algebra
    * ΔV = ΔA⋈(B∪ΔB) ∪ A⋈ΔB against the directory-persisted
    * snapshots — history is never re-joined against itself. Replay
    * safety comes from the fold's own `_APPLIED_<batchId>` marker:
    * a restarted stream re-offering a committed batch is a no-op, so
    * the view is byte-stable across crash-replay like every sink in
    * this file. Unknown side tags fail the batch LOUD — a silently
    * dropped side is a view that quietly diverges. */
  def streamingJoinView(events: DataFrame, sideCol: String,
                        aCols: Seq[String], bCols: Seq[String],
                        key: String, statePath: String,
                        checkpointDir: String,
                        /** Key-hash bucket count of the persisted
                          * layout (pinned at first fold) — each
                          * fold's snapshot reads prune to the
                          * delta's touched buckets. */
                        nBuckets: Int = 64,
                        /** Per-batch quality gate — see
                          * [[streamingUpsert]]'s `checks`. */
                        checks: Seq[graft.operators.DataChecks.Check] = Nil,
                        /** GC age gate for marker folds + orphan
                          * sweeps (default 24 h). */
                        gcOlderThanMs: Long = 24L * 3600 * 1000)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(aCols.contains(key) && bCols.contains(key),
      s"streamingJoinView: both side projections must carry key '$key'")
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.operators.DataChecks.assertPass(batch.toDF(), checks,
          s"streamingJoinView($statePath) batch $batchId")
        // the batch feeds a tag audit + two side projections — cache
        // the (delta-sized) batch, not the snapshots
        val cached = batch.toDF().persist()
        try {
          // null-safe: `isin` yields NULL for a NULL tag and `!NULL`
          // is NULL, which a bare filter DROPS — the exact row class
          // this audit exists to catch (a NULL-tagged row matches
          // neither side projection and would vanish silently)
          val badTag = cached.filter(
            !coalesce(col(sideCol).isin("a", "b"), lit(false)))
            .limit(1).count()
          require(badTag == 0L,
            s"streamingJoinView($statePath) batch $batchId: side tag " +
              s"outside {a, b} — refusing to drop rows silently")
          graft.operators.JoinView.foldBatchDirs(statePath, batchId, key,
            cached.filter(col(sideCol) === "a").select(aCols.map(col): _*),
            cached.filter(col(sideCol) === "b").select(bCols.map(col): _*),
            nBuckets)
          // GC cadence (the rollup sinks' r6 pattern): abandoned batch
          // ids — a crashed writer that never replays the same id —
          // strand hidden .staging<id> / unmarked d<id> dirs forever;
          // sweep aged ones every 64 batches, and fold aged committed
          // markers into the `_APPLIED_UPTO_` watermark (sound here:
          // the checkpoint feeds monotone ids). Failure never wedges
          // ingest: reported, not rethrown.
          if (batchId > 0 && batchId % 64 == 0)
            try {
              graft.operators.JoinView.cleanOrphanBatchDirs(
                cached.sparkSession, statePath, gcOlderThanMs)
              graft.operators.JoinView.foldMarkers(
                cached.sparkSession, statePath, gcOlderThanMs)
              ()
            } catch {
              case scala.util.control.NonFatal(e) =>
                System.err.println(
                  s"[graft] join-view orphan GC for '$statePath' " +
                    s"skipped: ${e.getMessage}")
            }
          () // foreachBatch wants Unit; the fold's Boolean is marker state
        } finally { cached.unpersist(); () }
      }
      .start()
  }

  /** One bucketed fold; returns the bucket ids actually swapped or
    * recovered (empty = the batch was fully applied already). */
  private[graft] def applyRollupBatchBucketed(batch: DataFrame,
                                              statePath: String,
                                              batchId: Long,
                                              keys: Seq[String],
                                              valueCol: String,
                                              nBuckets: Int): Seq[Int] = {
    import graft.operators.IncrementalAgg
    import org.apache.hadoop.fs.Path
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    val spark = batch.sparkSession
    val root = new Path(statePath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val cur = new Path(root, "state")
    // Batch ids are MONOTONE — enforced loud, because the per-bucket
    // `_APPLIED_<id>` markers are exactly-once evidence only until a
    // LATER fold rewrites the bucket (the swap replaces the bucket dir,
    // markers included). Replaying an older id after that would
    // re-fold it into the state silently. The streaming checkpoint is
    // monotone by construction; this guards the CLI/library entry
    // points. `_LAST_BATCH` advances via temp+rename BEFORE the swap:
    // a crash in either order re-allows the SAME id (the refusal is
    // strictly <, and per-bucket markers discriminate the replay),
    // but advancing first also closes the window where a crash after
    // the swap would briefly re-allow OLDER ids. The flip side: the
    // frontier alone is PRE-swap evidence — group witnesses must use
    // [[rollupBatchApplied]] (frontier + no stranded stage holding
    // the id's markers), never bare `_LAST_BATCH >= id`.
    val lastBatch = readLastBatch(fs, root)
    lastBatch.filter(batchId < _).foreach { last =>
      throw new graft.model.UserException(
        s"rollup state $statePath: batch $batchId is below the last " +
          s"committed batch $last — a bucket rewritten by a later fold " +
          "drops the older batch's per-bucket marker, so an old id " +
          "cannot be replayed exactly-once; feed batch ids in " +
          "increasing order")
    }
    // AS-OF RETENTION mode ([[enableRollupRetention]]): after the swap
    // the fold ALSO snapshots the touched buckets' post-fold state
    // into `history/bucket=<b>/v<batchId>`, committed by a root
    // `_APPLIED_<batchId>` marker written LAST — the COW history
    // [[readRollupStateAsOf]] resolves. Written AFTER the swap (from
    // the live state, so the stranded-stage recovery path's buckets
    // are covered too); a crash between swap and marker leaves the
    // version invisible, and the REPLAY of the same id backfills it
    // from the (already swapped) state — `commitHistory` runs on the
    // already-applied early returns for exactly that window.
    val retainOn = graft.operators.BatchMarkers.readFloor(fs, root)
      .isDefined
    // CHANGE-LOG mode ([[enableRollupChangeLog]]): every fold ALSO
    // emits its per-key FINALIZED-view changes (old row vs merged
    // row, batch keys only — a monoid key not in the batch cannot
    // change) into `log/b<batchId>`, staged and RENAMED BEFORE the
    // swap while the old state is still intact, and witnessed by a
    // root `_APPLIED_<batchId>` marker committed AFTER the swap (the
    // cdc log discipline: the marker is the committedness readers
    // resolve; an unwitnessed dir is invisible). A replay that finds
    // the dir SKIPS re-emission — mandatory, not an optimization: a
    // partial swap already destroyed some old images, and the dir's
    // contents are a pure function of (old state, batch), identical
    // on every attempt. Any stage carrying this batch's markers
    // implies the log rename already happened (emission strictly
    // precedes staging), so the recovery paths never need the old
    // state back.
    val logOn = graft.operators.BatchMarkers.readLogFrom(fs, root)
    logOn.foreach { bound =>
      // the raced-enable / skipped-replay guard: a frontier ABOVE
      // every witness with no log dir means a fold committed without
      // logging (enableRollupChangeLog raced it) or a crashed fold's
      // replay was skipped — folding PAST it would mint a silent
      // coverage gap, so refuse loud. A frontier whose log dir exists
      // and whose swap finished just lost its marker to a crash —
      // heal by committing the witness here.
      val maxC = graft.operators.BatchMarkers.read(fs, root)
        .maxCommitted.getOrElse(-1L) max bound
      lastBatch.filter(_ > maxC).foreach { lb =>
        if (fs.exists(FoldStore.batchDir(root, "log", lb)) &&
            rollupBatchApplied(fs, root, lb)) {
          graft.operators.BatchMarkers.commit(fs, root, lb); ()
        } else if (batchId > lb)
          throw new graft.model.UserException(
            s"rollup change log under $statePath: the frontier $lb " +
              "is above every log witness and its log dir is " +
              (if (fs.exists(FoldStore.batchDir(root, "log", lb)))
                "present but its swap never finished — replay that " +
                "batch first (the recovery completes the swap)"
              else "absent — a fold committed without logging (the " +
                "enable raced it?); re-run enableRollupChangeLog to " +
                "advance the bound past the gap (forward-only " +
                "consumers must re-baseline)"))
      }
    }
    def commitLogWitness(): Unit =
      if (logOn.isDefined && !graft.operators.BatchMarkers
          .read(fs, root).committed(batchId)) {
        graft.operators.BatchMarkers.commit(fs, root, batchId); ()
      }
    def commitHistory(touched: Seq[Int]): Unit = {
      if (!retainOn || touched.isEmpty) return
      if (graft.operators.BatchMarkers.read(fs, root)
          .committed(batchId)) return // fully finished before
      val slice = ParquetFooter.read(spark, fs, Seq(cur))
        .filter(col("bucket")
          .isin(touched.map(b => lit(b): Column): _*))
      FoldStore.writeVersion(fs, root, "history", batchId, slice, "bucket",
        touched.toSet)
      graft.operators.BatchMarkers.commit(fs, root, batchId)
    }
    // the replace renames over the old frontier, so no local crash
    // leaves it missing (a missing _LAST_BATCH would drop the monotone
    // guard and briefly re-admit older ids)
    def advanceLastBatch(): Unit =
      if (lastBatch.forall(batchId > _))
        graft.state.SmallFiles.replace(fs, root, "_LAST_BATCH",
          batchId.toString, s"could not advance _LAST_BATCH at $root")
    // The bucket function is part of the PERSISTED layout: a changed
    // nBuckets (or key set/order) re-hashes keys into different
    // buckets, and a partial rewrite under the new function would
    // strand — then silently delete — rows of the old layout. Pin the
    // config at first fold; any later mismatch fails loud (re-shard by
    // folding the old state into a fresh path instead).
    // URL-encode each component: column names may legally contain the
    // delimiters (backticked `a|b`), and an ambiguous encoding would
    // let two different bucket functions serialize identically —
    // passing the very pin that exists to stop them
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    val config =
      s"$nBuckets|${keys.map(enc).mkString(",")}|${enc(valueCol)}"
    // legacy form (pre-encoding states): raw components. Accepting it
    // when it denotes the SAME layout keeps existing states foldable
    // after the encoding change — the stream must not demand a
    // re-shard of a healthy state over a serialization upgrade.
    val legacy = s"$nBuckets|${keys.mkString(",")}|$valueCol"
    // ONE pin implementation AND one canonicalizer for every pinned-
    // layout writer (PartitionedStore.pinLayout/canonPin): temp+rename
    // commit, missing/empty-pin-next-to-state refused loudly, the
    // legacy raw encoding of the SAME layout accepted and migrated in
    // place, and key/value components compared decoded + Locale.ROOT-
    // lowered — the bucket hash reads column VALUES through case-
    // insensitive resolution, so a restart that re-spells a column's
    // casing is the same layout, not a re-shard.
    graft.sources.PartitionedStore.pinLayout(fs, root, statePath, config,
      legacy = Some(legacy),
      canon = graft.sources.PartitionedStore.canonPin(_,
        nParts = 3, canonIdx = Set(1, 2)))
    def bucketOf = pmod(xxhash64(keys.map(col): _*), lit(nBuckets))
      .cast("int").as("bucket")
    // the partial state feeds the touched-bucket collect AND the stage
    // write — persist so the batch aggregation runs once, not twice
    val partial = IncrementalAgg.partialState(batch, keys, valueCol)
      .withColumn("bucket", bucketOf).persist()
    try {
      // the batch's distinct buckets: ≤ nBuckets values, safe to
      // collect
      val touched = partial.select("bucket").distinct().collect()
        .map(_.getInt(0)).sorted.toSeq
      if (touched.isEmpty) {
        // an empty fold's change log is an empty (dataless) b<id>
        // dir — present so a committed id > the bound with NO log
        // dir stays an unambiguous GAP signal (the cdc discipline)
        if (logOn.isDefined)
          FoldStore.writeBatchDir(fs, root, "log", batchId, None)
        advanceLastBatch(); commitLogWitness(); return Nil
      }
      var pending = touched.filterNot(b =>
        fs.exists(new Path(cur, s"bucket=$b/_APPLIED_$batchId")))
      if (pending.isEmpty) {
        advanceLastBatch(); commitHistory(touched); commitLogWitness()
        return Nil
      }
      // Stranded-stage triage for buckets missing from the state:
      //  - the stranded bucket carries THIS batch's marker → it is the
      //    replayed batch's own completed fold whose swap crashed;
      //    renaming it in finishes the batch (automatic recovery);
      //  - any other stranded copy is older history → refuse loud
      //    (folding over it would silently drop the bucket's rollup).
      val stranded =
        if (!fs.exists(root)) Nil
        else fs.listStatus(root).toSeq.map(_.getPath)
          .filter(_.getName.matches("state__stage_[0-9a-f]{8}"))
      val recovered = Seq.newBuilder[Int]
      pending = pending.filter { b =>
        if (fs.exists(new Path(cur, s"bucket=$b"))) true
        // marker-first recovery via the shared helper: a markerless
        // stage holding the bucket (a crash's partial write) must
        // never shadow the completed copy
        else if (graft.app.SwapGuard.recoverChild(fs, stranded,
            s"bucket=$b",
            sp => new Path(sp, s"bucket=$b/_APPLIED_$batchId"), cur)) {
          recovered += b
          false // bucket is now applied; nothing left to fold
        } else stranded.find(sp =>
            fs.exists(new Path(sp, s"bucket=$b"))) match {
          case Some(sp) =>
            throw new graft.model.UserException(
              s"state bucket $b of $statePath exists only in stranded " +
                s"stage $sp without this batch's marker — older rollup " +
                "history from a crashed swap. Rename it in to recover; " +
                "folding over it would silently drop the bucket")
          case None => true // genuine first write of this bucket
        }
      }
      if (pending.isEmpty) {
        advanceLastBatch(); commitHistory(touched); commitLogWitness()
        return recovered.result()
      }
      val pendingCols = pending.map(b => lit(b): Column)
      val partialPending = partial.filter(col("bucket").isin(pendingCols: _*))
      val havePrior = pending.exists(b =>
        fs.exists(new Path(cur, s"bucket=$b")))
      val oldSlice =
        if (havePrior)
          // partition-pruned: only the pending buckets' files scan
          Some(ParquetFooter.read(spark, fs, Seq(cur))
            .filter(col("bucket").isin(pendingCols: _*)))
        else None
      val merged = oldSlice match {
        case Some(slice) => IncrementalAgg.mergeStates(
          slice.drop("bucket"), partialPending.drop("bucket"), keys)
        case None => partialPending.drop("bucket")
      }
      // change-log emission — BEFORE any staging/swap, while the old
      // images are intact; skipped when the dir exists (a crashed
      // attempt's complete, identical emission — see the mode note
      // above: recovery paths REQUIRE the skip)
      if (logOn.isDefined &&
          !fs.exists(FoldStore.batchDir(root, "log", batchId))) {
        val batchKeys = partialPending.select(keys.map(col): _*)
        // null-safe restriction: a NULL group key is a real group
        def forKeys(df: DataFrame) = df.join(batchKeys,
          keys.map(c => df(c) <=> batchKeys(c)).reduce(_ && _),
          "left_semi")
        val fromF = IncrementalAgg.finalizeState(
          oldSlice.map(s => forKeys(s.drop("bucket")))
            .getOrElse(merged.limit(0)), keys)
        val toF = IncrementalAgg.finalizeState(forKeys(merged), keys)
        val stateCols = toF.columns.toSeq.filterNot(keys.contains)
        val jc = keys.map(c => fromF(c) <=> toF(c)).reduce(_ && _)
        val logDf = toF.join(fromF, jc, "left_outer")
          .select((keys.map(c => toF(c).as(c)) ++
            stateCols.map(c => fromF(c).as(s"${c}_from")) ++
            stateCols.map(c => toF(c).as(s"${c}_to")) :+
            when(fromF("n").isNull, lit("added"))
              .otherwise(lit("changed")).as("change") :+
            lit(batchId).as("__batch_id")): _*)
        FoldStore.writeBatchDir(fs, root, "log", batchId, Some(logDf))
      }
      val next = merged.withColumn("bucket", bucketOf)
      val stage = new Path(root,
        s"state__stage_${java.util.UUID.randomUUID().toString.take(8)}")
      next.write.mode("overwrite").partitionBy("bucket")
        .parquet(stage.toString) // materializes before any delete
      pending.foreach(b =>
        fs.create(new Path(stage, s"bucket=$b/_APPLIED_$batchId"), true)
          .close())
      advanceLastBatch()
      graft.app.SwapGuard(s"bucketed rollup swap failed after retries " +
          s"(staged buckets preserved at $stage)") {
        graft.app.SwapGuard.swapChildren(fs, stage, cur,
          pending.map(b => s"bucket=$b"))
      }
      commitHistory(touched)
      commitLogWitness()
      recovered.result() ++ pending
    } finally partial.unpersist()
  }

  /** Highest committed batch id of a bucketed rollup state — absent on
    * pre-guard states (they stay foldable; the first new fold writes
    * it). */
  private[graft] def readLastBatch(fs: org.apache.hadoop.fs.FileSystem,
                                   root: org.apache.hadoop.fs.Path)
      : Option[Long] =
    graft.state.SmallFiles.read(fs,
      new org.apache.hadoop.fs.Path(root, "_LAST_BATCH"))
      .flatMap(_.trim.toLongOption)

  /** POST-SWAP evidence that `batchId` is FULLY applied to a bucketed
    * rollup state — the group-witness face ([[graft.operators
    * .FoldManifest]] commit, fsck's overstatement audit).
    * `_LAST_BATCH >= batchId` alone is NOT it: the fold advances the
    * frontier BEFORE the bucket swap (the ordering that closes the
    * older-id replay window — see [[applyRollupBatchBucketed]]), so a
    * crash in that gap leaves `_LAST_BATCH == batchId` with the
    * batch's buckets still staged, and a witness trusting the
    * frontier would bless exactly the mixed read it exists to
    * prevent. The discriminator is the stage itself: the per-bucket
    * `_APPLIED_<id>` markers are written INTO the stage before the
    * frontier advances, and a completed swap deletes the stage
    * ([[graft.app.SwapGuard.swapChildren]]) — so a stranded
    * `state__stage_*` dir still holding this id's marker proves the
    * swap did NOT finish (re-running the fold recovers it,
    * marker-first). Per-BUCKET: a staged bucket with the id's marker
    * disproves only while the LIVE state's same bucket lacks that
    * marker — a replay that re-folds an existing bucket supersedes
    * the stranded copy without deleting it (gc's job), and the live
    * marker is the proof the swap landed. A frontier STRICTLY ahead
    * needs no stage check at all: the fold contract replays an id
    * until its fold RETURNS, so a later committed id implies this
    * one completed (and the later swap may legitimately have dropped
    * this id's live markers). */
  private[graft] def rollupBatchApplied(fs: org.apache.hadoop.fs.FileSystem,
                                        root: org.apache.hadoop.fs.Path,
                                        batchId: Long): Boolean = {
    import org.apache.hadoop.fs.Path
    val last = readLastBatch(fs, root)
    if (!last.exists(batchId <= _)) false
    else if (last.exists(batchId < _)) true
    else {
      val cur = new Path(root, "state")
      val staged =
        if (!fs.exists(root)) Nil
        else fs.listStatus(root).toSeq.map(_.getPath)
          .filter(_.getName.matches("state__stage_[0-9a-f]{8}"))
      !staged.exists { sp =>
        fs.listStatus(sp).exists { st =>
          val n = st.getPath.getName
          n.startsWith("bucket=") &&
            fs.exists(new Path(st.getPath, s"_APPLIED_$batchId")) &&
            !fs.exists(new Path(cur, s"$n/_APPLIED_$batchId"))
        }
      }
    }
  }

  // ---- as-of retention for bucketed rollup states --------------------

  /** Switch a bucketed rollup state into AS-OF RETENTION mode — the
    * [[graft.operators.CdcRollup.enableRetention]] story for the
    * insert-only rollup family, closing its "no history" gap: from
    * now on every fold also snapshots its touched buckets' post-fold
    * state into `history/bucket=<b>/v<batchId>` (committed by a root
    * `_APPLIED_<batchId>` marker), and [[readRollupViewAsOf]] serves
    * the exact finalized view any earlier batch saw.
    *
    * Enable cost: ONE scan of the current state — the baseline
    * snapshot `v<floor>` every bucket resolves to until a later fold
    * versions it (without it, a bucket untouched after enabling would
    * have no chain to serve). The floor file is written LAST: every
    * crash window leaves a root NOT in retention mode with only stray
    * history the re-enable overwrites — conservative, never a
    * half-promised snapshot axis. Refuses a pre-guard state (state
    * rows but no `_LAST_BATCH`): its baseline has no position on the
    * version axis. Idempotent — an existing floor wins.
    *
    * 100 TB shape: per fold the extra cost is ONE bucket-pruned read
    * + write of exactly the touched buckets (the fold already sized
    * that); as-of reads resolve per bucket to its own chain, still
    * partition-pruned. @return the floor in force */
  def enableRollupRetention(spark: org.apache.spark.sql.SparkSession,
                            statePath: String): Long = {
    import org.apache.hadoop.fs.Path
    val root = new Path(statePath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    graft.operators.BatchMarkers.readFloor(fs, root).getOrElse {
      val cur = new Path(root, "state")
      val last = readLastBatch(fs, root)
      require(last.isDefined || !fs.exists(cur),
        s"enableRollupRetention: $statePath holds state rows but no " +
          "_LAST_BATCH frontier (a pre-guard state) — the baseline " +
          "snapshot has no position on the version axis; fold one " +
          "batch (seeding the frontier) or compact into a fresh root " +
          "first")
      val floor = last.getOrElse(-1L)
      fs.mkdirs(root)
      if (floor >= 0 && fs.exists(cur)) {
        FoldStore.writeVersion(fs, root, "history", floor,
          ParquetFooter.read(spark, fs, Seq(cur)), "bucket")
        graft.operators.BatchMarkers.commit(fs, root, floor)
      }
      graft.operators.BatchMarkers.writeFloor(fs, root, floor)
      floor
    }
  }

  /** The rollup retention floor in force — None when the state is not
    * in retention mode. */
  def rollupAsofFloor(spark: org.apache.spark.sql.SparkSession,
                      statePath: String): Option[Long] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(statePath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    graft.operators.BatchMarkers.readFloor(fs, root)
  }

  /** The bucketed rollup's `nBuckets|keys|valueCol` pin: (bucket
    * count, decoded key columns, raw fields). Throws `missing` when no
    * pin exists and refuses a malformed one, `what` naming the read. */
  private def rollupPin(fs: org.apache.hadoop.fs.FileSystem,
                        root: org.apache.hadoop.fs.Path, statePath: String,
                        what: String)(missing: => Exception)
      : (Int, Seq[String], Array[String]) = {
    val pin = graft.sources.PartitionedStore.readPin(fs, root)
      .getOrElse(throw missing)
    val parts = pin.split('|')
    require(parts.length == 3 && parts(0).toIntOption.exists(_ >= 1),
      s"$what: unrecognized layout pin '$pin' under $statePath")
    (parts(0).toInt,
      parts(1).split(',').toSeq.map(java.net.URLDecoder.decode(_, "UTF-8")),
      parts)
  }

  /** The RAW monoid state as of `asOf`: per history bucket, the
    * highest committed version with id <= asOf — exactly the state
    * any reader saw right after that batch folded (ids between two
    * folds serve the earlier one; above the frontier = current).
    * Requires retention mode and `asOf >= floor`; None when nothing
    * committed at or below `asOf` holds data. Restrict with `buckets`
    * for pruned point reads. */
  def readRollupStateAsOf(spark: org.apache.spark.sql.SparkSession,
                          statePath: String, asOf: Long,
                          buckets: Option[Set[Int]] = None)
      : Option[DataFrame] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(statePath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    FoldStore.requireFloor(fs, root, asOf,
      s"rollup as-of read under $statePath: the state is not in " +
        "retention mode — folds keep no history; enable it " +
        "(enableRollupRetention / CLI kind 'retain') BEFORE the " +
        "folds whose snapshots you need",
      floor => s"rollup as-of read at batch $asOf under $statePath: " +
        s"retained history starts at floor $floor — earlier snapshots " +
        "were never retained (or were reaped); widen the retention " +
        "window on the gc cadence")
    FoldStore.read(spark, fs, root, "history", buckets,
      graft.operators.BatchMarkers.read(fs, root), Some(asOf))
  }

  /** The FINALIZED rollup view as of `asOf` — [[readRollupStateAsOf]]
    * through [[graft.operators.IncrementalAgg.finalizeState]], keyed
    * by the state's own pinned key columns. */
  def readRollupViewAsOf(spark: org.apache.spark.sql.SparkSession,
                         statePath: String,
                         asOf: Long): Option[DataFrame] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(statePath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val (_, keys, _) = rollupPin(fs, root, statePath, "readRollupViewAsOf")(
      new IllegalStateException(s"readRollupViewAsOf: no layout pin " +
        s"under $statePath — not a rollup-view state"))
    readRollupStateAsOf(spark, statePath, asOf)
      .map(st => graft.operators.IncrementalAgg.finalizeState(st, keys))
  }

  /** The CHANGE SET between two rollup snapshots: the FINALIZED view
    * at `fromId` vs at `toId`, restricted to keys that actually
    * differ, labeled `added` / `removed` / `changed`
    * ([[FoldStore.labelChanges]]). The rollup answer to "what moved
    * since the run I shipped?"
    *
    * 100 TB shape: the COW version chain itself says which buckets
    * changed ([[FoldStore.changedBuckets]]), so BOTH snapshot reads
    * prune to them and the diff costs O(changed buckets), never two
    * state scans. Keys in untouched buckets are byte-identical at both
    * snapshots by construction; keys in touched buckets that merely
    * rode along are compared and dropped (null-safe on every view
    * column).
    *
    * Output: key columns, every finalized view column twice
    * (`<col>_from` / `<col>_to`, NULL on the absent side), `change`.
    * Requires retention mode with `fromId >= floor`; `toId` above the
    * frontier reads each chain's current tip (the as-of axis is
    * total, the [[readRollupStateAsOf]] rule). */
  def diffRollupView(spark: org.apache.spark.sql.SparkSession,
                     statePath: String,
                     fromId: Long, toId: Long): DataFrame = {
    import org.apache.hadoop.fs.Path
    require(fromId <= toId,
      s"diffRollupView: fromId $fromId must be <= toId $toId")
    val root = new Path(statePath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    FoldStore.requireFloor(fs, root, fromId,
      s"diffRollupView under $statePath: the state is not in " +
        "retention mode — folds keep no history to diff; enable it " +
        "(enableRollupRetention / CLI kind 'retain') BEFORE the " +
        "folds whose change sets you need",
      floor => s"diffRollupView from batch $fromId under $statePath: " +
        s"retained history starts at floor $floor — earlier snapshots " +
        "were never retained (or were reaped); widen the retention " +
        "window on the gc cadence")
    val (_, keys, _) = rollupPin(fs, root, statePath, "diffRollupView")(
      new IllegalStateException(s"diffRollupView: no layout pin under " +
        s"$statePath — not a rollup-view state"))
    // version-chain pruning: only buckets holding a committed version
    // in (fromId, toId] can differ between the two snapshots
    val markers = graft.operators.BatchMarkers.read(fs, root)
    val changed = FoldStore.changedBuckets(fs, root, "history", markers,
      fromId, toId)
    def snap(asOf: Long): Option[DataFrame] =
      if (changed.isEmpty) None
      else FoldStore.read(spark, fs, root, "history", Some(changed),
        markers, Some(asOf))
    val fromRaw = snap(fromId)
    val toRaw = snap(toId)
    // the empty diff keeps the full output schema — raw monoid schema
    // from whichever endpoint holds data, else from the chain tip
    // (metadata-only read; runs only on the no-change fast path)
    val rawSchema = fromRaw.orElse(toRaw).map(_.schema).orElse(
      FoldStore.read(spark, fs, root, "history", None, markers)
        .map(_.schema))
      .getOrElse(throw new IllegalStateException(
        s"diffRollupView: nothing committed under $statePath — " +
          "nothing to diff"))
    def emptyRaw = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      rawSchema)
    val from = graft.operators.IncrementalAgg.finalizeState(
      fromRaw.getOrElse(emptyRaw), keys)
    val to = graft.operators.IncrementalAgg.finalizeState(
      toRaw.getOrElse(emptyRaw), keys)
    // presence rides `n` (a count — never NULL on a live row)
    FoldStore.labelChanges(from, to, keys,
      from.columns.toSeq.filterNot(keys.contains), "n")
  }

  /** The rollup view change set since `afterId` — `diffRollupView
    * (afterId, frontier)` with the frontier resolved ONCE from the
    * root's committed markers (the POST-swap evidence `commitHistory`
    * writes, so a fold crashed between its `_LAST_BATCH` advance and
    * its swap can never widen the pull past applied data). The
    * consumer records the returned frontier and passes it back as its
    * next `afterId` — the [[graft.operators.CdcRollup
    * .readViewSincePinned]] contract, rollup-flavored. */
  def readRollupViewSincePinned(spark: org.apache.spark.sql.SparkSession,
                                statePath: String, afterId: Long,
                                /** the cross-root manifest cap — see
                                  * [[graft.operators.CdcRollup
                                  * .readBaseSincePinned]]. */
                                upTo: Option[Long] = None)
      : (DataFrame, Long) = {
    import org.apache.hadoop.fs.Path
    val root = new Path(statePath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val frontier = FoldStore.pinFrontier("readRollupViewSince", statePath,
      graft.operators.BatchMarkers.read(fs, root), afterId, upTo,
      s"readRollupViewSince: no committed history under $statePath " +
        "— retention mode commits a root marker per fold; enable " +
        "it (enableRollupRetention / CLI kind 'retain') first")
    (diffRollupView(spark, statePath, afterId, frontier), frontier)
  }

  /** [[readRollupViewSincePinned]] without the frontier report. */
  def readRollupViewSince(spark: org.apache.spark.sql.SparkSession,
                          statePath: String, afterId: Long): DataFrame =
    readRollupViewSincePinned(spark, statePath, afterId)._1

  // ---- fold-time change log for bucketed rollup states ---------------

  /** Switch a bucketed rollup state into CHANGE-LOG mode — the
    * [[graft.operators.CdcRollup.enableChangeLog]] story for the
    * plain rollup family, closing its forward-only-consumer gap:
    * from now on every fold also emits its per-key FINALIZED-view
    * changes into an append-only `log/b<id>` layer (see
    * [[applyRollupBatchBucketed]]'s mode note for the exact crash
    * protocol), and [[readRollupViewLog]] serves `(afterId,
    * frontier]` pulls from the log alone — no COW retention, no
    * floor to out-run.
    *
    * The `_LOG_FROM_<f>` file is both the mode switch and the
    * honesty bound: the log covers folds strictly AFTER `f` (the
    * `_LAST_BATCH` frontier at enable time). SINGLE-WRITER
    * requirement, like the cdc enable: a racing fold reads log-off
    * at start and commits above the bound with no dir — the NEXT
    * fold refuses loud on that shape, and re-running this enable
    * ADVANCES the bound past the gap (the raced fold's changes were
    * never logged; forward-only consumers must re-baseline).
    * Idempotent otherwise. @return the bound in force */
  def enableRollupChangeLog(spark: org.apache.spark.sql.SparkSession,
                            statePath: String): Long = {
    import org.apache.hadoop.fs.Path
    val root = new Path(statePath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    graft.operators.BatchMarkers.readLogFrom(fs, root) match {
      case Some(bound) =>
        val maxC = graft.operators.BatchMarkers.read(fs, root)
          .maxCommitted.getOrElse(-1L) max bound
        readLastBatch(fs, root)
          .filter(lb => lb > maxC &&
            !fs.exists(FoldStore.batchDir(root, "log", lb))) match {
          case Some(lb) =>
            // the raced-enable residue: advance past the unlogged fold
            graft.operators.BatchMarkers.writeLogFrom(fs, root, lb)
            lb
          case None => bound
        }
      case None =>
        val from = readLastBatch(fs, root).getOrElse(-1L)
        fs.mkdirs(root)
        graft.operators.BatchMarkers.writeLogFrom(fs, root, from)
        from
    }
  }

  /** The rollup change-log bound in force — None when the state is
    * not in change-log mode. */
  def rollupChangeLogFrom(spark: org.apache.spark.sql.SparkSession,
                          statePath: String): Option[Long] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(statePath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    graft.operators.BatchMarkers.readLogFrom(fs, root)
  }

  /** The per-key finalized-view change set since `afterId`, served
    * from the APPEND-ONLY fold-time log — [[readRollupViewSince]]
    * semantics (same output schema, same added/changed labels, same
    * net-move-per-key rows) WITHOUT retention mode: the forward-only
    * mirror pull for the plain rollup family. Row-for-row equal to
    * [[diffRollupView]]`(afterId, frontier)` on a retained twin
    * ('removed' cannot arise — the monoid only grows). */
  def readRollupViewLog(spark: org.apache.spark.sql.SparkSession,
                        statePath: String, afterId: Long): DataFrame =
    readRollupViewLogPinned(spark, statePath, afterId)._1

  /** [[readRollupViewLog]] returning the frontier it pulled to — the
    * [[graft.operators.CdcRollup.readBaseLogPinned]] discipline: ONE
    * frontier resolution (the root's committed log WITNESSES —
    * post-swap evidence by construction, a marker lands only after
    * its fold's swap) pins both the range and the report; the
    * committed `log/b<id>` dirs in range net per key through the ONE
    * shared [[graft.operators.CdcRollup.netLogRange]] (first `_from`
    * ∘ last `_to`; a coverage gap — a committed witness in range
    * with no dir — refuses loud there). O(changes in range), never a
    * state scan. */
  def readRollupViewLogPinned(spark: org.apache.spark.sql.SparkSession,
                              statePath: String, afterId: Long,
                              /** the cross-root manifest cap — see
                                * [[graft.operators.CdcRollup
                                * .readBaseSincePinned]]. */
                              upTo: Option[Long] = None)
      : (DataFrame, Long) = {
    import org.apache.hadoop.fs.Path
    val root = new Path(statePath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val logFrom = graft.operators.BatchMarkers.readLogFrom(fs, root)
      .getOrElse(throw new IllegalStateException(
        s"readRollupViewLog under $statePath: the state is not in " +
          "change-log mode — folds emit no log; enable it " +
          "(enableRollupChangeLog) BEFORE the folds whose changes " +
          "you need"))
    val markers = graft.operators.BatchMarkers.read(fs, root)
    val frontier = FoldStore.pinFrontier("readRollupViewLog", statePath,
      markers, afterId, upTo,
      s"readRollupViewLog: no log-witnessed folds under $statePath",
      witness = "witnessed", logStart = Some(logFrom),
      logDirs = "their dirs")
    val (_, keys, _) = rollupPin(fs, root, statePath, "readRollupViewLog")(
      new IllegalStateException(
        s"readRollupViewLog: no layout pin under $statePath"))
    // key + extremum types come from the state's own schema (the
    // rollup pin carries no types); a state with a witnessed fold
    // always has state rows (empty folds witness but add no keys —
    // and an all-empty-folds state has nothing to pull anyway)
    val cur = new Path(root, "state")
    if (!fs.exists(cur))
      throw new IllegalStateException(
        s"readRollupViewLog: no state rows under $statePath — " +
          "nothing was ever logged; pull after the first non-empty " +
          "fold")
    val sch = ParquetFooter.read(spark, fs, Seq(cur)).schema
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val vType = sch("agg_min").dataType
    val keyTypes = keys.map(c => c -> sch(c).dataType)
    val stateTypes: Seq[(String, org.apache.spark.sql.types.DataType)] =
      Seq("n" -> LongType, "total" -> DoubleType,
        "mean" -> DoubleType, "vmin" -> vType, "vmax" -> vType)
    (graft.operators.CdcRollup.netLogRange(spark, fs, root, "log",
      keyTypes, stateTypes, markers, afterId, frontier), frontier)
  }

  /** Reap witnessed rollup change-log dirs older than the window and
    * ADVANCE the bound past them ([[FoldStore.reapLog]]). An
    * unwitnessed dir stays: the fold renames `log/b<id>` in BEFORE its
    * swap and a replay that finds it skips re-emission, so reaping it
    * between a crash and the replay would lose the emission and move
    * the bound past the witnessed frontier.
    * @return (deleted dir paths, the bound now in force) */
  def reapRollupChangeLog(spark: org.apache.spark.sql.SparkSession,
                          statePath: String,
                          retainMs: Long): (Seq[String], Long) = {
    import org.apache.hadoop.fs.Path
    val root = new Path(statePath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val logFrom = graft.operators.BatchMarkers.readLogFrom(fs, root)
      .getOrElse(throw new IllegalStateException(
        s"reapRollupChangeLog under $statePath: the state is not in " +
          "change-log mode — nothing accretes, nothing to reap"))
    FoldStore.reapLog(fs, root, Seq("log"),
      graft.operators.BatchMarkers.read(fs, root), retainMs, logFrom)
  }

  /** Reap retained rollup history older than the window and ADVANCE
    * THE FLOOR past everything reaped ([[FoldStore.reapSuperseded]]:
    * a version goes only when its superseding version is older than
    * the window; a bucket's latest committed version is never
    * touched). @return (deleted paths, floor in force) */
  def reapRollupHistory(spark: org.apache.spark.sql.SparkSession,
                        statePath: String,
                        retainMs: Long): (Seq[String], Long) = {
    import org.apache.hadoop.fs.Path
    val root = new Path(statePath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val floor = graft.operators.BatchMarkers.readFloor(fs, root)
      .getOrElse(throw new IllegalStateException(
        s"reapRollupHistory under $statePath: the state is not in " +
          "retention mode — nothing accretes, nothing to reap"))
    FoldStore.reapSuperseded(fs, root, Seq("history"),
      graft.operators.BatchMarkers.read(fs, root), retainMs, floor,
      bucketFloors = false)
  }

  /** Collapse AGED committed root markers into ONE
    * `_APPLIED_UPTO_<w>` watermark ([[FoldStore.foldMarkers]]; root
    * `_APPLIED_<id>` markers accrete one per fold in retention or
    * change-log mode; the per-bucket swap markers are NOT touched —
    * they belong to the fold protocol). The age gate keeps
    * every id inside its replay window on a per-id marker: a replayed
    * frontier fold finishing late must find its own marker absent (so
    * `commitHistory` backfills), never watermark-subsumed — folding
    * only markers older than `olderThanMs` keeps that window open,
    * and anything older is abandoned by the single-writer contract.
    * Uncommitted history versions and log dirs at or below the new
    * watermark are swept FIRST — after the fold they would read as
    * committed. @return the watermark written, None when nothing
    * qualifies */
  def foldRollupMarkers(spark: org.apache.spark.sql.SparkSession,
                        statePath: String,
                        olderThanMs: Long = 24L * 3600 * 1000)
      : Option[Long] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(statePath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    FoldStore.foldMarkers(fs, root, olderThanMs)(
      FoldStore.entries(fs, root, Seq("history"), Seq("log")))
  }

  /** Reap ABANDONED rollup-history garbage — staging shells,
    * uncommitted `v<id>` versions and unwitnessed `log/b<id>` dirs of
    * batch ids the scheduler will never replay
    * ([[FoldStore.monotoneDead]]). An id STRICTLY below the
    * `_LAST_BATCH` frontier can
    * never fold again (the monotone guard refuses it), so its
    * garbage goes regardless of age; the frontier id itself may be a
    * mid-replay fold and anything above it in-flight — those only go
    * once aged. Committed versions are live history, never touched.
    * @return deleted paths */
  def cleanRollupHistoryOrphans(spark: org.apache.spark.sql.SparkSession,
                                statePath: String,
                                olderThanMs: Long = 24L * 3600 * 1000)
      : Seq[String] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(statePath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    FoldStore.sweep(fs, FoldStore.entries(fs, root, Seq("history"),
        Seq("log")))(
      FoldStore.monotoneDead(graft.operators.BatchMarkers.read(fs, root),
        readLastBatch(fs, root).getOrElse(Long.MinValue),
        System.currentTimeMillis() - olderThanMs))
  }

  /** Bucket-pruned POINT LOOKUP into a bucketed rollup state — the
    * rollup sibling of [[graft.operators.CdcRollup.lookupView]] and
    * the serving path behind the `lookup` CLI kind: reads ONLY the
    * `bucket=` partitions the requested group keys hash into
    * (partition-pruned scan), finalizes the monoid state of those
    * buckets, and null-safe semi-joins the keys (NULL group values
    * are a real group — GROUP BY folds them into one, and its state
    * row must be servable). The probe must carry exactly the pinned
    * key columns WITH the state's stored types — xxhash64 is
    * type-sensitive, so a drifted probe would prune the wrong
    * partitions and miss silently; it refuses instead. None before
    * the first fold. */
  def lookupRollupState(spark: org.apache.spark.sql.SparkSession,
                        statePath: String,
                        keys: DataFrame,
                        /** Serve the state AS OF this batch id —
                          * retention mode required
                          * ([[readRollupStateAsOf]] rules), still
                          * bucket-pruned via the history chains. */
                        asOf: Option[Long] = None): Option[DataFrame] =
    lookupRollupStateWith(spark, statePath, _ => keys, asOf)

  /** [[lookupRollupState]] with the key frame built from the state's
    * schema, read from the footer the lookup reads anyway (the CLI
    * casts its string keys to the stored types). */
  private[graft] def lookupRollupStateWith(
      spark: org.apache.spark.sql.SparkSession, statePath: String,
      keysFor: org.apache.spark.sql.types.StructType => DataFrame,
      asOf: Option[Long]): Option[DataFrame] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(statePath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val (nBuckets, keyCols, _) =
      rollupPin(fs, root, statePath, "lookupRollupState")(
        new graft.model.UserException(s"lookupRollupState: no layout " +
          s"pin under $statePath — not a rollup-view state"))
    val cur = new Path(root, "state")
    if (!fs.exists(cur)) return None
    val state = ParquetFooter.read(spark, fs, Seq(cur))
    val keys = keysFor(state.schema)
    require(keys.columns.sorted.toSeq == keyCols.sorted,
      s"lookupRollupState: the key frame must carry exactly the " +
        s"pinned key columns (${keyCols.mkString(", ")}), got " +
        s"(${keys.columns.mkString(", ")}) — project upstream")
    keyCols.foreach { c =>
      val got = keys.schema(c).dataType.catalogString
      val want = state.schema(c).dataType.catalogString
      require(got == want,
        s"lookupRollupState: key column '$c' is $got but the state " +
          s"stores $want — xxhash64 bucketing is type-sensitive, a " +
          "drifted probe would prune the wrong partitions and miss " +
          "silently; cast to the stored type")
    }
    val touched = FoldStore.probeBuckets(keys, keyCols, nBuckets)
    val pruned = asOf match {
      case Some(a) =>
        // as-of: resolve ONLY the touched buckets' history chains
        // (floor + retention-mode gates live in the read)
        readRollupStateAsOf(spark, statePath, a, Some(touched)) match {
          case Some(st) => st
          case None => return None
        }
      case None => state
        .filter(col("bucket").isin(touched.toSeq.map(b => lit(b): Column): _*))
        .drop("bucket")
    }
    val fin = graft.operators.IncrementalAgg.finalizeState(pruned, keyCols)
    val cond = keyCols.map(c => fin(c) <=> keys(c)).reduce(_ && _)
    Some(fin.join(keys, cond, "left_semi"))
  }

  /** Compact a long-lived bucketed rollup state into a FRESH root —
    * the rollup sibling of [[graft.operators.JoinView.compactStateTo]]
    * and the out-of-band maintenance the fold's ops posture points at:
    * every batch leaves an `_APPLIED_<id>` marker file in each bucket
    * it touched, so a view folded every 5 minutes for a year carries
    * ~100k empty marker files per bucket and the replay check's
    * listing cost creeps into every fold. The state rows are COPIED
    * (one scan + one bucketed write — the monoid state is already
    * merged, nothing re-aggregates) and the fresh root starts with a
    * single `_APPLIED_<frontier>` marker per bucket.
    *
    * `nBuckets = None` keeps the source bucket count; a value
    * RE-SHARDS — the in-place bucket-count change the layout pin
    * refuses is exactly what compaction is for. The fresh root gets
    * its own pin (same keys + value column fields verbatim, new
    * count). Same contract as the join sibling: fresh root must be
    * empty, swap roots between folds (single-writer — no concurrent
    * fold to race), and continue with batch ids FRESHER than anything
    * compacted. The source's `_LAST_BATCH` frontier carries into the
    * fresh root and the fresh buckets seed `_APPLIED_<frontier>` (not
    * `_APPLIED_0`) — so after the swap a replay of the frontier id
    * no-ops against its marker and anything older refuses loud at the
    * monotone guard, exactly as at the old root; with zeroed markers
    * and no frontier, any pre-compaction replay would silently
    * re-apply. A pre-guard source (no `_LAST_BATCH`) keeps the
    * legacy zero seeding.
    *
    * @return number of state rows compacted */
  def compactRollupStateTo(spark: org.apache.spark.sql.SparkSession,
                           statePath: String,
                           freshPath: String,
                           nBuckets: Option[Int] = None): Long = {
    import org.apache.hadoop.fs.Path
    val root = new Path(statePath)
    val freshRoot = new Path(freshPath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val (pinned, keys, parts) =
      rollupPin(fs, root, statePath, "compactRollupStateTo")(
        new graft.model.UserException(s"compactRollupStateTo: no layout " +
          s"pin under $statePath — not a rollup-view state"))
    val nB = nBuckets.getOrElse(pinned)
    require(nB >= 1, s"nBuckets must be >= 1, got $nB")
    val cur = new Path(root, "state")
    require(fs.exists(cur),
      s"compactRollupStateTo: no committed state under $statePath")
    // "already holds a state" means a COMMITTED state dir (the final
    // rename is the commit), not a pin: a crash between the fresh pin
    // and the rename leaves a pinned root with only a stranded stage —
    // the retry must reclaim it, not refuse on _CONFIG (the same
    // crash-retry discipline as the join/cdc compact siblings)
    require(!fs.exists(new Path(freshRoot, "state")),
      s"compactRollupStateTo: $freshPath already holds a state — " +
        "refusing to merge into it (compact to an empty root, then swap)")
    graft.sources.PartitionedStore.readPin(fs, freshRoot) match {
      case Some(p) if p.split('|').length == 3 &&
          p.split('|')(0).toIntOption.exists(_ >= 1) =>
        // a prior compact's crash remnants — nothing committed, reset
        // (incl. a stray _LAST_BATCH: the frontier writes BEFORE the
        // state rename, so a crash in between strands one here)
        fs.listStatus(freshRoot).toSeq.map(_.getPath)
          .filter(st => st.getName.matches("state__stage_[0-9a-f]{8}") ||
            st.getName == "_LAST_BATCH" ||
            st.getName.startsWith("_LAST_BATCH_tmp_") ||
            st.getName.startsWith("_APPLIED_"))
          .foreach(st => fs.delete(st, true))
        fs.delete(new Path(freshRoot, "_CONFIG"), true)
        fs.delete(new Path(freshRoot, "_CONFIG_WITNESS"), true)
        fs.delete(new Path(freshRoot, "history"), true)
        graft.operators.BatchMarkers.clearFloors(fs, freshRoot)
      case Some(p) => throw new graft.model.UserException(
        s"compactRollupStateTo: $freshPath carries a non-rollup pin " +
          s"'$p' — refusing to overwrite a different state family")
      case None =>
        require(!graft.sources.PartitionedStore
            .hasDataEntries(fs, freshRoot),
          s"compactRollupStateTo: $freshPath is not empty — refusing " +
            "to merge into it (compact to an empty root, then swap)")
    }
    // fresh pin: the SOURCE pin's key/value fields verbatim (a later
    // fold checks against exactly what it would have at the old root),
    // the (possibly new) bucket count
    graft.sources.PartitionedStore.pinLayout(fs, freshRoot, freshPath,
      s"$nB|${parts(1)}|${parts(2)}")
    val state = ParquetFooter.read(spark, fs, Seq(cur)).drop("bucket")
    val bucketOf = pmod(xxhash64(keys.map(col): _*), lit(nB))
      .cast("int").as("bucket")
    val stage = new Path(freshRoot,
      s"state__stage_${java.util.UUID.randomUUID().toString.take(8)}")
    state.withColumn("bucket", bucketOf)
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(stage.toString)
    // one marker per materialized bucket AT THE SOURCE FRONTIER,
    // created in the stage so the rename commits data + markers
    // atomically per child — a replay of the frontier id after the
    // swap finds its marker and no-ops instead of re-applying
    val srcLast = readLastBatch(fs, root)
    val seedId = srcLast.getOrElse(0L)
    fs.listStatus(stage).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("bucket="))
      .foreach(b =>
        fs.create(new Path(b, s"_APPLIED_$seedId"), true).close())
    // the frontier file lands before the state rename (the commit
    // point) — the crash-reset branch above reclaims a stranded one
    srcLast.foreach { last =>
      val out = fs.create(new Path(freshRoot, "_LAST_BATCH"), true)
      try out.write(last.toString.getBytes("UTF-8")) finally out.close()
    }
    if (!fs.rename(stage, new Path(freshRoot, "state")))
      throw new java.io.IOException(
        s"compactRollupStateTo: rename failed: $freshPath/state")
    // retention mode survives the swap but the history does NOT (the
    // cdc compact discipline): the fresh floor is the frontier — the
    // compacted state becomes the baseline v<frontier> snapshot,
    // pre-compaction snapshots refuse loud, post-compaction folds
    // accrete history again. Floor written LAST (the enable order):
    // every crash window leaves the fresh root out of retention mode,
    // which the crash-reset retry reclaims.
    if (graft.operators.BatchMarkers.readFloor(fs, root).isDefined) {
      val floor = seedId
      FoldStore.writeVersion(fs, freshRoot, "history", floor,
        ParquetFooter.read(spark, fs, Seq(new Path(freshRoot, "state"))),
        "bucket")
      graft.operators.BatchMarkers.commit(fs, freshRoot, floor)
      graft.operators.BatchMarkers.writeFloor(fs, freshRoot, floor)
    }
    ParquetFooter.read(spark, fs, Seq(new Path(freshRoot, "state"))).count()
  }

  /** One batch's fold, exposed for the replay-idempotence spec.
    * Returns false when the batch was already applied (marker found in
    * the live state). */
  private[graft] def applyRollupBatch(batch: DataFrame, statePath: String,
                                      batchId: Long, keys: Seq[String],
                                      valueCol: String,
                                      distinctCol: Option[String] = None,
                                      trackQuantiles: Boolean = false)
      : Boolean = {
    import graft.operators.IncrementalAgg
    import org.apache.hadoop.fs.Path
    val spark = batch.sparkSession
    val root = new Path(statePath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val cur = new Path(root, "state")
    if (fs.exists(new Path(cur, s"_APPLIED_$batchId"))) return false
    // Stranded-stage triage BEFORE treating a missing state dir as
    // first-batch bootstrap: a crash between the swap's delete and
    // rename leaves the stage as the ONLY copy of the accumulated
    // rollup — bootstrapping over it would silently reset the state
    // to one batch. A stage carrying THIS batch's marker is the
    // replayed batch's own completed fold: renaming it in finishes
    // the batch automatically. Anything else is older history — fail
    // loud (recovery is the rename-in [[graft.operators.Maintenance
    // .recoverableStages]] reports, by the shared naming).
    if (!fs.exists(cur)) {
      val stranded =
        if (!fs.exists(root)) Nil
        else fs.listStatus(root).toSeq.map(_.getPath)
          .filter(_.getName.matches("state__stage_[0-9a-f]{8}"))
      stranded.find(sp => fs.exists(new Path(sp, s"_APPLIED_$batchId")))
        .foreach { own =>
          if (!fs.rename(own, cur))
            throw new java.io.IOException(
              s"recovery rename failed: $own -> $cur")
          return true // the replayed batch's fold is now the live state
        }
      if (stranded.nonEmpty)
        throw new graft.model.UserException(
          s"rollup state at $statePath is missing but staged copies " +
            s"exist (${stranded.map(_.getName).mkString(", ")}) without " +
            "this batch's marker — a crashed swap of an earlier batch. " +
            "Rename the newest stage to 'state' to recover; starting " +
            "the fold over would silently drop the accumulated rollup")
    }
    val partial = IncrementalAgg.partialState(batch, keys, valueCol,
      distinctCol, trackQuantiles)
    val next =
      if (fs.exists(cur))
        IncrementalAgg.mergeStates(ParquetFooter.read(spark, fs, Seq(cur)),
          partial, keys)
      else partial
    val stage = new Path(root,
      s"state__stage_${java.util.UUID.randomUUID().toString.take(8)}")
    next.write.mode("overwrite").parquet(stage.toString) // materializes
    fs.create(new Path(stage, s"_APPLIED_$batchId"), true).close()
    // Idempotent swap, same rules as ParquetSink.overwrite: retried,
    // and an ambiguous rename (committed server-side, error
    // client-side) must read as success on retry, not delete the
    // freshly swapped-in state.
    graft.app.SwapGuard(s"rollup state swap failed after retries " +
        s"(new state preserved at $stage)") {
      if (!fs.exists(stage)) {
        if (!fs.exists(cur))
          throw new java.io.IOException("stage and state both missing")
        // else: a prior attempt's rename landed — done
      } else {
        if (fs.exists(cur)) fs.delete(cur, true)
        if (!fs.rename(stage, cur))
          throw new java.io.IOException(
            s"state swap failed: $stage -> $cur")
      }
    }
    true
  }

  /** Watermarked stream–stream inner join: match rows of two event
    * streams on `keyCols` when the right event lands within
    * `[left.ts, left.ts + withinSeconds]`. Both sides carry watermarks
    * and the time-bound condition, so Spark can evict buffered state
    * once the watermark passes — the REQUIRED shape for unbounded
    * stream–stream joins (without the bound, state grows forever).
    * Column conventions: left keeps its names, right's ts arrives as
    * `r_ts` plus `valueCols` prefixed `r_`. */
  def streamStreamJoin(left: DataFrame, right: DataFrame,
                       keyCols: Seq[String], withinSeconds: Long,
                       watermark: String = "1 hour"): DataFrame = {
    val l = left.withWatermark("ts", watermark)
    val r0 = right.withWatermark("ts", watermark)
    val r = r0.columns.foldLeft(r0) { (df, c) =>
      if (keyCols.contains(c)) df else df.withColumnRenamed(c, s"r_$c")
    }
    val cond = keyCols.map(k => l(k) === r(k))
      .reduce(_ && _) &&
      r("r_ts") >= l("ts") &&
      r("r_ts") <= l("ts") + expr(s"INTERVAL $withinSeconds SECONDS")
    // project the duplicate key columns away (keys keep the left copy)
    val rightOnly = r.columns.filterNot(keyCols.contains).map(r(_))
    l.join(r, cond, "inner")
      .select(l.columns.map(l(_)) ++ rightOnly: _*)
  }

  /** Gap-based sessionization via flatMapGroupsWithState: a session
    * closes after `gapMinutes` of inactivity (enforced with event-time
    * timeout so sessions also close when the stream goes quiet). */
  def sessionize(events: Dataset[Event], gapMinutes: Int = 30,
                 watermark: String = "2 hours"): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60L * 1000L

    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // stream went quiet past the gap: close and emit
            val s = state.get
            state.remove()
            Iterator.single(Session(userId, new java.sql.Timestamp(s.start),
              new java.sql.Timestamp(s.last), s.n, s.total))
          } else {
            val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var cur = state.getOption
            val closed = Seq.newBuilder[Session]
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.last <= gapMs =>
                  cur = Some(s.copy(last = t, n = s.n + 1,
                    total = s.total + e.value))
                case Some(s) =>
                  closed += Session(userId, new java.sql.Timestamp(s.start),
                    new java.sql.Timestamp(s.last), s.n, s.total)
                  cur = Some(SessionState(t, t, 1L, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1L, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last + gapMs)
            }
            closed.result().iterator
          }
      }
  }
}
