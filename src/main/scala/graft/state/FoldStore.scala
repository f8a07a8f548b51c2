package graft.state

import graft.operators.BatchMarkers
import graft.sources.ParquetFooter
import graft.sources.ParquetFooter.list
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The version-chain store under the view families' persisted history:
  * the ONE module that knows the on-disk layout and the protocol over
  * it. [[graft.operators.CdcRollup]]'s versioned layers, the bucketed
  * rollup's `history/` ([[graft.streaming.EventStreams]]) and the
  * change-log and join batch dirs all write, resolve, diff, gate and
  * sweep through here; the families keep their delta algebra, their
  * layout pins and when they commit.
  *
  * Layout, under a state root:
  *
  *  - `<layer>/bucket=<k>/v<id>` — a VERSION of bucket k written by
  *    batch `id` (copy-on-write: a fold never mutates a committed
  *    version, it writes the next one). A bucket's versions form its
  *    CHAIN; an empty version dir is a bucket whose rows were all
  *    retracted.
  *  - `<layer>/.staging<id>` — batch `id`'s hidden staging output,
  *    partitioned by bucket; [[promote]] renames its children into
  *    `bucket=<k>/v<id>`.
  *  - `<layer>/<p><id>` — a flat BATCH DIR (`b<id>` change-log dirs,
  *    `d<id>` join-view dirs): one per batch, never rewritten.
  *  - root `_APPLIED_<id>` / `_APPLIED_UPTO_<w>` markers
  *    ([[BatchMarkers]]) are the ONLY commit evidence: an entry whose
  *    id is not committed is invisible to every read. `_ASOF_FLOOR_<f>`
  *    (root, and per bucket on CDC states) bounds the servable as-of
  *    axis; `_LOG_FROM_<f>` bounds the change-log range.
  *
  * Writes: stage → promote/rename → cover → reap. A fold writes each
  * layer hidden under `.staging<id>` and renames it into place:
  * [[writeVersion]] promotes the bucket children to `bucket=<k>/v<id>`
  * and COVERS every touched bucket left without rows with an empty
  * `v<id>` (its old version must stop being latest);
  * [[writeBatchDir]] renames the shell to `<p><id>` (an empty fold
  * makes an empty dir). The family then commits its marker, and a
  * non-retained state reaps the versions the batch superseded
  * ([[dropSuperseded]]). Writes run one layer at a time.
  *
  * Reads: a bucket AS OF `a` is its highest committed version with
  * id <= a ([[read]]); the buckets that can differ between two
  * snapshots are exactly those holding a committed version in the
  * range ([[changedBuckets]]), so a diff costs O(changed buckets). A
  * read costs listings, one footer (its schema, taken on the driver
  * from the listings it already made: [[graft.sources.ParquetFooter]])
  * and the jobs that move rows (up to Spark's 32-dir parallel
  * listing threshold); a point lookup learns its buckets from one
  * collect of its keys ([[probeBuckets]]), which runs no job on a
  * local key frame and collects at most two rows per bucket from any
  * other.
  *
  * Crash rules, every one erring conservative (refusing a servable
  * read, never serving a wrong one):
  *
  *  - MARKER LAST: a fold's versions and batch dirs land before its
  *    marker, so a crash leaves only invisible garbage.
  *  - RESIDUE BEFORE MARKER: batch `id`'s leftovers from a crashed
  *    attempt (a staging shell, a `v<id>` in any bucket, a `<p><id>`
  *    dir) are dropped from EVERY layer of the state, written by this
  *    fold or not, before its marker commits — the marker would make
  *    them committed ([[dropBatch]]; both writes drop their own
  *    layer's first).
  *  - FLOOR BEFORE DELETE: a reap writes the advanced floor (or log
  *    bound) before it deletes anything ([[reapSuperseded]],
  *    [[reapLog]]); a crash between leaves a high floor over extra
  *    versions.
  *  - SWEEP BEFORE FOLD: folding markers into a watermark turns every
  *    id <= w into "committed", so uncommitted entries at or below w
  *    are deleted first ([[foldMarkers]]).
  *  - Only COMMITTED entries count as history: an uncommitted batch
  *    dir may be a crashed fold's emission its replay still needs, so
  *    the reaps never touch one; [[sweep]] owns garbage, gated by the
  *    family's frontier and an age. */
private[graft] object FoldStore {

  /** `<prefix><digits>` → the id; None for any other name. */
  def idOf(prefix: String, name: String): Option[Long] =
    if (name.length > prefix.length && name.startsWith(prefix) &&
        name.drop(prefix.length).forall(_.isDigit))
      name.drop(prefix.length).toLongOption
    else None

  /** The id of a `v<id>` version dir. */
  def versionId(name: String): Option[Long] = idOf("v", name)

  /** The id of a `.staging<id>` shell. */
  def stagingId(name: String): Option[Long] = idOf(".staging", name)

  /** The bucket of a `bucket=<k>` dir. */
  private def bucketId(name: String): Option[Int] =
    if (name.startsWith("bucket=")) name.stripPrefix("bucket=").toIntOption
    else None

  /** An id-carrying entry: a staging shell, a version or a batch dir. */
  final case class Entry(status: FileStatus, id: Long, staging: Boolean) {
    def path: Path = status.getPath
    def mtime: Long = status.getModificationTime
  }

  /** Every `.staging<id>` and `bucket=<k>/v<id>` under the versioned
    * `chains` layers, plus every `.staging<id>` and `<prefix><id>`
    * under the flat `batchDirs` layers. */
  def entries(fs: FileSystem, root: Path, chains: Seq[String],
              batchDirs: Seq[String] = Nil,
              prefix: String = "b"): Seq[Entry] = {
    def staged(st: FileStatus) =
      stagingId(st.getPath.getName).map(Entry(st, _, staging = true))
    chains.flatMap { layer =>
      list(fs, new Path(root, layer)).filter(_.isDirectory).flatMap { st =>
        if (bucketId(st.getPath.getName).isDefined)
          list(fs, st.getPath).filter(_.isDirectory).flatMap(v =>
            versionId(v.getPath.getName).map(Entry(v, _, staging = false)))
        else staged(st).toSeq
      }
    } ++ batchDirs.flatMap { layer =>
      list(fs, new Path(root, layer)).filter(_.isDirectory).flatMap(st =>
        staged(st).orElse(idOf(prefix, st.getPath.getName)
          .map(Entry(st, _, staging = false))))
    }
  }

  /** One layer's shape for status reports: bucket dirs, committed
    * entries, and orphan candidates (staging shells and uncommitted
    * entries — what [[sweep]] would consider). */
  final case class Shape(buckets: Int, committed: Int, orphans: Int)

  def shape(fs: FileSystem, root: Path, layer: String,
            markers: BatchMarkers.Markers, flat: Boolean = false): Shape = {
    val es =
      if (flat) entries(fs, root, Nil, Seq(layer))
      else entries(fs, root, Seq(layer))
    val committed = es.count(e => !e.staging && markers.committed(e.id))
    val buckets =
      if (flat) 0
      else list(fs, new Path(root, layer))
        .count(st => bucketId(st.getPath.getName).isDefined)
    Shape(buckets, committed, es.size - committed)
  }

  // ---- chain resolution -------------------------------------------

  /** `bucket=<k>` dirs of `layer`, pruned to `buckets` when given. */
  private def bucketDirs(fs: FileSystem, root: Path, layer: String,
                         buckets: Option[Set[Int]]): Seq[(Int, Path)] =
    list(fs, new Path(root, layer)).flatMap { st =>
      bucketId(st.getPath.getName)
        .filter(b => buckets.forall(_.contains(b)))
        .map(_ -> st.getPath)
    }

  /** A bucket's committed versions, ascending by id. */
  private def chain(fs: FileSystem, bucket: Path,
                    markers: BatchMarkers.Markers): Seq[(Long, FileStatus)] =
    list(fs, bucket).flatMap(v => versionId(v.getPath.getName)
      .filter(markers.committed).map(_ -> v)).sortBy(_._1)

  /** The latest committed version <= `asOf` of each bucket of `layer`
    * (restricted to `buckets` when given), read as one frame; a
    * retracted-to-empty version resolves the bucket to nothing. None
    * when nothing resolved holds data. */
  def read(spark: SparkSession, fs: FileSystem, root: Path, layer: String,
           buckets: Option[Set[Int]], markers: BatchMarkers.Markers,
           asOf: Option[Long] = None): Option[DataFrame] =
    ParquetFooter.readHoldingData(spark, fs,
      bucketDirs(fs, root, layer, buckets).flatMap { case (_, b) =>
        chain(fs, b, markers).filter { case (id, _) => asOf.forall(id <= _) }
          .lastOption.map(_._2.getPath)
      })

  /** The buckets `keys` hash into under the folds' bucket function,
    * `pmod(xxhash64(cols), nBuckets)`, from ONE collect of
    * [[bucketPairs]]. `nullRefusal` refuses a key with a NULL
    * component with that message. The caller's join evaluates `keys`
    * again, so a key frame must be deterministic. */
  def probeBuckets(keys: DataFrame, cols: Seq[String], nBuckets: Int,
                   nullRefusal: Option[String] = None): Set[Int] = {
    val pairs = bucketPairs(keys, cols, nBuckets).collect()
    nullRefusal.foreach(msg => require(!pairs.exists(_.getBoolean(0)), msg))
    pairs.map(_.getInt(1)).toSet
  }

  /** The (any-key-NULL, bucket) pairs of `keys` the probe collects. A
    * local key frame (a CLI lookup's: the pairs optimize to a local
    * relation) yields one pair per key with no job and no shuffle; any
    * other yields the distinct pairs, at most 2 * `nBuckets` rows
    * however many keys it scans. A lookup's left-semi join ignores
    * duplicate keys, so neither needs more. */
  private[graft] def bucketPairs(keys: DataFrame, cols: Seq[String],
                                 nBuckets: Int): DataFrame = {
    val pairs = keys.select(cols.map(col(_).isNull).reduce(_ || _),
      pmod(xxhash64(cols.map(col): _*), lit(nBuckets)).cast("int"))
    pairs.queryExecution.optimizedPlan match {
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => pairs
      case _ => pairs.distinct()
    }
  }

  // ---- change sets --------------------------------------------------

  /** Buckets of `layer` holding a committed version in `(fromId, toId]`
    * — a bucket with none is byte-identical at both snapshots. */
  def changedBuckets(fs: FileSystem, root: Path, layer: String,
                     markers: BatchMarkers.Markers,
                     fromId: Long, toId: Long): Set[Int] =
    bucketDirs(fs, root, layer, None).filter { case (_, b) =>
      list(fs, b).exists(v => versionId(v.getPath.getName)
        .exists(id => markers.committed(id) && id > fromId && id <= toId))
    }.map(_._1).toSet

  /** The labeled change set between two snapshots: rows whose `keys`
    * appear on one side only, or whose `stateCols` differ (null-safe),
    * as the keys, every state column twice (`<col>_from`, `<col>_to`,
    * NULL on the absent side) and `change` = added / removed /
    * changed. Presence rides `presence`, a column never NULL on a
    * live row. */
  def labelChanges(from: DataFrame, to: DataFrame, keys: Seq[String],
                   stateCols: Seq[String], presence: String): DataFrame = {
    val cond = keys.map(c => from(c) <=> to(c)).reduce(_ && _)
    val inFrom = from(presence).isNotNull
    val inTo = to(presence).isNotNull
    val differs = stateCols.map(c => !(from(c) <=> to(c)))
      .reduceOption(_ || _).getOrElse(lit(false))
    from.join(to, cond, "full_outer")
      .where((inFrom =!= inTo) || differs)
      .select((keys.map(c => coalesce(from(c), to(c)).as(c)) ++
        stateCols.map(c => from(c).as(s"${c}_from")) ++
        stateCols.map(c => to(c).as(s"${c}_to")) :+
        when(inFrom && !inTo, lit("removed"))
          .when(!inFrom && inTo, lit("added"))
          .otherwise(lit("changed")).as("change")): _*)
  }

  /** The frontier a pinned pull reads up to, resolved ONCE so the
    * pulled range and the reported frontier cannot drift apart: the
    * manifest cap `upTo` (never ahead of the root's own frontier),
    * else the root's committed frontier. Refuses loud a cap or an
    * `afterId` ahead of it (a silent empty pull would drop the
    * consumer's backlog) and, for log pulls, an `afterId` below the
    * change-log start `logStart`. `what` prefixes every message;
    * `witness` names the frontier's evidence. */
  def pinFrontier(what: String, root: String, markers: BatchMarkers.Markers,
                  afterId: Long, upTo: Option[Long], noState: => String,
                  witness: String = "committed",
                  logStart: Option[Long] = None,
                  logDirs: String = "their log dirs"): Long = {
    val rootFrontier = markers.maxCommitted
      .getOrElse(throw new IllegalStateException(noState))
    upTo.foreach(u => require(u <= rootFrontier,
      s"$what: the manifest cap $u is AHEAD of the $witness frontier " +
        s"$rootFrontier under $root — a group frontier this root never " +
        "produced (a reset root?); re-baseline"))
    val frontier = upTo.getOrElse(rootFrontier)
    logStart.foreach(from => require(afterId >= from,
      s"$what: afterId $afterId is below the change-log start $from " +
        s"under $root — folds at or before it were never logged (mode " +
        s"enabled later) or $logDirs were reaped; re-baseline the " +
        "consumer with a full export"))
    require(afterId <= frontier,
      s"$what: afterId $afterId is AHEAD of the $witness frontier " +
        s"$frontier under $root — a frontier this state never produced " +
        "(wrong root, or a reset state); re-baseline the consumer with " +
        "a full export")
    frontier
  }

  // ---- gates ----------------------------------------------------------

  /** The retention-floor refusal for range reads: no floor = not in
    * retention mode (IllegalStateException `notRetained`); `asOf`
    * below it = reaped history (IllegalArgumentException
    * `below(floor)`). */
  def requireFloor(fs: FileSystem, root: Path, asOf: Long,
                   notRetained: => String, below: Long => String): Unit = {
    val floor = BatchMarkers.readFloor(fs, root)
      .getOrElse(throw new IllegalStateException(notRetained))
    require(asOf >= floor, below(floor))
  }

  /** The bucket-pruned gate for POINT lookups: a bucket's as-of
    * resolution depends on its own chain alone, so a lookup touching
    * `buckets` is sound at `asOf` iff `asOf >= max(seed, floor(b) for
    * b in buckets)` — a cold key's history outlives the hot buckets'
    * churn. Not sound for range reads (a version reaped inside a range
    * leaves no version the changed-bucket listing could see), which
    * keep [[requireFloor]]. States retained before seeds existed fall
    * back to the global floor. */
  def requireBucketFloors(fs: FileSystem, root: Path, asOf: Long,
                          layer: String, buckets: Set[Int],
                          notRetained: => String,
                          below: Long => String): Unit = {
    val floor = BatchMarkers.readFloor(fs, root)
      .getOrElse(throw new IllegalStateException(notRetained))
    if (asOf >= floor) return
    val seed = BatchMarkers.readSeed(fs, root)
      .getOrElse(throw new IllegalArgumentException(below(floor)))
    val bound = (seed +: buckets.toSeq.map(b => BatchMarkers
      .readFloor(fs, bucketDir(root, layer, b)).getOrElse(seed)))
      .max
    require(asOf >= bound,
      s"as-of lookup at batch $asOf under $root: a touched bucket's " +
        s"retained chain starts at $bound (seed $seed, global floor " +
        s"$floor) — that bucket's earlier versions were reaped; " +
        "widen the retention window on the GC cadence")
  }

  // ---- GC -------------------------------------------------------------

  /** Reap superseded versions older than the window and ADVANCE THE
    * FLOOR past them. A version v_i stays servable (as-of ids in
    * [v_i, v_j)) until its SUPERSEDING committed version v_j is older
    * than the window; the latest committed version of a bucket is
    * never touched. The floor — the max superseding id reaped — is
    * written before any delete; `bucketFloors` also writes each reaped
    * bucket's own max superseding id into the bucket dir (the point
    * lookups' gate, [[requireBucketFloors]]), still before any delete.
    * @return (deleted paths, the floor now in force) */
  def reapSuperseded(fs: FileSystem, root: Path, layers: Seq[String],
                     markers: BatchMarkers.Markers, retainMs: Long,
                     floor: Long,
                     bucketFloors: Boolean): (Seq[String], Long) = {
    val cutoff = System.currentTimeMillis() - retainMs
    val hits = layers.flatMap(l => bucketDirs(fs, root, l, None)).flatMap {
      case (_, b) => chain(fs, b, markers).sliding(2).collect {
        case Seq((_, vi), (j, vj)) if vj.getModificationTime <= cutoff =>
          (vi.getPath, j)
      }
    }
    if (hits.isEmpty) return (Nil, floor)
    val newFloor = math.max(floor, hits.map(_._2).max)
    if (newFloor > floor) BatchMarkers.writeFloor(fs, root, newFloor)
    if (bucketFloors) hits.groupBy(_._1.getParent).foreach {
      case (bucketDir, pairs) =>
        BatchMarkers.writeFloor(fs, bucketDir, pairs.map(_._2).max)
    }
    (hits.map { case (p, _) => fs.delete(p, true); p.toString }, newFloor)
  }

  /** Reap COMMITTED change-log dirs older than the window and ADVANCE
    * the `_LOG_FROM_` bound past them, bound written before any delete.
    * Committed dirs at or below the current bound are unreachable and
    * go regardless of age. An uncommitted dir is never reaped here: it
    * may be a crashed fold's emission its replay skips re-emitting, and
    * a bound moved past it would strand every consumer ([[sweep]] owns
    * uncommitted garbage). @return (deleted paths, the bound in force) */
  def reapLog(fs: FileSystem, root: Path, layers: Seq[String],
              markers: BatchMarkers.Markers, retainMs: Long,
              logFrom: Long): (Seq[String], Long) = {
    val cutoff = System.currentTimeMillis() - retainMs
    val doomed = entries(fs, root, Nil, layers).filter(e => !e.staging &&
      markers.committed(e.id) && (e.id <= logFrom || e.mtime <= cutoff))
    if (doomed.isEmpty) return (Nil, logFrom)
    val newFrom = (logFrom +: doomed.map(_.id)).max
    if (newFrom > logFrom) BatchMarkers.writeLogFrom(fs, root, newFrom)
    (doomed.map { e => fs.delete(e.path, true); e.path.toString }, newFrom)
  }

  /** Collapse AGED committed per-batch markers into ONE
    * `_APPLIED_UPTO_<w>` watermark. Only markers older than
    * `olderThanMs` fold, so every id inside its replay window keeps a
    * per-id marker. Before the watermark lands, every uncommitted
    * entry `entries` lists with id <= w is deleted (sweep before fold:
    * afterwards it would read as committed). Folds when the frontier
    * advances or a prior fold's crash left subsumed per-id markers.
    * @return the watermark written, None when nothing qualifies */
  def foldMarkers(fs: FileSystem, root: Path, olderThanMs: Long)
                 (entries: => Seq[Entry]): Option[Long] = {
    if (!fs.exists(root)) return None
    val markers = BatchMarkers.read(fs, root)
    val cutoff = System.currentTimeMillis() - olderThanMs
    val aged = markers.ids.filter(id => markers.mtimes(id) <= cutoff)
    (markers.watermark.toSeq ++ aged).maxOption
      .filter(v => markers.watermark.forall(_ < v) ||
        markers.ids.exists(_ <= v))
      .map { w =>
        entries.filter(e => e.id <= w && !markers.committed(e.id))
          .foreach(e => fs.delete(e.path, true))
        BatchMarkers.foldInto(fs, root, markers, w)
        w
      }
  }

  /** The orphan rule of a MONOTONE family whose ids strictly below
    * `below` can never fold again: a staging shell is dead once its id
    * is committed or below `below`, any other entry once it is
    * uncommitted and below `below`; above it only entries older than
    * `cutoff` go (an in-flight fold's fresh output survives). */
  def monotoneDead(markers: BatchMarkers.Markers, below: Long,
                   cutoff: Long): Entry => Boolean = e =>
    if (e.staging) markers.committed(e.id) || e.id < below || e.mtime <= cutoff
    else !markers.committed(e.id) && (e.id < below || e.mtime <= cutoff)

  /** Delete the `dead` entries. @return deleted paths */
  def sweep(fs: FileSystem, entries: Seq[Entry])
           (dead: Entry => Boolean): Seq[String] =
    entries.filter(dead).map { e => fs.delete(e.path, true); e.path.toString }

  // ---- write protocol -------------------------------------------

  private def stagingDir(root: Path, layer: String, id: Long): Path =
    new Path(root, s"$layer/.staging$id")

  /** `<layer>/bucket=<k>`: a bucket's chain (and its floor files). */
  def bucketDir(root: Path, layer: String, bucket: Int): Path =
    new Path(root, s"$layer/bucket=$bucket")

  /** The name of batch `id`'s flat dir: `<prefix><id>`. */
  def batchName(prefix: String, id: Long): String = s"$prefix$id"

  /** `<layer>/<prefix><id>`: batch `id`'s flat dir. */
  def batchDir(root: Path, layer: String, id: Long,
               prefix: String = "b"): Path =
    new Path(root, s"$layer/${batchName(prefix, id)}")

  /** Drop batch `id`'s residue — a crashed attempt's garbage — from
    * the versioned `chains` layers (staging shell, `v<id>` in every
    * bucket) and the flat `batchDirs` layers (staging shell,
    * `<prefix><id>`). */
  def dropBatch(fs: FileSystem, root: Path, id: Long, chains: Seq[String],
                batchDirs: Seq[String] = Nil, prefix: String = "b"): Unit = {
    chains.foreach { layer =>
      fs.delete(stagingDir(root, layer, id), true)
      bucketDirs(fs, root, layer, None)
        .foreach { case (_, b) => fs.delete(new Path(b, s"v$id"), true) }
    }
    batchDirs.foreach { layer =>
      fs.delete(stagingDir(root, layer, id), true)
      fs.delete(batchDir(root, layer, id, prefix), true)
    }
  }

  /** VERSIONED WRITE: `df`, bucketed by its `partCol` column, becomes
    * version `v<id>` of every bucket of `layer` it holds rows for, and
    * each bucket of `touched` left without rows gets an EMPTY `v<id>`
    * (the cover). The layer's residue of `id` goes first: a stale
    * `v<id>` would take the promote's rename as a nested child.
    * @return the buckets written */
  def writeVersion(fs: FileSystem, root: Path, layer: String, id: Long,
                   df: DataFrame, partCol: String,
                   touched: Set[Int] = Set.empty): Set[Int] = {
    dropBatch(fs, root, id, Seq(layer))
    df.write.mode("overwrite").partitionBy(partCol)
      .parquet(stagingDir(root, layer, id).toString)
    val written = promote(fs, root, layer, id, partCol)
    (touched -- written).foreach { b =>
      fs.mkdirs(new Path(bucketDir(root, layer, b), s"v$id")); ()
    }
    written
  }

  /** FLAT BATCH-DIR WRITE: `df` (partitioned by `partCol` when given)
    * becomes `<layer>/<prefix><id>`, staged hidden and renamed in;
    * None — an empty fold — makes an empty dir. The layer's residue
    * of `id` goes first. */
  def writeBatchDir(fs: FileSystem, root: Path, layer: String, id: Long,
                    df: Option[DataFrame], prefix: String = "b",
                    partCol: Option[String] = None): Unit = {
    dropBatch(fs, root, id, Nil, Seq(layer), prefix)
    val home = batchDir(root, layer, id, prefix)
    df match {
      case None => fs.mkdirs(home); ()
      case Some(d) =>
        val staging = stagingDir(root, layer, id)
        val w = d.write.mode("overwrite")
        partCol.fold(w)(w.partitionBy(_)).parquet(staging.toString)
        if (!fs.rename(staging, home))
          throw new java.io.IOException(s"$layer: rename failed: $home")
    }
  }

  /** SUPERSEDED DROP, after the marker on a non-retained state: every
    * version below `id` in the `touched` buckets of `layer`, each of
    * which batch `id` gave a new latest version. Best-effort — a crash
    * leaves extra committed versions no read resolves (latest wins),
    * reaped by the next fold touching the bucket. */
  def dropSuperseded(fs: FileSystem, root: Path, layer: String, id: Long,
                     touched: Set[Int]): Unit =
    touched.foreach { b =>
      list(fs, bucketDir(root, layer, b)).map(_.getPath)
        .filter(v => versionId(v.getName).exists(_ < id))
        .foreach(fs.delete(_, true))
    }

  /** Ids of `layer`'s committed `<prefix><id>` batch dirs. */
  def committedIds(fs: FileSystem, root: Path, layer: String, prefix: String,
                   markers: BatchMarkers.Markers): Set[Long] =
    entries(fs, root, Nil, Seq(layer), prefix)
      .filter(e => !e.staging && markers.committed(e.id)).map(_.id).toSet

  /** The `__bucket=<k>` leaves of `layer`'s committed `<prefix><id>`
    * batch dirs whose id passes `ids`, restricted to `buckets` when
    * given, read as one frame — the committed, bucket-pruned prefix of
    * a batch-dir layer, blind to rename-window garbage. Leaves are
    * read directly (no partition discovery), so the `__bucket` column
    * never reaches a reader. None when no leaf qualifies. */
  def readBatches(spark: SparkSession, fs: FileSystem, root: Path,
                  layer: String, prefix: String,
                  markers: BatchMarkers.Markers,
                  buckets: Option[Set[Int]] = None,
                  ids: Long => Boolean = _ => true): Option[DataFrame] =
    entries(fs, root, Nil, Seq(layer), prefix)
      .filter(e => !e.staging && markers.committed(e.id) && ids(e.id))
      .sortBy(_.path.getName)
      .flatMap(e => list(fs, e.path).filter(_.isDirectory).map(_.getPath)
        .filter { leaf =>
          val n = leaf.getName
          n.startsWith("__bucket=") && buckets.forall(bs =>
            n.stripPrefix("__bucket=").toIntOption.exists(bs.contains))
        }) match {
      case Seq() => None
      case dirs  => Some(ParquetFooter.read(spark, fs, dirs))
    }

  /** Rename `<layer>/.staging<id>/<partCol>=<k>` children into their
    * `bucket=<k>/v<id>` homes, then drop the shell. @return the
    * buckets promoted */
  private def promote(fs: FileSystem, root: Path, layer: String, id: Long,
                      partCol: String): Set[Int] = {
    val staging = stagingDir(root, layer, id)
    val promoted = list(fs, staging).map(_.getPath)
      .filter(_.getName.startsWith(s"$partCol="))
      .map { child =>
        val b = child.getName.stripPrefix(s"$partCol=").toInt
        val home = bucketDir(root, layer, b)
        fs.mkdirs(home)
        val to = new Path(home, s"v$id")
        if (!fs.rename(child, to))
          throw new java.io.IOException(s"$layer: rename failed: $to")
        b
      }.toSet
    fs.delete(staging, true)
    promoted
  }
}
