package graft.app

import graft.model._
import graft.operators.Load
import graft.sources.CsvIngest
import org.apache.spark.sql.SparkSession

/** Job orchestration — the reference's application layer re-expressed
  * (reference: src/Keboola/DbWriter/RedshiftApplication.php).
  *
  * Per-table plan (run action):
  *   filter export=false (P3) → guard empty schema (P4) → read CSV →
  *   order-sensitive column check (P5) → checked cast/project
  *   (P1/P2/P6) → full overwrite (O2) or stage-wins PK merge (O3/J3).
  *
  * Every sink write goes through [[Retry.withRetry]] (O4: ≤3 tries,
  * quadratic backoff — reference: Writer/Redshift.php:226-260; strict
  * violations and deterministic SQL failures are not retried).
  */
final class Engine(spark: SparkSession, sink: TableSink) {

  /** Run one table's load plan; returns true when the table was
    * exported (mirrors the reference's `uploaded` list accounting). */
  def writeTable(dataDir: String, table: TableConfig): Boolean = {
    if (!table.export) return false                 // P3
    if (table.items.isEmpty) return false           // P4 (RedshiftApplication.php:88-90)
    val csvPath = CsvIngest.normalizeScheme(s"$dataDir/in/tables/${table.tableId}.csv")
    // Sliced input (S3): `<tableId>.csv` is a DIRECTORY of headerless
    // slices, column list supplied by the manifest sidecar — mirrors
    // the reference's COPY…MANIFEST path (Writer/Redshift.php:83-112).
    // Single-file input: header row read for the order check (P5).
    // All path handling is Hadoop-Path-based (file://, s3a://, hdfs://
    // — same code path), never java.io.File.
    val hPath = new org.apache.hadoop.fs.Path(csvPath)
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    val manifest = new org.apache.hadoop.fs.Path(s"$csvPath.manifest")
    val (manifestCols, s3staged) =
      if (fs.exists(manifest)) manifestInfo(manifest.toString) else (Nil, None)
    if (manifestCols.nonEmpty)
      ConfigParser.checkColumns(manifestCols, table) // P5
    val (raw, hasHeader) = s3staged match {
      case Some(s3) =>
        // S3-staged input (the reference's writeFromS3 path,
        // Writer/Redshift.php:79-114): credentials flow to the s3a
        // connector; sliced keys name a COPY manifest of gzip slices
        // (empty entry list → no-op load, :83-90), single keys read
        // with IGNOREHEADER-style header skip.
        applyS3Credentials(s3)
        val url = stagedUrl(s3)
        if (s3.isSliced) {
          val entries = CsvIngest.manifestEntries(spark, url)
            .map(CsvIngest.normalizeScheme)
          (CsvIngest.readSlices(spark, entries, table), false)
        } else {
          // P5 must still hold when the manifest carries no columns
          // list: read the staged file's header — positional schema
          // mapping would otherwise load reordered columns silently
          // into the wrong fields
          if (manifestCols.isEmpty)
            ConfigParser.checkColumns(CsvIngest.headerColumns(spark, url), table)
          (CsvIngest.read(spark, url, table), true)
        }
      case None =>
        val sliced = fs.exists(hPath) && fs.getFileStatus(hPath).isDirectory
        if (sliced) {
          val slices = fs.listStatus(hPath).toSeq
            .filter(st => st.isFile && !st.getPath.getName.startsWith(".") &&
              !st.getPath.getName.startsWith("_"))
            .map(_.getPath.toString).sorted
          (CsvIngest.readSlices(spark, slices, table), false)
        } else {
          ConfigParser.checkColumns(CsvIngest.headerColumns(spark, csvPath), table) // P5
          (CsvIngest.read(spark, csvPath, table), true)
        }
    }
    // Strict ingest = COPY semantics: a value the declared type rejects
    // (or a NULL in a NOT NULL column) aborts the load as a UserException
    // "Column 'x', line N: …" — the reference surfaces stl_load_errors
    // this way and its e2e asserts it (tests/Keboola/FunctionalTest.php:74-78).
    // Like the reference's COPY, the check rides inside the staging
    // write: the staged frame raises on the first offending row, and only
    // then does the per-line location pass run, inside the retried body
    // — its UserException is never retried and the target is never
    // touched. A clean load scans its input once.
    val staged = CsvIngest.castAndProjectChecked(raw, table)
    def load(write: => Unit): Unit =
      Retry.withRetry(3)(CsvIngest.reportingOffences(raw, table, hasHeader)(write))
    if (table.incremental && sink.tableExists(table.dbName)) {
      // O3: stage-wins PK merge into the existing target. The sink owns
      // where it runs: JdbcSink merges in the database (only the delta
      // travels, the target is never read), the default merges in Spark
      // and stages+swaps — the target frame below then feeds that plan.
      val targetSchema = sink.schema(table.dbName)
      // Align ONLY timestamp flavors to the stored target: a config
      // re-spelling 'timestamp' as 'timestamp without timezone'
      // maps to NTZ while the stored table is LTZ (equivalent under
      // the UTC pin) — cast so the merge union doesn't mix flavors.
      // Anything else (added/removed columns, genuine type changes)
      // passes through so Load.upsert fails LOUDLY, like the
      // reference's column-mismatch error — a blanket cast to the
      // target schema would silently drop new columns or null out
      // incompatible values.
      import org.apache.spark.sql.functions.col
      import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
      val tsFlavors: Set[org.apache.spark.sql.types.DataType] =
        Set(TimestampType, TimestampNTZType)
      // keyed lowercase: JDBC catalogs that fold identifiers to
      // uppercase (Derby, Oracle) must still match the staged names
      val targetTypes = targetSchema.fields
        .map(f => f.name.toLowerCase -> f.dataType).toMap
      val aligned = staged.schema.fields.foldLeft(staged) { (df, f) =>
        targetTypes.get(f.name.toLowerCase) match {
          case Some(tt) if tt != f.dataType &&
              tsFlavors(tt) && tsFlavors(f.dataType) =>
            val q = "`" + f.name.replace("`", "``") + "`"
            df.withColumn(f.name, col(q).cast(tt))
          case _ => df
        }
      }
      // Add-nullable-column evolution (extension; flag-gated, see
      // TableConfig.allowAddColumns — default keeps reference
      // parity: ANY drift fails loudly in the merge union).
      // Only DECLARED-nullable additions are filled: NULL-filling
      // a NOT NULL column would manufacture history rows that
      // violate the declared constraint.
      if (table.allowAddColumns) {
        // same diff definition as the fill itself (Load
        // .addedColumns) — guard and fill can never disagree on
        // what counts as an added column
        val spec = table.activeItems
          .map(c => c.dbName.toLowerCase -> c).toMap
        Load.addedColumns(targetSchema, aligned.schema)
          .filter(f => spec.get(f.name.toLowerCase).exists(!_.nullable))
          .foreach { f =>
            throw new UserException(
              s"Cannot add NOT NULL column '${f.name}' to existing " +
                s"table '${table.dbName}': existing rows have no " +
                "value for it")
          }
      }
      // read only when the sink's merge asks for it (by-name)
      def target =
        if (table.allowAddColumns)
          Load.withStageColumns(sink.read(table.dbName), aligned)
        else sink.read(table.dbName)
      load(sink.upsert(target, aligned, table.primaryKey, table.dbName))
    } else {
      // O2: full load = drop + create + copy ≡ atomic overwrite; an
      // incremental load into a missing target creates it the same way.
      load(sink.overwrite(staged, table.dbName))
    }
    true
  }

  /** Column list + optional S3 staging block from a storage manifest
    * sidecar `{id, columns:[…], s3:{bucket,key,isSliced,region,
    * credentials:{…}}}` (FIXTURES.md §6; reference
    * RedshiftApplication.php:141-146 + Writer/Redshift.php:79-114).
    * Scheme-agnostic (Hadoop filesystem). */
  private[graft] def manifestInfo(path: String): (Seq[String], Option[S3Staged]) = {
    import scala.jdk.CollectionConverters._
    val hPath = new org.apache.hadoop.fs.Path(path)
    val in = hPath.getFileSystem(spark.sessionState.newHadoopConf()).open(hPath)
    try {
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(in)
      val cols = Option(root.get("columns")).toSeq
        .flatMap(_.elements.asScala.map(_.asText).toSeq)
      def str(n: com.fasterxml.jackson.databind.JsonNode, f: String) =
        Option(n.get(f)).map(_.asText).filter(_.nonEmpty)
      val s3 = Option(root.get("s3")).flatMap { n =>
        for (bucket <- str(n, "bucket"); key <- str(n, "key")) yield {
          val creds = Option(n.get("credentials"))
          S3Staged(bucket, key,
            isSliced = Option(n.get("isSliced")).exists(_.asBoolean(false)),
            region = str(n, "region"),
            accessKeyId = creds.flatMap(str(_, "access_key_id")),
            secretAccessKey = creds.flatMap(str(_, "secret_access_key")),
            sessionToken = creds.flatMap(str(_, "session_token")))
        }
      }
      (cols, s3)
    } finally in.close()
  }

  /** `s3://bucket/key` → the Hadoop connector's `s3a://` URL. */
  private[graft] def stagedUrl(s3: S3Staged): String =
    CsvIngest.normalizeScheme(s"s3://${s3.bucket}/${s3.key}")

  /** Map the manifest's temporary credentials onto the s3a connector
    * (the analog of COPY's `CREDENTIALS 'aws_access_key_id=…'`,
    * Writer/Redshift.php:95-98). Session-token creds select the
    * temporary-credentials provider.
    *
    * Scoped PER BUCKET (`fs.s3a.bucket.<name>.*`): global keys would
    * leak one table's credentials into every other s3a read of the
    * run, and disabling the FS cache to compensate leaks an unclosed
    * S3AFileSystem (connection pool + threads) per access. Per-bucket
    * config also composes with Hadoop's FS cache, which keys on
    * scheme+authority (= bucket).
    *
    * Mechanics: before the FIRST engine touch of a bucket, the
    * pre-existing per-bucket keys (operator spark-defaults, e.g. an
    * endpoint region) are SNAPSHOT; every application first restores
    * that snapshot, then overlays the manifest's values — so a
    * manifest with creds but no region keeps the operator's region,
    * and a later credential-less manifest restores the operator
    * baseline exactly (default provider chain for public/IAM
    * buckets). After any change the bucket's cached S3AFileSystem is
    * evicted, so SAME-BUCKET credential rotation within one session
    * takes effect instead of hitting the first-built cached FS.
    * The eviction reaches every FS cache in THIS JVM (driver +
    * local-mode executors — the deployment this engine targets); in a
    * multi-JVM cluster, executor JVMs key their FS cache on
    * scheme+authority and would keep a pre-rotation instance — set
    * `fs.s3a.impl.disable.cache=true` there, or rely on new executors
    * post-rotation.
    * Tracking lives in [[S3CredentialScope]] keyed by the Hadoop
    * Configuration — session-scoped like the configuration itself, so
    * a second Engine instance on the same session sees what the first
    * set. */
  private[graft] def applyS3Credentials(s3: S3Staged): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = s"fs.s3a.bucket.${s3.bucket}"
    val keys = Seq(s"$p.access.key", s"$p.secret.key", s"$p.session.token",
      s"$p.aws.credentials.provider", s"$p.endpoint.region")
    val scope = S3CredentialScope.forConf(conf)
    // serialize snapshot/restore/overlay against concurrent table
    // loads (run's bounded pool) — per-bucket keys keep different
    // buckets independent, but the snapshot bookkeeping must not tear
    scope.synchronized {
      def restore(snapshot: Map[String, Option[String]]): Unit =
        keys.foreach { k =>
          snapshot.getOrElse(k, None) match {
            case Some(v) => conf.set(k, v)
            case None    => conf.unset(k)
          }
        }
      if (s3.accessKeyId.isDefined) {
        // snapshot the operator baseline on first engine touch only —
        // later manifests must not snapshot engine-set values
        val snapshot = scope.getOrElseUpdate(s3.bucket,
          keys.map(k => k -> Option(conf.get(k))).toMap)
        restore(snapshot) // engine keys from a prior manifest cleared
        s3.accessKeyId.foreach(conf.set(s"$p.access.key", _))
        s3.secretAccessKey.foreach(conf.set(s"$p.secret.key", _))
        s3.sessionToken.foreach(conf.set(s"$p.session.token", _))
        conf.set(s"$p.aws.credentials.provider",
          if (s3.sessionToken.isDefined)
            "org.apache.hadoop.fs.s3a.TemporaryAWSCredentialsProvider"
          else "org.apache.hadoop.fs.s3a.SimpleAWSCredentialsProvider")
        s3.region.foreach(conf.set(s"$p.endpoint.region", _))
        evictCachedFs(s"s3a://${s3.bucket}/")
      } else scope.remove(s3.bucket).foreach { snapshot =>
        // no credentials in THIS manifest, but a previous manifest set
        // some for the bucket: back to the operator baseline — but never
        // touch buckets the engine hasn't configured
        restore(snapshot)
        evictCachedFs(s"s3a://${s3.bucket}/")
      }
    }
  }

  /** Drop the JVM-cached FileSystem for `uri` so the next access
    * rebuilds it under the CURRENT configuration. `FileSystem.get`
    * returns the cached instance when one exists (building one
    * otherwise — harmless, it is built with the new config);
    * `close()` deregisters it from the cache. Best-effort: an
    * unreachable endpoint during rebuild must not fail the load —
    * the actual read will surface it. */
  private[graft] def evictCachedFs(uri: String): Unit =
    try org.apache.hadoop.fs.FileSystem
      .get(java.net.URI.create(uri), spark.sparkContext.hadoopConfiguration)
      .close()
    catch { case _: Exception => () }

  /** The `run` action over a parsed config (O1 dispatch target).
    *
    * `maxParallelLoads = 1` (the default) is the reference's serial
    * loop (RedshiftApplication.php:64-69). Width > 1 runs INDEPENDENT
    * destinations concurrently on a bounded pool — with many tables
    * the driver otherwise serializes loads Spark's scheduler would
    * happily overlap. Semantics preserved:
    *  - tables sharing a dbName (full load + its increment) form an
    *    ordered CHAIN — they stay sequenced, chains parallelize;
    *  - the `uploaded` list keeps config order regardless of
    *    completion order;
    *  - first failure wins (earliest chain in config order) and the
    *    remaining chains are cancelled — like the serial loop, except
    *    chains already past the failure point may have completed their
    *    (per-table atomic) swaps.
    * Same-bucket S3 credential rotation across concurrently loading
    * tables is order-dependent by nature — keep width 1 for
    * credential-rotating workloads ([[applyS3Credentials]] itself is
    * synchronized, so the config map never tears). */
  def run(config: JobConfig, dataDir: String): Seq[String] = {
    val width = math.max(1, config.maxParallelLoads)
    if (width <= 1 || config.tables.sizeIs <= 1)
      config.tables.filter(t => writeTable(dataDir, t)).map(_.tableId)
    else {
      // chains carry each table's CONFIG POSITION so the uploaded list
      // can be rebuilt by index — a tableId-keyed multiset would
      // attribute an upload to the wrong occurrence of a duplicated
      // tableId and diverge from the serial loop's order
      val indexed = config.tables.zipWithIndex
      val byDest = indexed.groupBy(_._1.dbName)
      val chains = config.tables.map(_.dbName).distinct.map(byDest)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(width, chains.size))
      try {
        val futures = chains.map { chain =>
          pool.submit(new java.util.concurrent.Callable[Seq[Int]] {
            def call(): Seq[Int] =
              chain.filter { case (t, _) => writeTable(dataDir, t) }
                .map(_._2)
          })
        }
        // harvest in chain (= config) order: deterministic failure
        // attribution and an order-stable uploaded list
        val perChain = futures.map { f =>
          try f.get()
          catch {
            case e: java.util.concurrent.ExecutionException =>
              futures.foreach(_.cancel(true))
              throw Option(e.getCause).getOrElse(e)
          }
        }
        // config order by position: exact serial-loop semantics even
        // when a tableId appears more than once in the config
        val uploadedIdx = perChain.flatten.toSet
        indexed.collect { case (t, i) if uploadedIdx(i) => t.tableId }
      } finally {
        pool.shutdownNow()
        // bounded drain: interrupted chains unwind (Retry rethrows
        // interrupts instead of re-executing the write) before the CLI
        // reports and exits; a Spark action that ignores the interrupt
        // at most completes its per-table ATOMIC swap
        try pool.awaitTermination(30, java.util.concurrent.TimeUnit.SECONDS)
        catch { case _: InterruptedException => Thread.currentThread().interrupt() }
      }
    }
  }

  /** O9 — liveness probe against the configured DESTINATION via
    * [[TableSink.ping]] (reference: `SELECT current_date` over the PDO
    * connection, Writer/Redshift.php:321-324). Probing local Spark
    * instead would succeed with the sink endpoint down. */
  def testConnection(): Unit = sink.ping()

  /** O10 — implemented properly (the reference throws
    * ApplicationException('Method not implemented'),
    * Writer/Redshift.php:295-303). */
  def tablesInfo(): Seq[(String, Seq[(String, String)])] =
    sink.listTables().map { name =>
      name -> sink.schema(name).fields.toSeq
        .map(f => f.name -> f.dataType.simpleString)
    }
}

/** Per-bucket operator-baseline snapshots, keyed by the Hadoop
  * Configuration they apply to. The configuration is session-global,
  * so the tracking must be too: with per-Engine tracking, a second
  * Engine instance on the same session could not restore (or would
  * re-snapshot) keys the first instance set. WeakHashMap so a retired
  * session's configuration doesn't pin its snapshots. */
private[graft] object S3CredentialScope {
  private val scopes = new java.util.WeakHashMap[
    org.apache.hadoop.conf.Configuration,
    scala.collection.mutable.Map[String, Map[String, Option[String]]]]()

  def forConf(conf: org.apache.hadoop.conf.Configuration)
      : scala.collection.mutable.Map[String, Map[String, Option[String]]] =
    scopes.synchronized {
      var m = scopes.get(conf)
      if (m == null) {
        m = scala.collection.mutable.Map.empty
        scopes.put(conf, m)
      }
      m
    }
}

/** O4 — retry with quadratic backoff: attempt i sleeps i² seconds
  * before retrying (reference: `$maxTries = 3`, sleep(pow(tries, 2)),
  * Writer/Redshift.php:238-253). Spark task retries cover the read
  * side; this wraps driver-side sink actions.
  *
  * Departure from the reference, which retries every statement
  * (Writer/Redshift.php:226-260): a failure whose SQLState is of a
  * class that fails the same way every time — 22 data exception, 23
  * integrity constraint violation, 42 syntax error or access rule
  * violation — stops at once. Connection (08), transaction-rollback
  * (40) and every other failure still retries. */
object Retry {
  def withRetry[T](maxTries: Int, sleepMs: Long => Long = i => i * i * 1000L)(f: => T): T = {
    var tries = 0
    var last: Throwable = null
    while (tries < maxTries) {
      try return f
      catch {
        case e: UserException => throw e // user errors are not transient
        // neither are plan errors (e.g. a merge union over drifted
        // columns): re-analysing the same plan fails the same way
        case e: org.apache.spark.sql.AnalysisException => throw e
        case e: InterruptedException =>
          // cancellation, not a transient failure: re-executing the
          // body would resurrect a load the engine just cancelled
          Thread.currentThread().interrupt(); throw e
        case e: Throwable if sqlState(e).exists(s => deterministicClasses(s.take(2))) =>
          throw e
        case e: Throwable =>
          tries += 1; last = e
          if (tries < maxTries) Thread.sleep(sleepMs(tries.toLong))
      }
    }
    throw last
  }

  private val deterministicClasses = Set("22", "23", "42")

  /** The SQLState of the first SQL failure in `e`'s cause chain — a
    * `java.sql.SQLException`, or a [[SqlStateException]] that carries
    * one without its raw message. */
  private[graft] def sqlState(e: Throwable): Option[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(64)
      .map {
        case s: java.sql.SQLException => Option(s.getSQLState)
        case s: SqlStateException     => s.sqlState
        case _                        => None
      }.collectFirst { case Some(st) => st }
}

/** A failure re-thrown with a scrubbed message and no cause, keeping
  * only the SQLState of the failure it replaces (so [[Retry]] can still
  * tell deterministic SQL failures from transient ones). */
private[graft] final class SqlStateException(msg: String, val sqlState: Option[String])
    extends RuntimeException(msg)
