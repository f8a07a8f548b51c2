package graft.app

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Destination abstraction (reference: the PDO/pgsql connection in
  * src/Keboola/DbWriter/Writer/Redshift.php:44-77). The engine's load
  * plans talk to this interface; tests and the zero-egress bench use
  * [[ParquetSink]], production writes use [[JdbcSink]] (S4 — the
  * driver-mandated JDBC approach) with identical semantics.
  */
/** Shared protection for staging swaps: retry the swap body in place,
  * and surface terminal failure as a NON-RETRYABLE UserException — an
  * outer retry must never re-execute a write plan whose input (the
  * old target) a half-finished swap already removed. Bodies must be
  * IDEMPOTENT across ambiguous failures (an operation that committed
  * server-side while the client saw an error must not be repeated
  * destructively on the next attempt). */
private[graft] object SwapGuard {
  /** `sanitize` scrubs the embedded failure message (the JDBC sink
    * passes its credential scrubber — driver errors echo the URL). */
  def apply[T](recovery: => String,
               sanitize: String => String = identity)(body: => T): T =
    try Retry.withRetry(3)(body)
    catch {
      case e: Exception =>
        throw new graft.model.UserException(
          s"$recovery: ${sanitize(Option(e.getMessage).getOrElse(""))}")
    }

  /** The per-child-directory swap every partition-scoped writer runs
    * (day partitions, state buckets): rename each staged child over
    * its target sibling, idempotently across ambiguous failures —
    * src gone + dst present reads as a prior attempt's landed rename.
    * ONE definition so the crash/replay semantics cannot diverge
    * between the writers. Wrapped in [[apply]] by the caller. */
  def swapChildren(fs: org.apache.hadoop.fs.FileSystem,
                   stage: org.apache.hadoop.fs.Path,
                   target: org.apache.hadoop.fs.Path,
                   children: Seq[String]): Unit = {
    import org.apache.hadoop.fs.Path
    if (!fs.exists(stage)) {
      val missing = children.filterNot(c => fs.exists(new Path(target, c)))
      if (missing.nonEmpty)
        throw new java.io.IOException(
          s"stage gone but children [${missing.mkString(",")}] missing " +
            s"under '$target'")
      // else: a prior attempt completed — done
    } else {
      if (!fs.exists(target)) fs.mkdirs(target)
      children.foreach { c =>
        val src = new Path(stage, c)
        val dst = new Path(target, c)
        if (fs.exists(src)) {
          if (fs.exists(dst)) fs.delete(dst, true)
          if (!fs.rename(src, dst))
            throw new java.io.IOException(s"child swap failed for '$dst'")
        } else if (!fs.exists(dst))
          throw new java.io.IOException(
            s"staged child '$src' missing and '$dst' absent")
        // src gone + dst present: prior attempt landed — done
      }
      fs.delete(stage, true) // shell (_SUCCESS etc.) only; children moved
    }
  }

  /** Marker-licensed crash recovery, ONE definition like
    * [[swapChildren]]: find the stranded stage whose `markerIn` file
    * proves it holds the replaying batch's COMPLETED output for
    * `child` (marker-first — a markerless stage holding the child
    * must never shadow the recoverable copy), and rename that child
    * into `target`. Returns true when a recovery happened. */
  def recoverChild(fs: org.apache.hadoop.fs.FileSystem,
                   stranded: Seq[org.apache.hadoop.fs.Path],
                   child: String,
                   markerIn: org.apache.hadoop.fs.Path =>
                     org.apache.hadoop.fs.Path,
                   target: org.apache.hadoop.fs.Path): Boolean = {
    import org.apache.hadoop.fs.Path
    stranded.find(sp => fs.exists(markerIn(sp)) &&
        fs.exists(new Path(sp, child))).exists { sp =>
      if (!fs.exists(target)) fs.mkdirs(target)
      if (!fs.rename(new Path(sp, child), new Path(target, child)))
        throw new java.io.IOException(
          s"recovery rename failed for '$child' from $sp")
      true
    }
  }
}

trait TableSink {
  /** Liveness probe against the DESTINATION (O9 — the reference pings
    * the database with `SELECT current_date` over PDO,
    * Writer/Redshift.php:321-324). Throws when the sink endpoint is
    * unreachable; a local-Spark no-op would pass testConnection even
    * with the destination down. */
  def ping(): Unit

  /** Catalog probe (reference: Writer/Redshift.php:216-224). */
  def tableExists(name: String): Boolean

  /** Read the current target table (for the merge's target side). */
  def read(name: String): DataFrame

  /** The table's schema, for planning a load against it. A sink that
    * can answer without setting up a read overrides this. */
  def schema(name: String): StructType = read(name).schema

  /** Replace the table wholesale (drop+create+copy collapses to one
    * atomic overwrite — reference: RedshiftApplication.php:131-139). */
  def overwrite(df: DataFrame, name: String): Unit

  /** Stage-wins primary-key merge of `delta` into the EXISTING table
    * `name` (O3 — reference: Writer/Redshift.php:155-209). `target` is
    * that table as the engine reads it, already aligned to the delta
    * (timestamp flavors, `allowAddColumns` fill), passed by name so a
    * merge that runs in place never reads it. The default merges in
    * Spark and overwrites; a sink that can merge in place overrides it. */
  def upsert(target: => DataFrame, delta: DataFrame, pk: Seq[String],
             name: String): Unit =
    overwrite(graft.operators.Load.upsert(target, delta, pk), name)

  /** List destination tables (reference getTablesInfo surface,
    * Writer/Redshift.php:295-303 — unimplemented there; real here). */
  def listTables(): Seq[String]
}

/** Parquet-directory sink: one subdirectory per table.
  *
  * Overwrites go through a staging directory + swap — the reference's
  * own staging-table pattern (`<name>_temp_<uniqid()>`,
  * Writer/Redshift.php:345-348): the incremental merge plan READS the
  * current target while computing its replacement, so writing in place
  * would destroy an input mid-job. Staging+rename is also the pattern
  * that scales (no lineage break / localCheckpoint of 100 TB).
  */
final class ParquetSink(spark: SparkSession, baseDir: String) extends TableSink {
  import org.apache.hadoop.fs.Path

  private def path(name: String) = new Path(baseDir, name)
  // scheme-agnostic (file://, s3a://, hdfs://) like the ingest side;
  // driver-only handle, never shipped to executors
  private def fs = new Path(baseDir)
    .getFileSystem(spark.sessionState.newHadoopConf())

  /** Destination reachability = the base filesystem answers a status
    * call (throws on an unreachable scheme/endpoint; a missing-but-
    * creatable directory is fine — that's what the first write makes). */
  def ping(): Unit = { fs.exists(new Path(baseDir)); () }

  // Directory presence, not _SUCCESS: the engine treats a present
  // directory as a live table so the incremental paths never replace
  // accumulated data with one batch on a spurious `false`. Caveat
  // (non-atomic s3a dir "rename" = copy+delete): a crash mid-swap can
  // leave a PARTIAL directory, and parquet reads of it succeed
  // silently on whatever files are present — recovery is the swap's
  // staged copy plus Maintenance.cleanOrphanStages, which refuses to
  // delete a stage whose target is missing.
  def tableExists(name: String): Boolean = fs.exists(path(name))

  /** Read with the footer's schema ([[graft.sources.ParquetFooter]]):
    * Spark's own schema inference would run a job to learn it. */
  def read(name: String): DataFrame =
    graft.sources.ParquetFooter.read(spark, fs, Seq(path(name)))

  /** The footer's schema without building a read: a load plans against
    * it, and the read's file index would list the table again. */
  override def schema(name: String): StructType =
    graft.sources.ParquetFooter.footerSchema(spark, fs, Seq(path(name)))
      .getOrElse(read(name).schema)

  def overwrite(df: DataFrame, name: String): Unit = {
    val stage = path(
      s"${name}__stage_${java.util.UUID.randomUUID().toString.take(8)}")
    // a failed write leaves a partial stage that listTables would
    // report as a table: remove it (nothing depends on it yet)
    try df.write.mode("overwrite").parquet(stage.toString)
    catch {
      case e: Throwable =>
        try fs.delete(stage, true) catch { case _: Exception => () }
        throw e
    }
    val target = path(name)
    // Idempotent swap (see SwapGuard): an ambiguous rename — committed
    // server-side, error client-side (s3a copy+delete, HDFS timeouts)
    // — leaves stage gone and target present; the retry must treat
    // that as success, NOT delete the freshly swapped-in data.
    SwapGuard(s"swap failed for table '$name' after retries " +
        s"(staged data preserved at $stage)") {
      if (!fs.exists(stage)) {
        if (!fs.exists(target))
          throw new java.io.IOException(
            s"stage and target both missing for '$name'")
        // else: a prior attempt's rename landed — done
      } else {
        if (fs.exists(target)) fs.delete(target, true)
        if (!fs.rename(stage, target))
          throw new java.io.IOException(s"swap failed for table '$name'")
      }
    }
  }

  def listTables(): Seq[String] = {
    val base = new Path(baseDir)
    if (!fs.exists(base)) Nil
    else fs.listStatus(base).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName).sorted
  }
}

/** JDBC sink (reference: PDO DSN with port 5439 + keepalives,
  * Writer/Redshift.php:44-77).
  *
  * Overwrites go through a STAGING TABLE + swap — the reference's own
  * `<name>_temp_<uniqid()>` pattern (Writer/Redshift.php:345-348) and
  * a correctness requirement here: the incremental merge plan READS
  * the current target lazily, so truncating the target before the
  * write job pulls its rows would feed the merge an empty input.
  * The swap (drop old + rename stage) runs on one JDBC connection.
  * Incremental loads ([[upsert]]) ship only the delta to a stage and
  * merge inside the database; the Spark merge above remains their
  * fallback for schema drift.
  *
  * `catalogSql` / `renameSql` default to the Redshift/Postgres
  * dialect; other engines (e.g. embedded Derby in the integration
  * spec) pass their own. `renameSql(from, to)` gets `to` unqualified,
  * as both dialects' RENAME expects.
  *
  * Failures are re-thrown with credentials scrubbed from the message —
  * the JDBC layer loves echoing the connection URL (e.g. "No suitable
  * driver found for jdbc:…password=…") — mirroring the reference's
  * `str_replace($password, '*****', $message)`
  * (Writer/Redshift.php:229-233). The scrubbed exception carries no
  * cause: a cause chain would re-surface the raw driver message.
  */
final class JdbcSink(spark: SparkSession, url: String,
                     props: Map[String, String],
                     catalogSql: String =
                       "SELECT table_name FROM information_schema.tables " +
                         "WHERE table_type = 'BASE TABLE' " +
                         "AND table_schema = current_schema()",
                     renameSql: (String, String) => String =
                       (from, to) => s"ALTER TABLE $from RENAME TO $to",
                     pingSql: String = "SELECT 1",
                     /** 1-row probe for the i-th string split point
                       * (`quotedCol` comes pre-quoted). The default
                       * speaks Redshift/Postgres/MySQL LIMIT/OFFSET;
                       * SQL-standard engines (Derby, MSSQL) pass an
                       * OFFSET…FETCH variant. */
                     splitProbeSql: (String, String, Long) => String =
                       (table, quotedCol, offset) =>
                         s"SELECT $quotedCol FROM $table " +
                           s"WHERE $quotedCol IS NOT NULL " +
                           s"ORDER BY $quotedCol LIMIT 1 OFFSET $offset")
    extends TableSink {

  /** O9 — one trivial statement over a real connection to the
    * configured endpoint (the reference's `SELECT current_date` PDO
    * ping, Writer/Redshift.php:321-324). Derby passes `VALUES 1`. */
  def ping(): Unit = guarded {
    val conn = connect()
    try {
      val st = conn.createStatement()
      try st.executeQuery(pingSql).close() finally st.close()
    } finally conn.close()
  }

  /** Every secret value that could leak into a driver message: any
    * password-named prop plus password/secret params inside the URL. */
  private val secrets: Seq[String] = {
    val fromProps = props.collect {
      case (k, v) if k.toLowerCase.contains("password") => v
    }.toSeq
    val urlParam = "(?i)(?:password|secret[^=&;]*)=([^&;]+)".r
    val fromUrl = urlParam.findAllMatchIn(url).map(_.group(1)).toSeq
    (fromProps ++ fromUrl).filter(_.nonEmpty).distinct
  }

  private[graft] def scrub(msg: String): String =
    secrets.foldLeft(Option(msg).getOrElse(""))(_.replace(_, "*****"))

  /** Wrap a JDBC action; any failure resurfaces with secrets masked.
    * Stays a RuntimeException (not UserException) so [[Retry]] still
    * treats transient connection errors as retryable, and keeps the
    * failure's SQLState so it stops on deterministic ones — but an inner
    * UserException (the terminal swap failure, already scrubbed)
    * passes through untouched: re-wrapping it retryable would let the
    * outer retry re-execute a plan whose input table is gone. */
  private def guarded[T](f: => T): T =
    try f catch {
      case e: graft.model.UserException => throw e
      case e: Exception =>
        throw new SqlStateException(
          s"${e.getClass.getSimpleName}: ${scrub(e.getMessage)}", Retry.sqlState(e))
    }

  /** Keys the SINK interprets itself — never forwarded raw: Spark
    * rejects `partitionColumn` without explicit bounds (and with the
    * catalog `query` option), so the engine supplies the bounds by
    * probing MIN/MAX at read time instead. */
  private val sinkOnlyKeys = Set("partitionColumn")

  private def reader = props.filterNot(kv => sinkOnlyKeys(kv._1)).foldLeft(
    spark.read.format("jdbc").option("url", url)) {
    case (r, (k, v)) => r.option(k, v)
  }

  // The reference's catalog probe (Writer/Redshift.php:216-224),
  // through JDBC metadata so a schema-qualified name resolves in its
  // own schema ([[exists]]). Connection failures PROPAGATE (scrubbed,
  // via guarded) — mapping them to false would make the incremental
  // paths treat a transient outage as "table missing" and replace the
  // accumulated table with one batch.
  def tableExists(name: String): Boolean = guarded {
    val conn = connect()
    try exists(conn, name) finally conn.close()
  }

  /** Whether `table` is a base table, via `DatabaseMetaData.getTables`
    * scoped and case-folded like [[ddlShape]] (a qualified `APP.t`
    * probes schema APP; unqualified names the current schema). */
  private def exists(conn: java.sql.Connection, table: String): Boolean = {
    val md = conn.getMetaData
    val escaped = metaEscaper(md)
    scopeVariants(metaScope(conn, table)).exists { case (c, s, t) =>
      val rs = md.getTables(c.orNull, s.map(escaped).orNull, escaped(t),
        Array("TABLE"))
      try rs.next() finally rs.close()
    }
  }

  /** The schema a plain read of `name` would have, from Spark's
    * `WHERE 1=0` resolve — no bounds or split-point probes, no job. */
  override def schema(name: String): StructType = guarded {
    reader.option("dbtable", name).load().schema
  }

  /** Table read; parallel when `partitionColumn` is configured in
    * `props` (typically the PK). A single-connection JDBC read is the
    * scale wall for warehouse-resident merge targets; the read routes
    * by the column's JDBC metadata type:
    *
    *  - NUMERIC family: the driver probes MIN/MAX once (one 1-row
    *    query) and Spark opens `numPartitions` (default 8) range scans
    *    instead of one stream.
    *  - CHAR/VARCHAR family (string/UUID PKs — common in warehouses):
    *    the driver probes `numPartitions - 1` quantile split points via
    *    the dialect's `splitProbeSql` (one 1-row query each) and reads with
    *    a `predicates` array of disjoint, covering ranges (NULLs ride
    *    in the first). Range comparisons run in the SAME database that
    *    ordered the probes, so collation stays consistent by
    *    construction. This is the dialect-portable path; an engine
    *    with a SQL hash function could use MOD(ABS(HASH(col)), n)
    *    predicates and skip the probes.
    *  - anything else (or a table without the column — the sink is
    *    shared across tables): plain single-stream read.
    *
    * Empty/tiny tables and NULL bounds fall back to the plain read.
    * Probes quote the column, mirroring Spark's own JDBC identifier
    * quoting. */
  def read(name: String): DataFrame = guarded {
    val plain = reader.option("dbtable", name)
    props.get("partitionColumn") match {
      case Some(pc) =>
        val n = props.getOrElse("numPartitions", "8").toInt
        // ONE driver connection serves all probes (type, then bounds
        // or split points) — reads against high-latency warehouses
        // shouldn't pay per-probe connection setup
        val probed: Option[Either[(Long, Long), Seq[String]]] = {
          val conn = connect()
          try {
            partitionColumnType(conn, name, pc) match {
              case Some(t) if numericJdbcTypes(t) =>
                boundsOf(conn, name, pc).map(Left(_))
              case Some(t) if charJdbcTypes(t) =>
                stringSplitPoints(conn, name, pc, n).map(Right(_))
              case _ => None
            }
          } finally conn.close()
        }
        probed match {
          case Some(Left((lo, hi))) =>
            plain
              .option("partitionColumn", pc)
              .option("lowerBound", lo.toString)
              .option("upperBound", hi.toString)
              .option("numPartitions", n.toString)
              .load()
          case Some(Right(points)) =>
            spark.read.jdbc(url, name,
              rangePredicates(pc, points), connProperties)
          case None => plain.load()
        }
      case None => plain.load()
    }
  }

  private val numericJdbcTypes: Set[Int] = {
    import java.sql.Types._
    Set(TINYINT, SMALLINT, INTEGER, BIGINT, NUMERIC, DECIMAL, REAL,
      FLOAT, DOUBLE)
  }

  /** Orderable fixed-length/varying character types only — LOBs (how
    * e.g. Derby stores Spark's unbounded StringType) are excluded:
    * most engines refuse to ORDER BY or range-compare them. */
  private val charJdbcTypes: Set[Int] = {
    import java.sql.Types._
    Set(CHAR, VARCHAR, LONGVARCHAR, NCHAR, NVARCHAR, LONGNVARCHAR)
  }

  /** Metadata-probe scope of a configured table name: a QUALIFIED
    * `schema.table` scopes the `getColumns` lookup to its own schema —
    * probing it under the connection's current schema would match no
    * row and silently degrade the caller (single-stream read, DDL
    * drop+rename) for exactly the warehouse-style names the reference
    * targets. A three-part `catalog.schema.table` additionally routes
    * its first part to the metadata call's CATALOG argument (splitting
    * only on the last dot would probe schemaPattern "catalog.schema" —
    * matching nothing, the same silent degrade). Unqualified names
    * scope to the current schema (a same-named table in another schema
    * must not decide this table's fate). */
  private def metaScope(conn: java.sql.Connection, table: String)
      : (Option[String], Option[String], String, Boolean) =
    table.split('.') match {
      case Array(c, s, t) => (Some(c), Some(s), t, true)
      case Array(s, t)    => (None, Some(s), t, true)
      case _ =>
        val cur =
          // Throwable, not Exception: pre-JDBC-4.1 drivers throw
          // AbstractMethodError (an Error) from getSchema
          try Option(conn.getSchema).filter(_.nonEmpty)
          catch { case _: Throwable => None }
        (None, cur, table, false)
    }

  /** Identifier-case variants of a probe scope — catalogs fold
    * unquoted names (Derby/Oracle upper, Postgres lower). A
    * USER-QUALIFIED catalog/schema folds WITH the table (all came from
    * the same unquoted config string); the connection's CURRENT schema
    * is already the catalog's exact spelling and must NOT be folded — a
    * mixed-case current schema (quoted at creation) would never match
    * its own folded variants. */
  private def scopeVariants(scope: (Option[String], Option[String],
                                    String, Boolean))
      : Seq[(Option[String], Option[String], String)] = {
    val (c, s, t, qualified) = scope
    if (qualified)
      Seq((c, s, t),
        (c.map(_.toUpperCase), s.map(_.toUpperCase), t.toUpperCase),
        (c.map(_.toLowerCase), s.map(_.toLowerCase), t.toLowerCase)).distinct
    else
      Seq((c, s, t), (c, s, t.toUpperCase), (c, s, t.toLowerCase)).distinct
  }

  /** `getColumns`-pattern escaping: `_`/`%` are single/multi-char
    * WILDCARDS in JDBC metadata patterns (every staging name contains
    * `_`), so literal lookups must escape them with the driver's
    * search-string escape. ONE definition for both probes. */
  private def metaEscaper(md: java.sql.DatabaseMetaData): String => String = {
    val esc = Option(md.getSearchStringEscape).getOrElse("\\")
    s => s.replace(esc, esc + esc)
      .replace("_", esc + "_").replace("%", esc + "%")
  }

  /** JDBC DATA_TYPE of `column` on `table`, or None when either is
    * missing — the fallback-to-plain-read signal. Case variants probed
    * and the lookup schema-scoped via [[metaScope]], both like
    * [[ddlShape]]. */
  private def partitionColumnType(conn: java.sql.Connection, table: String,
                                  column: String): Option[Int] =
    try {
      val md = conn.getMetaData
      val escaped = metaEscaper(md)
      scopeVariants(metaScope(conn, table)).iterator
        .map { case (c, s, t) =>
          // catalog is NOT a pattern argument in the JDBC spec — no escape
          val rs = md.getColumns(c.orNull, s.map(escaped).orNull,
            escaped(t), null)
          try {
            var found: Option[Int] = None
            while (rs.next())
              if (rs.getString("COLUMN_NAME").equalsIgnoreCase(column))
                found = Some(rs.getInt("DATA_TYPE"))
            found
          } finally rs.close()
        }.collectFirst { case Some(t) => t }
    } catch {
      case e: java.sql.SQLException
          if Option(e.getSQLState).exists(_.startsWith("42")) => None
    }

  /** `n - 1` ordered quantile split points of a string column, probed
    * driver-side with one 1-row query per point (cheap on an indexed
    * PK; n is small). None when the table is too small to bother, the
    * column vanished, or a value would not splice safely into a
    * predicate — same 42xxx-softening policy as [[boundsOf]];
    * connection outages PROPAGATE. */
  private def stringSplitPoints(conn: java.sql.Connection, table: String,
                                column: String, n: Int): Option[Seq[String]] =
    try {
      val q = quoteId(column)
      val st = conn.createStatement()
      try {
        val cnt = {
          val rs = st.executeQuery(s"SELECT COUNT($q) FROM $table")
          try { rs.next(); rs.getLong(1) } finally rs.close()
        }
        if (cnt < n * 2L) None
        else {
          val points = (1 until n).iterator.flatMap { i =>
            val off = i.toLong * cnt / n
            val rs = st.executeQuery(splitProbeSql(table, q, off))
            try {
              if (rs.next()) Option(rs.getString(1)) else None
            } finally rs.close()
          }.toSeq.distinct
          // backslash escape rules are dialect-dependent (standard-
          // conforming vs C-style) — no single literal encoding is
          // safe on both, so such values fall back to one stream
          if (points.isEmpty || points.exists(_.contains("\\"))) None
          else Some(points)
        }
      } finally st.close()
    } catch {
      case e: java.sql.SQLException
          if Option(e.getSQLState).exists(_.startsWith("42")) => None
    }

  /** Disjoint, covering range predicates over the split points:
    * (-∞, p₁) ∪ NULL, [p₁, p₂), …, [pₖ, ∞). Quote-doubling is the one
    * string-literal escape every SQL dialect shares; backslash-bearing
    * values never reach here ([[stringSplitPoints]] rejects them). */
  private def rangePredicates(column: String,
                              points: Seq[String]): Array[String] = {
    val q = quoteId(column)
    def strLit(s: String) = "'" + s.replace("'", "''") + "'"
    val first = s"$q < ${strLit(points.head)} OR $q IS NULL"
    val mids = points.sliding(2).collect {
      case Seq(a, b) => s"$q >= ${strLit(a)} AND $q < ${strLit(b)}"
    }.toSeq
    val last = s"$q >= ${strLit(points.last)}"
    (first +: mids :+ last).toArray
  }

  private def quoteId(name: String): String =
    "\"" + name.replace("\"", "\"\"") + "\""

  /** Connection properties for Spark's predicates-array `jdbc()`
    * overload (sink-only keys stripped; `driver` passes through — the
    * overload honors it). */
  private def connProperties: java.util.Properties = {
    val p = new java.util.Properties()
    props.foreach { case (k, v) =>
      if (!sinkOnlyKeys(k)) p.setProperty(k, v)
    }
    p
  }

  /** MIN/MAX of the partition column, driver-side (one 1-row query).
    * None when the table is empty, the bounds are NULL, or the column
    * doesn't exist on this table — the sink is shared across tables,
    * so a table with a different PK (or any catalog table reached via
    * tablesInfo) must fall back to the plain single-stream read.
    * ONLY syntax/access-class failures (SQLState 42xxx — undefined
    * column/table) soften to the fallback; connection outages
    * PROPAGATE, same policy as tableExists — silently degrading to a
    * single stream on a transient blip would hide the parallelism
    * this feature exists for. */
  private def boundsOf(conn: java.sql.Connection, table: String,
                       column: String): Option[(Long, Long)] =
    try boundsQuery(conn, table, column)
    catch {
      case e: java.sql.SQLException
          if Option(e.getSQLState).exists(_.startsWith("42")) => None
    }

  private def boundsQuery(conn: java.sql.Connection, table: String,
                          column: String): Option[(Long, Long)] = {
    val q = quoteId(column)
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery(s"SELECT MIN($q), MAX($q) FROM $table")
      try {
        if (!rs.next()) None
        else {
          val lo = rs.getLong(1); val loNull = rs.wasNull()
          val hi = rs.getLong(2); val hiNull = rs.wasNull()
          if (loNull || hiNull) None else Some((lo, hi))
        }
      } finally rs.close()
    } finally st.close()
  }

  def overwrite(df: DataFrame, name: String): Unit = guarded {
    val stage = writeStage(df, name)
    // same shape = identical column names AND DDL-level types: a type
    // change (e.g. a widened varchar on a full load) must take the
    // drop+rename path so the new DDL lands — DELETE+INSERT into the
    // old DDL would fail forever or silently keep stale types.
    // Compared at the JDBC-metadata level (TYPE_NAME + size/scale),
    // NOT Spark schemas: Spark collapses every varchar width to
    // StringType, which would mis-route a width-only change on an
    // externally created target into the DDL-preserving branch.
    val sameShape = tableExists(name) && {
      val conn = connect()
      try sameDdl(ddlShape(conn, name), ddlShape(conn, stage))
      finally conn.close()
    }
    if (sameShape) {
      // DDL-preserving transactional replace: the target keeps its
      // types/sort keys/grants/view dependencies (the reference's
      // incremental path also mutates the target in place). DELETE +
      // INSERT in ONE transaction is atomic AND idempotent — an
      // ambiguous commit replayed on retry deletes-then-inserts the
      // same rows again.
      SwapGuard(s"replace failed for table '$name' after retries " +
          s"(staged data preserved in table $stage)", scrub) {
        inTransaction(s"DELETE FROM $name",
          s"INSERT INTO $name SELECT * FROM $stage")
      }
      dropQuietly(stage)
    } else {
      // First creation or schema change (= the reference's full-load
      // drop+create): rename the stage in. Idempotent across ambiguous
      // failures — if a prior attempt's rename landed, the stage is
      // gone and the target exists, which the retry treats as done.
      // RENAME takes the new name unqualified (it stays in the stage's
      // schema, which is the target's).
      SwapGuard(s"swap failed for table '$name' after retries " +
          s"(staged data preserved in table $stage)", scrub) {
        val conn = connect()
        try {
          val st = conn.createStatement()
          try {
            val targetExists = exists(conn, name)
            if (!exists(conn, stage)) {
              if (!targetExists)
                throw new IllegalStateException(
                  s"stage and target both missing for '$name'")
              // else: prior rename landed — done
            } else {
              if (targetExists) st.execute(s"DROP TABLE $name")
              st.execute(renameSql(stage, name.split('.').last))
            }
          } finally st.close()
        } finally conn.close()
      }
    }
  }

  /** Stage-wins PK merge INSIDE the database, the reference's
    * incremental path (Writer/Redshift.php:155-209): only `delta` is
    * shipped, to a fresh stage, and one transaction runs
    *   DELETE FROM t WHERE EXISTS (SELECT 1 FROM stage WHERE keys match)
    *   INSERT INTO t SELECT * FROM stage
    * — [[graft.operators.Load.upsert]]'s algebra, stage ∪ (target ▷ₚₖ
    * stage), edge cases included: duplicate staged keys all land and
    * NULL keys never match. (SQL MERGE would reject duplicate source
    * keys.) Atomic and idempotent like [[overwrite]]'s DDL-preserving
    * replace: a replayed commit deletes and re-inserts the same rows.
    *
    * A stage whose DDL shape differs from the target's (type drift,
    * added or removed columns), a key column the target lacks, or a key
    * the database may refuse to compare (LOBs) takes the default Spark
    * merge instead, so drift keeps its drop+rename or loud-failure
    * outcome. */
  override def upsert(target: => DataFrame, delta: DataFrame, pk: Seq[String],
                      name: String): Unit =
    if (!mergeInPlace(delta, pk, name)) super.upsert(target, delta, pk, name)

  /** The in-database merge; false (stage dropped, target untouched)
    * when it does not apply. */
  private def mergeInPlace(delta: DataFrame, pk: Seq[String],
                           name: String): Boolean = guarded {
    val stage = writeStage(delta, name)
    // key columns by each table's CATALOG spelling (a target created
    // with unquoted names reads back upper-cased in Derby/Oracle)
    val keys: Option[Seq[(String, String)]] =
      try {
        val conn = connect()
        try {
          val t = ddlShape(conn, name)
          val s = ddlShape(conn, stage)
          if (!sameDdl(t, s)) None
          else {
            val byName = t.zip(s).map { case (tc, sc) =>
              tc.name.toLowerCase -> (tc, sc) }.toMap
            val matched = pk.flatMap(k => byName.get(k.toLowerCase))
            if (matched.size == pk.size &&
                matched.forall { case (tc, _) => !unkeyableJdbcTypes(tc.jdbcType) })
              Some(matched.map { case (tc, sc) => (tc.name, sc.name) })
            else None
          }
        } finally conn.close()
      } catch { case e: Throwable => dropQuietly(stage); throw e }
    keys match {
      case None =>
        dropQuietly(stage)
        false
      case Some(cols) =>
        val on = cols.map { case (tc, sc) =>
          s"$stage.${quoteId(sc)} = $name.${quoteId(tc)}" }
        val delete =
          if (on.isEmpty) Nil // no key: the merge is an append
          else Seq(s"DELETE FROM $name WHERE EXISTS " +
            s"(SELECT 1 FROM $stage WHERE ${on.mkString(" AND ")})")
        SwapGuard(s"merge failed for table '$name' after retries " +
            s"(staged data preserved in table $stage)", scrub) {
          inTransaction(delete :+ s"INSERT INTO $name SELECT * FROM $stage": _*)
        }
        dropQuietly(stage)
        true
    }
  }

  /** Column types a database may refuse to compare with `=` (LOB and
    * LONG types — Derby stores Spark's unbounded strings as CLOB): keys
    * of these types take the Spark merge. */
  private val unkeyableJdbcTypes: Set[Int] = {
    import java.sql.Types._
    Set(CLOB, NCLOB, BLOB, LONGVARCHAR, LONGNVARCHAR, LONGVARBINARY)
  }

  /** Write `df` to a fresh `<name>_temp_<hex8>` table. Spark creates the
    * table before its tasks run, so a failed write drops it here —
    * nothing depends on it yet, and each outer retry would otherwise
    * strand one. */
  private def writeStage(df: DataFrame, name: String): String = {
    val stage = s"${name}_temp_${java.util.UUID.randomUUID().toString.take(8)}"
    try props.filterNot(kv => sinkOnlyKeys(kv._1)).foldLeft(
      df.write.format("jdbc")
        .option("url", url).option("dbtable", stage)) {
      case (w, (k, v)) => w.option(k, v)
    }.mode("errorifexists").save()
    catch { case e: Throwable => dropQuietly(stage); throw e }
    stage
  }

  /** Run `stmts` in ONE transaction on one connection; any failure
    * rolls all of them back. */
  private def inTransaction(stmts: String*): Unit = {
    val conn = connect()
    try {
      conn.setAutoCommit(false)
      val st = conn.createStatement()
      try {
        stmts.foreach(st.execute)
        conn.commit()
      } catch {
        case e: Throwable => conn.rollback(); throw e
      } finally st.close()
    } finally conn.close()
  }

  /** Catalog listing over one driver-side connection — no Spark job. */
  def listTables(): Seq[String] = guarded {
    val conn = connect()
    try {
      val st = conn.createStatement()
      try {
        val rs = st.executeQuery(catalogSql)
        try {
          val buf = Seq.newBuilder[String]
          while (rs.next()) buf += rs.getString(1)
          buf.result().sorted
        } finally rs.close()
      } finally st.close()
    } finally conn.close()
  }

  /** Drop stranded `<name>_temp_<hex8>` staging tables (a write that
    * failed mid-job leaves one per attempt; nothing else cleans JDBC
    * temps) in EVERY schema — a schema-qualified target (`OTHER.t`)
    * stages as `OTHER.t_temp_<hex8>`. Listed through
    * `DatabaseMetaData.getTables` like [[exists]], dropped by their
    * quoted, qualified catalog spelling. Returns the names actually
    * dropped: bare in the current schema, `schema.name` elsewhere.
    *
    * CAUTION — run only while no load is in flight: JDBC catalogs
    * expose no creation time, so a concurrently running overwrite's
    * live stage table is indistinguishable from an orphan (unlike the
    * filesystem cleanup's mtime guard). */
  def cleanOrphanTemps(): Seq[String] = {
    val tempPattern = ".*_temp_[0-9a-f]{8}".r
    val found = guarded {
      val conn = connect()
      try {
        val md = conn.getMetaData
        val cur = try Option(conn.getSchema) catch { case _: Throwable => None }
        val q = Option(md.getIdentifierQuoteString).map(_.trim).getOrElse("")
        val rs = md.getTables(null, null, "%", Array("TABLE"))
        try {
          val buf = Seq.newBuilder[(String, String)]
          while (rs.next()) {
            val (c, sc, t) = (rs.getString("TABLE_CAT"),
              rs.getString("TABLE_SCHEM"), rs.getString("TABLE_NAME"))
            if (tempPattern.matches(t.toLowerCase))
              buf += ((Seq(c, sc, t).filter(x => x != null && x.nonEmpty)
                .map(p => q + p + q).mkString("."),
                if (sc == null || cur.contains(sc)) t else s"$sc.$t"))
          }
          buf.result()
        } finally rs.close()
      } finally conn.close()
    }
    found.collect { case (quoted, name) if dropQuietly(quoted) => name }
  }

  /** One column as the catalog reports it: `name` in the catalog's own
    * spelling, `jdbcType` the java.sql.Types code. */
  private case class DdlColumn(name: String, jdbcType: Int, typeName: String,
                               size: Int, digits: Int) {
    def shape: (String, String, Int, Int) =
      (name.toLowerCase, typeName, size, digits)
  }

  /** Same DDL shape: identical lowercased names, TYPE_NAME, COLUMN_SIZE
    * and DECIMAL_DIGITS, in ordinal order; a missing table never
    * matches. */
  private def sameDdl(target: Seq[DdlColumn], stage: Seq[DdlColumn]): Boolean =
    target.nonEmpty && target.map(_.shape) == stage.map(_.shape)

  /** DDL-level columns via JDBC metadata, in ordinal order.
    * Identifier-case variants are probed because catalogs fold
    * unquoted names (Derby/Oracle upper, Postgres lower); `_` in
    * table names is escaped — it is a single-char WILDCARD in
    * `getColumns` patterns, and every staging name contains it. */
  private def ddlShape(conn: java.sql.Connection,
                       table: String): Seq[DdlColumn] = {
    val md = conn.getMetaData
    val escaped = metaEscaper(md)
    // schema scoping + case folding via metaScope/scopeVariants, same
    // rules as partitionColumnType (qualified names probe their own
    // schema; a same-named table in another schema must not
    // contribute rows and corrupt the comparison)
    def cols(c: Option[String], s: Option[String],
             t: String): Seq[DdlColumn] = {
      val rs = md.getColumns(c.orNull, s.map(escaped).orNull, escaped(t), null)
      try {
        val buf = Seq.newBuilder[DdlColumn]
        while (rs.next())
          buf += DdlColumn(rs.getString("COLUMN_NAME"), rs.getInt("DATA_TYPE"),
            rs.getString("TYPE_NAME"), rs.getInt("COLUMN_SIZE"),
            rs.getInt("DECIMAL_DIGITS"))
        buf.result()
      } finally rs.close()
    }
    scopeVariants(metaScope(conn, table)).iterator
      .map { case (c, s, t) => cols(c, s, t) }.find(_.nonEmpty).getOrElse(Nil)
  }

  /** Best-effort drop; true only when the DROP actually succeeded. */
  private def dropQuietly(table: String): Boolean =
    try {
      val conn = connect()
      try {
        val st = conn.createStatement()
        try { st.execute(s"DROP TABLE $table"); true }
        finally st.close()
      } finally conn.close()
    } catch { case _: Exception => false }

  /** Driver-side connection for the swap DDL. Honors the full prop map
    * — notably `driver` (jars added via --jars are invisible to
    * DriverManager's ServiceLoader, the documented reason Spark's JDBC
    * source has the option) and ssl/connection settings. */
  private def connect(): java.sql.Connection = {
    props.get("driver").foreach(Class.forName(_))
    val p = new java.util.Properties()
    props.foreach { case (k, v) =>
      if (k != "driver" && !sinkOnlyKeys(k)) p.setProperty(k, v)
    }
    java.sql.DriverManager.getConnection(url, p)
  }
}
