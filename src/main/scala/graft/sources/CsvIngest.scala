package graft.sources

import graft.model.{ColumnSpec, TableConfig, UserException}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** CSV sources with the reference's COPY dialect.
  *
  * The reference loads CSV with
  * `DELIMITER ',' CSV QUOTE '"' NULL AS 'NULL' ACCEPTANYDATE
  * TRUNCATECOLUMNS IGNOREHEADER 1 GZIP`
  * (reference: src/Keboola/DbWriter/Writer/Redshift.php:92-114), i.e.
  * comma-delimited, `"` quote, `""` embedded-quote escape, literal
  * newlines allowed inside quoted fields, the literal string `NULL`
  * decodes to SQL NULL, header skipped for whole files and absent in
  * sliced files. Spark's CSV reader covers all of it declaratively —
  * scans parallelize per file/split on executors, which is the Spark
  * analog of Redshift's parallel sliced COPY.
  */
object CsvIngest {

  /** Reference CSV dialect (SURVEY §1). `escape='"'` (doubled quotes,
    * not backslash) + multiLine are the two gotchas; `special.csv` is
    * the gate fixture. ONE map for the Spark reader and the driver-side
    * header parse, so the two cannot read a header differently. */
  private val dialect = Map(
    "quote" -> "\"",
    "escape" -> "\"",
    "multiLine" -> "true",
    "nullValue" -> "NULL",
    "emptyValue" -> "")

  private[graft] def reader(spark: SparkSession, header: Boolean) =
    spark.read.option("header", header.toString).options(dialect)

  /** Read one CSV file/dir with the declared (all-string) source schema. */
  def read(spark: SparkSession, path: String, table: TableConfig,
           header: Boolean = true): DataFrame =
    reader(spark, header).schema(table.sourceSchema).csv(path)

  /** The file's actual header column names (no declared schema — Spark
    * takes the names from the header row). Drives the order-sensitive
    * input-mapping check (P5): with a declared schema the reader maps
    * positionally and never sees the header, so the check must read it
    * explicitly — same split as the reference, whose column list comes
    * from the storage manifest, not the COPY
    * (RedshiftApplication.php:141-146,169-184).
    *
    * A single file is read on the driver, no Spark job: the first record
    * through the Hadoop filesystem (decompressed by the path's codec,
    * like the scan), tokenized with the reader's own univocity settings
    * and named with Spark's safe-header rules (`_c<i>` for empty/`NULL`
    * names, an index suffix on duplicates) — the same names
    * `csv(path).columns` yields. A directory or glob keeps the Spark
    * read, which decides which file comes first. */
  def headerColumns(spark: SparkSession, path: String): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val p = new Path(path)
    val conf = spark.sessionState.newHadoopConf()
    val fs = p.getFileSystem(conf)
    val isFile =
      try fs.getFileStatus(p).isFile
      catch { case _: java.io.FileNotFoundException => false }
    if (!isFile) reader(spark, header = true).csv(path).columns.toSeq
    else {
      val sqlConf = spark.sessionState.conf
      val opts = new org.apache.spark.sql.catalyst.csv.CSVOptions(
        dialect + ("header" -> "true"), sqlConf.csvColumnPruning,
        sqlConf.sessionLocalTimeZone)
      val raw = fs.open(p)
      val in =
        try Option(new org.apache.hadoop.io.compress.CompressionCodecFactory(conf)
          .getCodec(p)).map(_.createInputStream(raw)).getOrElse(raw)
        catch { case e: Throwable => raw.close(); throw e }
      try {
        // as Spark's multiLine tokenizer: beginParsing(stream, charset)
        // (which also skips a BOM), then the first record
        val parser = new com.univocity.parsers.csv.CsvParser(opts.asParserSettings)
        parser.beginParsing(in, opts.charset)
        Option(parser.parseNext()).toSeq.flatMap(first =>
          org.apache.spark.sql.execution.datasources.csv.CSVUtils
            .makeSafeHeader(first, sqlConf.caseSensitiveAnalysis, opts).toSeq)
      } finally in.close()
    }
  }

  /** Sliced-file mode: explicit file list, no header rows
    * (reference: Writer/Redshift.php:107-108). An empty entry list is a
    * no-op load → empty frame (reference: Writer/Redshift.php:83-90). */
  def readSlices(spark: SparkSession, paths: Seq[String],
                 table: TableConfig): DataFrame =
    if (paths.isEmpty)
      spark.createDataFrame(List.empty[Row].asJava, table.sourceSchema)
    else reader(spark, header = false).schema(table.sourceSchema).csv(paths: _*)

  /** Parse a COPY-style JSON manifest `{"entries":[{"url": …}, …]}`
    * into its file list (reference: Writer/Redshift.php:326-343).
    *
    * Scheme-agnostic: the manifest itself and the slice URLs it names
    * may live on any Hadoop filesystem (`file://`, `s3a://`, `hdfs://`
    * …) — resolution goes through `Path.getFileSystem`, never
    * `java.io.File`, mirroring how the reference's COPY pulls straight
    * from S3 (Writer/Redshift.php:92-114). */
  def manifestEntries(spark: SparkSession, manifestPath: String): Seq[String] = {
    val path = new org.apache.hadoop.fs.Path(manifestPath)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    val in = fs.open(path)
    try {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = mapper.readTree(in)
      Option(root.get("entries")).toSeq
        .flatMap(_.elements.asScala.map(e => e.get("url").asText))
    } finally in.close()
  }

  /** Map the reference's `s3://` manifest URLs onto Spark's Hadoop
    * connector scheme (`s3a://`); every other scheme passes through. */
  def normalizeScheme(url: String): String =
    if (url.startsWith("s3://")) "s3a://" + url.stripPrefix("s3://") else url

  /** Typed projection: rename `name`→`dbName`, drop `ignore` columns,
    * truncate varchar(n) (= TRUNCATECOLUMNS), blank-pad char(n) to its
    * declared width (Redshift CHAR semantics), lenient casts (garbage →
    * NULL, = ACCEPTANYDATE-style tolerance), apply declared defaults to
    * unparsed values.
    *
    * DEFAULT semantics follow the reference's DDL
    * (Writer/Redshift.php:141-145): the DB applies a default only when
    * no usable value arrives — so it repairs values the cast rejects,
    * but an explicit NULL (the CSV `NULL` literal) stays NULL; whether
    * that NULL may load is the NOT NULL check's business
    * ([[castAndProjectStrict]] / [[castAndProjectQuarantine]]).
    *
    * All of it is a single narrow `select` — no shuffle, fully
    * codegen'd, and Catalyst prunes the ignored columns out of the scan.
    */
  def castAndProject(df: DataFrame, table: TableConfig): DataFrame = {
    val cols = table.activeItems.map(c => typedColumn(c).as(c.dbName))
    df.select(cols: _*)
  }

  /** The per-column ingest expression (truncate/pad → cast → default),
    * shared by the lenient, strict, and quarantine paths. */
  private def typedColumn(c: ColumnSpec): org.apache.spark.sql.Column = {
    val src = quoted(c.name)
    val shaped = c.varcharLength match {
      // char-family blank-pads to the declared width (SURVEY §1
      // pad-truncate); varchar-family only truncates
      case Some(n) if c.charFamily => s"rpad(substring($src, 1, $n), $n, ' ')"
      case Some(n)                 => s"substring($src, 1, $n)"
      case None                    => src
    }
    val casted = expr(s"try_cast($shaped as ${c.sparkType.sql})")
    c.default match {
      case Some(d) if !c.dataType.equalsIgnoreCase("text") =>
        // reference renders DEFAULT '<v>' for all types except TEXT
        // (Writer/Redshift.php:142-145); applies only to unparsed
        // values — explicit NULLs pass through unchanged
        when(col(quoted(c.name)).isNotNull && casted.isNull, lit(d).cast(c.sparkType))
          .otherwise(casted)
      case _ => casted
    }
  }

  /** Backtick-quote an identifier for splicing into a SQL expression. */
  private def quoted(name: String): String =
    "`" + name.replace("`", "``") + "`"

  /** Strict ingest: like [[castAndProject]] but any value that fails its
    * cast aborts the load with a per-column, per-line error — the Spark
    * analog of the reference surfacing `stl_load_errors` as
    * "Column 'x', line N: …" (reference: Writer/Redshift.php:262-285;
    * asserted tests/Keboola/FunctionalTest.php:74-78).
    *
    * Line numbers are 1-based and count the header (so the first data
    * row is line 2), matching the reference's fixture assertions.
    *
    * TWO-PHASE, and the first phase comes in two forms:
    *  - eager (this method, for callers that need a checked frame before
    *    they write — view folds, JSON ingest): phase 1 is a pure
    *    vectorized offender-EXISTS aggregation over the scan, one extra
    *    codegen'd pass;
    *  - fused ([[castAndProjectChecked]] + [[reportingOffences]], the
    *    table loads): the check rides inside the staging write itself,
    *    so a clean load scans its input once — like the reference, which
    *    COPYs first and reads `stl_load_errors` only when the COPY fails.
    * Only when an offender exists does phase 2 ([[locateOffence]]) run
    * the zipWithIndex pass that finds the per-column first offending
    * line, so both forms throw the same message.
    */
  def castAndProjectStrict(df: DataFrame, table: TableConfig,
                           header: Boolean = true): DataFrame = {
    if (strictChecks(table).nonEmpty && strictOffenderExists(df, table))
      locateOffence(df, table, header).foreach(e => throw e)
    castAndProject(df, table)
  }

  /** [[castAndProject]] with the strict checks fused in: every checked
    * column becomes `CASE WHEN <offence> THEN raise_error(<sentinel>)
    * ELSE <typed value> END`, so whatever writes this frame fails on
    * the first offending row. Lazy — run the write inside
    * [[reportingOffences]] to turn that failure into the "Column 'x',
    * line N" UserException. */
  def castAndProjectChecked(df: DataFrame, table: TableConfig): DataFrame = {
    val cols = table.activeItems.map { c =>
      val typed = columnChecks(c).map(_._1).reduceOption(_ || _) match {
        case Some(offence) =>
          when(offence, raise_error(lit(OffenceSentinel))).otherwise(typedColumn(c))
        case None => typedColumn(c)
      }
      typed.as(c.dbName)
    }
    df.select(cols: _*)
  }

  /** Run `load`, which writes [[castAndProjectChecked]] of `df`. When a
    * strict offence aborts it — the sentinel anywhere in the failure's
    * message chain, which survives sinks that keep only a scrubbed
    * message — phase 2 locates the offender in `df` and its
    * UserException replaces the failure (not retryable, so an enclosing
    * [[graft.app.Retry]] stops at once). */
  def reportingOffences[T](df: DataFrame, table: TableConfig,
                           header: Boolean)(load: => T): T =
    try load
    catch {
      case e: Exception if raisedOffence(e) =>
        throw locateOffence(df, table, header).getOrElse(e)
    }

  /** The `raise_error` message of a fused strict check. */
  private val OffenceSentinel = "graft strict ingest: offending value"

  private def raisedOffence(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(64)
      .exists(t => Option(t.getMessage).exists(_.contains(OffenceSentinel)))

  /** Phase 2: ONE aggregation job over ONE pass — per check, the min
    * (line, value) struct among its offenders; min on a struct orders by
    * line first, so each slot holds that check's earliest offender.
    * Column priority (declared order) is then resolved driver-side.
    * None when `df` holds no offender. */
  private def locateOffence(df: DataFrame, table: TableConfig,
                            header: Boolean): Option[UserException] = {
    val checks = strictChecks(table)
    if (checks.isEmpty) return None
    val base = if (header) 2L else 1L // first data row's 1-based line
    val withLine = zipWithLineNumbers(df, base)
    val aggs = checks.zipWithIndex.map { case ((c, pred, _), i) =>
      min(when(pred, struct(col("__line").as("line"),
        col(quoted(c.name)).cast(StringType).as("value")))).as(s"__c$i")
    }
    val firsts = withLine.agg(aggs.head, aggs.tail: _*).collect().head
    checks.zipWithIndex.collectFirst { case ((c, _, kind), i) if !firsts.isNullAt(i) =>
      val off = firsts.getStruct(i)
      val line = off.getLong(0)
      val value = String.valueOf(off.get(1))
      // message mirrors Redshift's stl_load_errors text that the
      // reference surfaces verbatim (tests/Keboola/FunctionalTest.php:74-78)
      val reason =
        if (kind == "notnull") "Missing data for not-null field"
        else c.sparkType match {
          case org.apache.spark.sql.types.DateType if value.length < 10 =>
            "Invalid Date Format - length must be 10 or more"
          case org.apache.spark.sql.types.DateType =>
            s"Invalid date format - Invalid digit encountered"
          case org.apache.spark.sql.types.TimestampType |
               org.apache.spark.sql.types.TimestampNTZType =>
            "Invalid timestamp format or value out of range"
          case t => s"Invalid digit, Value '$value', type ${t.simpleString}"
        }
      new UserException(s"Column '${c.dbName}', line $line: $reason")
    }
  }

  /** Offender predicates for the strict path — per column: (a) cast
    * failure — raw value present but rejected by the typed cast;
    * (b) NOT NULL violation — the effective (post-default) value is
    * NULL on a nullable=false column (reference DDL renders NOT NULL,
    * Redshift.php:141-145). */
  private def columnChecks(c: ColumnSpec): Seq[(org.apache.spark.sql.Column, String)] = {
    val castCheck =
      if (c.sparkType == StringType) Nil
      else {
        val casted = expr(s"try_cast(${quoted(c.name)} as ${c.sparkType.sql})")
        Seq((col(quoted(c.name)).isNotNull && casted.isNull, "cast"))
      }
    val nnCheck =
      if (c.nullable) Nil
      else Seq((typedColumn(c).isNull, "notnull"))
    castCheck ++ nnCheck
  }

  private def strictChecks(table: TableConfig)
      : Seq[(ColumnSpec, org.apache.spark.sql.Column, String)] =
    table.activeItems.flatMap(c =>
      columnChecks(c).map { case (pred, kind) => (c, pred, kind) })

  /** Phase 1 of eager strict validation: a single boolean ANY-offender
    * aggregation with no auxiliary columns — stays entirely inside
    * whole-stage codegen (no RDD conversion, no row deserialization).
    * Requires at least one check (caller guards). Exposed for the
    * plan-shape spec that pins the clean-load path codegen-only. */
  private[graft] def strictExistsFrame(df: DataFrame, table: TableConfig): DataFrame = {
    val preds = strictChecks(table).map(_._2)
    df.agg(max(when(preds.reduce(_ || _), lit(true))).as("__offender"))
  }

  private def strictOffenderExists(df: DataFrame, table: TableConfig): Boolean =
    !strictExistsFrame(df, table).collect().head.isNullAt(0)

  /** Dead-letter split: partition the raw frame into (clean, quarantined)
    * in ONE pass over the plan — rows where every declared cast succeeds
    * flow to the typed output; offenders keep their raw values plus an
    * `__errors` array naming each failing column. The scalable sibling
    * of [[castAndProjectStrict]]: no driver-side collect, no abort —
    * bad rows land in a quarantine sink for reprocessing.
    */
  def castAndProjectQuarantine(df: DataFrame, table: TableConfig): (DataFrame, DataFrame) = {
    // the strict path's checks; NOT NULL violations quarantine too
    // (reference DDL renders NOT NULL so the DB rejects the row;
    // Redshift.php:141-145), tagged `<col>:notnull`
    val checks = strictChecks(table).map { case (c, pred, kind) =>
      (pred, if (kind == "notnull") s"${c.dbName}:notnull" else c.dbName)
    }
    val errs = array_compact(array(checks.map { case (pred, name) =>
      when(pred, lit(name)).otherwise(lit(null).cast("string"))
    }: _*))
    val flagged = df.withColumn("__errors", errs)
    val clean = castAndProject(flagged.filter(size(col("__errors")) === 0)
      .drop("__errors"), table)
    val quarantined = flagged.filter(size(col("__errors")) > 0)
    (clean, quarantined)
  }

  /** Attach 1-based line numbers (offset by `base`) preserving input
    * order. zipWithIndex is a narrow op plus one tiny count job — used
    * only on the strict-validation FAILURE path (phase 2); a clean
    * load never builds this frame. */
  private def zipWithLineNumbers(df: DataFrame, base: Long): DataFrame = {
    val spark = df.sparkSession
    val schema = StructType(StructField("__line", org.apache.spark.sql.types.LongType,
      nullable = false) +: df.schema.fields)
    val rdd = df.rdd.zipWithIndex.map { case (row, i) =>
      Row.fromSeq((i + base) +: row.toSeq)
    }
    spark.createDataFrame(rdd, schema)
  }
}
