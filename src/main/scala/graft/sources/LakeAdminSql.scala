package graft.sources

import java.nio.file.Paths

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{DataType, LongType, StructType}

/** SQL `OPTIMIZE` / `VACUUM` for lake tables — the admin statements Spark
  * has no grammar for, added the way Delta adds its own: a parser
  * injected through `SparkSessionExtensions.injectParser` that recognizes
  * exactly these two statements and DELEGATES everything else to Spark's
  * parser untouched (one anchored regex test per statement — zero cost on
  * the normal SQL path).
  *
  * {{{
  * OPTIMIZE <table> [TARGET <n> ROWS] [ZORDER BY (c1, c2, ...)]
  * VACUUM <table> [RETAIN <n> VERSIONS]
  * }}}
  *
  * `<table>` resolves either through a configured [[LakeCatalog]]
  * (`cat.ns.tbl` → `<warehouse>/ns/tbl`) or through the session catalog
  * (a `USING graft-lake` table's `path` option). OPTIMIZE binds to
  * [[LakeTable.optimize]] — the compaction that doubles as the DV purge —
  * carrying the table's CREATE-time write defaults (layout column, stats
  * columns) unless `ZORDER BY` overrides the clustering; VACUUM binds to
  * [[LakeTable.vacuum]] with a conservative default of 10 retained
  * versions (this offline reduction gates on version count; production
  * deployments age-gate — see the vacuum doc). Both return their result
  * as rows (`version` / `manifests_deleted, files_deleted`), so a SQL
  * user sees what happened without reading logs. */
class GraftSqlParser(session: SparkSession, delegate: ParserInterface)
    extends ParserInterface {

  import GraftSqlParser._

  override def parsePlan(sqlText: String): LogicalPlan =
    GraftSqlParser.stripLeadingComments(sqlText) match {
      // matching runs on the comment-stripped text; everything that
      // falls through delegates the ORIGINAL text untouched
      case OptimizeRe(ident, target, zorder) =>
        OptimizeLakeCommand(ident,
          Option(target).map(_.toLong),
          Option(zorder).toSeq.flatMap(_.split(','))
            .map(_.trim.stripPrefix("`").stripSuffix("`")).filter(_.nonEmpty))
      case VacuumRe(ident, keep, unit, dry) =>
        // RETAIN n HOURS (r14) = wall-clock retention; RETAIN n
        // VERSIONS (and the bare default, 10) = version-count
        // retention; DRY RUN (r14) plans and counts, mutates nothing
        val dryRun = dry != null
        if (Option(unit).exists(_.toUpperCase.startsWith("HOUR")))
          VacuumLakeCommand(ident, 0, retainHours = Some(keep.toLong),
                            dryRun = dryRun)
        else
          VacuumLakeCommand(ident,
            Option(keep).map(_.toInt).getOrElse(10), dryRun = dryRun)
      case CopyIntoRe(ident, src, fmt, pat, merge) =>
        CopyIntoLakeCommand(ident, src, fmt, Option(pat),
          Option(merge).exists(_.equalsIgnoreCase("true")))
      case HistoryRe(ident) => DescribeHistoryCommand(ident)
      case DetailRe(ident) => DescribeDetailCommand(ident)
      case RestoreRe(ident, version) =>
        RestoreLakeCommand(ident, version.toLong)
      case RestoreTsRe(ident, quoted, bare) =>
        RestoreLakeCommand(ident, -1L,
          timestamp = Some(Option(quoted).getOrElse(bare)))
      case CloneRe(dst, src, version, tsQuoted, tsBare) =>
        CloneLakeCommand(dst, src, Option(version).map(_.toLong),
          timestamp = Option(tsQuoted).orElse(Option(tsBare)))
      case _ => delegate.parsePlan(sqlText)
    }

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

object GraftSqlParser {
  // anchored, case-insensitive, dotall-free: one cheap test per statement
  private val OptimizeRe =
    ("""(?is)^\s*OPTIMIZE\s+([\w.`]+)""" +
     """(?:\s+TARGET\s+(\d+)\s+ROWS)?""" +
     """(?:\s+ZORDER\s+BY\s*\(([^)]*)\))?\s*;?\s*$""").r
  private val VacuumRe =
    ("""(?is)^\s*VACUUM\s+([\w.`]+)""" +
     """(?:\s+RETAIN\s+(\d+)\s+(VERSIONS?|HOURS?))?""" +
     """(\s+DRY\s+RUN)?\s*;?\s*$""").r
  // COPY INTO (r14): idempotent batch file ingestion, Delta's spelling.
  // COPY_OPTIONS ('mergeSchema' = 'true') opts into additive schema
  // evolution from the source files (r15, ADVICE r14 — without it a
  // mismatched parquet/orc source is refused, Delta's contract).
  private val CopyIntoRe =
    ("""(?is)^\s*COPY\s+INTO\s+([\w.`]+)\s+FROM\s+'([^']+)'\s+""" +
     """FILEFORMAT\s*=\s*(\w+)(?:\s+PATTERN\s*=\s*'([^']+)')?""" +
     """(?:\s+COPY_OPTIONS\s*\(\s*'mergeSchema'\s*=\s*'(true|false)'\s*\))?""" +
     """\s*;?\s*$""").r
  private val HistoryRe =
    """(?is)^\s*DESC(?:RIBE)?\s+HISTORY\s+([\w.`]+)\s*;?\s*$""".r
  private val DetailRe =
    """(?is)^\s*DESC(?:RIBE)?\s+DETAIL\s+([\w.`]+)\s*;?\s*$""".r
  private val RestoreRe =
    ("""(?is)^\s*RESTORE\s+TABLE\s+([\w.`]+)\s+TO\s+VERSION\s+""" +
     """AS\s+OF\s+(\d+)\s*;?\s*$""").r
  // RESTORE ... TO TIMESTAMP AS OF '<instant>' (r14): quoted instant or
  // bare epoch millis, resolved by the batch TIMESTAMP AS OF rule
  private val RestoreTsRe =
    ("""(?is)^\s*RESTORE\s+TABLE\s+([\w.`]+)\s+TO\s+TIMESTAMP\s+""" +
     """AS\s+OF\s+(?:'([^']+)'|(\d+))\s*;?\s*$""").r
  private val CloneRe =
    ("""(?is)^\s*CREATE\s+TABLE\s+([\w.`]+)\s+(?:SHALLOW\s+)?CLONE\s+""" +
     """([\w.`]+)(?:\s+VERSION\s+AS\s+OF\s+(\d+)|\s+TIMESTAMP\s+AS\s+""" +
     """OF\s+(?:'([^']+)'|(\d+)))?\s*;?\s*$""").r

  /** Leading `--` line comments and `/* */` blocks before the first
    * token, stripped so a commented admin statement still matches the
    * anchored regexes. Only the MATCH sees the stripped text — a
    * non-match delegates the original, so Spark's own error positions
    * stay exact. */
  private[sources] def stripLeadingComments(sql: String): String = {
    var s = sql
    var moved = true
    while (moved) {
      val t = s.dropWhile(_.isWhitespace)
      val next =
        if (t.startsWith("--")) t.dropWhile(_ != '\n')
        else if (t.startsWith("/*")) {
          val end = t.indexOf("*/")
          if (end < 0) return sql // unterminated: let Spark complain
          t.substring(end + 2)
        } else t
      moved = next ne t
      s = next
    }
    s
  }

  /** Resolve a statement's table identifier to the lake directory:
    * `cat.ns.tbl` through a configured [[LakeCatalog]]'s warehouse, or a
    * session-catalog `USING graft-lake` table's `path` option. */
  private[sources] def resolveDir(spark: SparkSession,
                                  ident: String): String = {
    val parts = ident.split('.').toSeq
      .map(_.stripPrefix("`").stripSuffix("`"))
    val viaCat = parts match {
      case cat +: rest if rest.nonEmpty =>
        spark.conf.getOption(s"spark.sql.catalog.$cat")
          .filter(_ == classOf[LakeCatalog].getName)
          .map { _ =>
            val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
            rest.foldLeft(Paths.get(LakeSource.localPath(wh)))(_.resolve(_))
              .toString
          }
      case _ => None
    }
    viaCat.getOrElse {
      val ti = parts match {
        case Seq(t) => TableIdentifier(t)
        case Seq(db, t) => TableIdentifier(t, Some(db))
        case _ => throw new IllegalArgumentException(
          s"cannot resolve lake table '$ident'")
      }
      val meta = spark.sessionState.catalog.getTableMetadata(ti)
      require(meta.provider.exists(_.equalsIgnoreCase("graft-lake")),
        s"'$ident' is not a graft-lake table (provider " +
        s"${meta.provider.getOrElse("none")})")
      // Spark special-cases the `path` option into storage.locationUri
      val path = meta.storage.properties.get("path")
        .orElse(meta.storage.locationUri.map(_.toString))
        .getOrElse(throw new IllegalArgumentException(
          s"table '$ident' records no path"))
      LakeSource.localPath(path)
    }
  }
}

/** `OPTIMIZE <t>` — compaction + DV purge through the serialized commit
  * loop. CREATE-time write defaults (layout, stats) carry; `ZORDER BY`
  * overrides clustering (range-partitioned rewrite on the named
  * columns). Returns the published version. */
case class OptimizeLakeCommand(ident: String, targetRows: Option[Long],
                               zorder: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val dir = GraftSqlParser.resolveDir(spark, ident)
    require(LakeTable.currentVersion(dir).nonEmpty,
      s"'$ident' has no published version to optimize (a CREATE'd table " +
      "compacts after its first INSERT)")
    val pending = LakeCatalog.readPending(dir)
    // ZORDER overrides the layout default: a z-ordered rewrite is the
    // caller declaring a clustering, not the table's partition layout
    val layout = if (zorder.nonEmpty) None else pending.flatMap(_.layoutBy)
    val stats = pending.map(_.statsBy).getOrElse(Seq.empty)
    LakeTable.optimize(spark, dir, targetRows.getOrElse(1000000L),
        clusterBy = zorder, layoutBy = layout, statsBy = stats) match {
      case Right(v) => Seq(Row(v))
      case Left(reason) => throw new IllegalStateException(
        s"OPTIMIZE $ident failed: $reason")
    }
  }
}

/** `DESCRIBE HISTORY <t>` — Delta's same-named surface: one row per
  * RETAINED published version, newest first — version, op, file / DV
  * sidecar counts, and the content-addressed publish instant. Pure
  * manifest arithmetic on the driver; no data file is opened. */
case class DescribeHistoryCommand(ident: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("op", org.apache.spark.sql.types.StringType,
      nullable = false)(),
    AttributeReference("n_files", LongType, nullable = false)(),
    AttributeReference("n_dv", LongType, nullable = false)(),
    // per-version live cardinality by manifest arithmetic (r14); NULL
    // on history that predates the recorded counts
    AttributeReference("n_rows", LongType, nullable = true)(),
    AttributeReference("published_at",
      org.apache.spark.sql.types.TimestampType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val dir = GraftSqlParser.resolveDir(spark, ident)
    LakeTable.versions(dir).reverse.map { v =>
      Row(v, LakeTable.opOf(dir, v),
          LakeTable.filesOf(dir, v).size.toLong,
          LakeTable.dvOf(dir, v).size.toLong,
          LakeTable.liveRowCountOf(dir, v)
            .map(java.lang.Long.valueOf).orNull,
          LakeTable.commitTimeOf(dir, v))
    }
  }
}

/** `DESCRIBE DETAIL <table>` (r13) — Delta's table-level summary as one
  * row of manifest arithmetic (no file is opened): live version, op,
  * file/DV counts, total referenced bytes, layout column, logical
  * schema, and the publish instant. The one-stop answer to "what state
  * is this table in" a SQL-first operator otherwise assembles from
  * DESCRIBE HISTORY + filesystem spelunking. */
case class DescribeDetailCommand(ident: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("op", org.apache.spark.sql.types.StringType,
      nullable = false)(),
    AttributeReference("n_files", LongType, nullable = false)(),
    AttributeReference("n_dv", LongType, nullable = false)(),
    AttributeReference("size_bytes", LongType, nullable = false)(),
    // live cardinality by manifest arithmetic (r14): Σ(file rows) −
    // Σ(DV-hidden); NULL on pre-r14 history where counts are unrecorded
    AttributeReference("n_rows", LongType, nullable = true)(),
    AttributeReference("layout_by", org.apache.spark.sql.types.StringType,
      nullable = true)(),
    AttributeReference("schema", org.apache.spark.sql.types.StringType,
      nullable = false)(),
    AttributeReference("published_at",
      org.apache.spark.sql.types.TimestampType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val dir = GraftSqlParser.resolveDir(spark, ident)
    val v = LakeTable.currentVersion(dir).getOrElse(
      throw new IllegalArgumentException(
        s"no published version in $dir"))
    val files = LakeTable.filesOf(dir, v)
    val bytes = files.map(f =>
      try java.nio.file.Files.size(Paths.get(dir, f))
      catch { case _: Throwable => 0L }).sum
    Seq(Row(v, LakeTable.opOf(dir, v), files.size.toLong,
      LakeTable.dvOf(dir, v).size.toLong, bytes,
      LakeTable.liveRowCountOf(dir, v)
        .map(java.lang.Long.valueOf).orNull,
      LakeCatalog.readPending(dir).flatMap(_.layoutBy).orNull,
      LakeTable.logicalSchemaOf(dir, v).map(_.entry).mkString(", "),
      LakeTable.commitTimeOf(dir, v)))
  }
}

/** `RESTORE TABLE <t> TO VERSION AS OF <n>` (r13) — Delta's RESTORE
  * statement bound to [[LakeTable.restore]]: publishes a NEW version
  * whose manifest references the restored version's files/schema/DVs
  * verbatim (zero data movement; history stays intact and re-restorable;
  * column-mapping display names travel, drop tombstones lift for
  * restored columns). Returns the newly published version. */
case class RestoreLakeCommand(ident: String, toVersion: Long,
                              timestamp: Option[String] = None)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val dir = GraftSqlParser.resolveDir(spark, ident)
    // TIMESTAMP AS OF (r14): the batch rule — newest retained version
    // committed at or before the instant; an instant before the first
    // retained publish refuses (version 0 is not restorable)
    val v = timestamp match {
      case Some(ts) =>
        val rv = LakeTable.startingVersionAt(dir, ts)
        require(rv > 0L,
          s"no retained version of $ident published at or before '$ts'")
        rv
      case None => toVersion
    }
    LakeTable.restore(spark, dir, v) match {
      case Right(out) => Seq(Row(out))
      case Left(reason) => throw new IllegalStateException(
        s"RESTORE TABLE $ident failed: $reason")
    }
  }
}

/** `CREATE TABLE <dst> [SHALLOW] CLONE <src> [VERSION AS OF n]` —
  * Delta's clone statement bound to [[LakeTable.cloneTable]]: hard-linked
  * zero-copy birth of `dst` from `src`'s live (or pinned) version; stats
  * and deletion vectors carry, watermarks drop, and the clone is durable
  * against a source vacuum (stronger than the SHALLOW the syntax
  * accepts). `dst` resolves like any statement identifier; it must not
  * already exist. Returns the clone's published version. */
case class CloneLakeCommand(dst: String, src: String,
                            versionAsOf: Option[Long],
                            timestamp: Option[String] = None)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val srcDir = GraftSqlParser.resolveDir(spark, src)
    // TIMESTAMP AS OF (r14): the batch rule — clone the newest retained
    // source version committed at or before the instant
    val pinned = timestamp match {
      case Some(ts) =>
        val rv = LakeTable.startingVersionAt(srcDir, ts)
        require(rv > 0L,
          s"no retained version of $src published at or before '$ts'")
        Some(rv)
      case None => versionAsOf
    }
    // the destination may not exist yet — resolve through the catalog
    // warehouse mapping without the exists check resolveDir's session
    // path performs
    val parts = dst.split('.').toSeq
      .map(_.stripPrefix("`").stripSuffix("`"))
    val dstDir = (parts match {
      case cat +: rest if rest.nonEmpty =>
        spark.conf.getOption(s"spark.sql.catalog.$cat")
          .filter(_ == classOf[LakeCatalog].getName)
          .map { _ =>
            val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
            rest.foldLeft(Paths.get(LakeSource.localPath(wh)))(_.resolve(_))
              .toString
          }
      case _ => None
    }).getOrElse(throw new IllegalArgumentException(
      s"CLONE destination '$dst' must be a <lakeCatalog>.ns.tbl " +
      "identifier (the clone is born in a catalog warehouse)"))
    LakeTable.cloneTable(srcDir, dstDir, pinned) match {
      case Right(v) => Seq(Row(v))
      case Left(reason) => throw new IllegalStateException(
        s"CLONE $src -> $dst failed: $reason")
    }
  }
}

/** `COPY INTO <t> FROM '<path>' FILEFORMAT = <fmt> [PATTERN = '<glob>']`
  * (r14) — Delta's idempotent batch file ingestion bound to
  * [[LakeTable.copyInto]]: loads only source files not yet recorded as
  * copied, one atomic append commit that also records their
  * identities; re-runs load nothing, new files load exactly once. A
  * declared CHECK constraint gates the staged batch; the declared
  * layout/stats write defaults travel as with every catalog INSERT.
  * Returns (files_loaded, rows_loaded). */
case class CopyIntoLakeCommand(ident: String, source: String,
                               format: String, pattern: Option[String],
                               mergeSchema: Boolean = false)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("files_loaded", LongType, nullable = false)(),
    AttributeReference("rows_loaded", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val dir = GraftSqlParser.resolveDir(spark, ident)
    val pending = LakeCatalog.readPending(dir)
    val gate: org.apache.spark.sql.DataFrame => Option[String] = df =>
      pending.flatMap(_.check).flatMap { c =>
        try { LakeCatalog.enforceCheck(df, c, ident); None }
        catch { case e: IllegalStateException => Some(e.getMessage) }
      }
    LakeTable.copyInto(spark, dir, source, format, pattern,
        layoutBy = pending.flatMap(_.layoutBy),
        statsBy = pending.map(_.statsBy).getOrElse(Seq.empty),
        declaredSchema = pending.map(_.schema),
        mergeSchema = mergeSchema)(gate) match {
      case Right((_, nf, nr)) => Seq(Row(nf, nr))
      case Left(reason) => throw new IllegalStateException(
        s"COPY INTO $ident failed: $reason")
    }
  }
}

/** `VACUUM <t> [RETAIN n VERSIONS | RETAIN n HOURS]` — reclaim history
  * older than the newest `n` published versions (default 10,
  * conservative), or (r14) older than `n` wall-clock hours by the
  * content-addressed commit stamps — the Delta spelling; the live
  * version always survives. Returns the reclaim counts. */
case class VacuumLakeCommand(ident: String, keepVersions: Int,
                             retainHours: Option[Long] = None,
                             dryRun: Boolean = false)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("manifests_deleted", LongType, nullable = false)(),
    AttributeReference("files_deleted", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val dir = GraftSqlParser.resolveDir(spark, ident)
    require(LakeTable.currentVersion(dir).nonEmpty,
      s"'$ident' has no published version to vacuum")
    val (m, f) = retainHours match {
      case Some(h) =>
        LakeTable.vacuumRetainHours(dir, h, dryRun = dryRun)
      case None => LakeTable.vacuum(dir, keepVersions, dryRun = dryRun)
    }
    Seq(Row(m.toLong, f.toLong))
  }
}
