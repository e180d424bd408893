package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SQLContext}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType

/** The lake table as a STANDARD Spark data source —
  * `spark.read.format("graft-lake").option("path", dir).load()` — so a
  * library user reads committed versions through the same API as any
  * parquet/csv/jdbc source, with:
  *
  *  - schema from the MANIFEST (the by-name reconcile order, parsed
  *    from the recorded `name TYPE` list — no footer race with a
  *    concurrent commit);
  *  - `versionAsOf` option for time travel;
  *  - manifest-stats FILE PRUNING through the `PrunedFilteredScan`
  *    contract: equality/range/IN/prefix filters on a stats-bearing
  *    column — integral, double, STRING, date, or timestamp (r9 typed
  *    stats) — drop whole files before any footer is opened, and Spark
  *    re-applies every filter row-level on top, so pruning is always a
  *    superset (the [[LakeTable.filesWhere]] guarantee surfaced through
  *    the standard API).
  *
  * V1 `PrunedFilteredScan` rather than DSv2: the source delegates to
  * the parquet reader over the pruned file list, so the inner scan
  * keeps ALL of the parquet path's own machinery (vectorized reader,
  * footer min/max row-group skipping, column pruning) — a DSv2 shell
  * would re-implement that for no additional capability at this
  * surface. The cost is the `.rdd` exit at the source boundary
  * (external-Row conversion, codegen fence) — measured in the
  * [[LakeRelation.buildScan]] docstring. */
class LakeSource extends RelationProvider with CreatableRelationProvider
    with StreamSourceProvider with StreamSinkProvider with DataSourceRegister {
  override def shortName(): String = "graft-lake"

  /** STREAM read — `spark.readStream.format("graft-lake")` delivers the
    * CDC change feed incrementally, commit versions as offsets (see
    * [[LakeStreamSource]]). Option `startingVersion` (default 0) sets the
    * exclusive lower fence of the first batch: 0 replays the full history
    * (initial snapshot arrives as the first version's inserts); the
    * current version at stream start skips history and tails new commits.
    * Option `maxVersionsPerTrigger` bounds each micro-batch to that many
    * commit versions (Delta's `maxFilesPerTrigger` shape) — backlog
    * catch-up after downtime proceeds in bounded bites instead of one
    * giant batch. */
  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String])
      : (String, StructType) = {
    val dir = LakeSource.localPath(parameters.getOrElse("path",
      throw new IllegalArgumentException("graft-lake requires option 'path'")))
    (shortName(), schema.getOrElse(LakeFeedTable.feedSchemaOf(dir)))
  }

  override def createSource(sqlContext: SQLContext,
                            metadataPath: String,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source = {
    val dir = LakeSource.localPath(parameters.getOrElse("path",
      throw new IllegalArgumentException("graft-lake requires option 'path'")))
    new LakeStreamSource(sqlContext, dir,
      // startingVersion / startingTimestamp (r14) share one resolver:
      // the batch TIMESTAMP AS OF rule maps the instant to the newest
      // version at-or-before it, once, at stream construction
      LakeTable.startingVersionOf(dir,
        parameters.get("startingVersion"),
        parameters.get("startingTimestamp")),
      metadataPath,
      parameters.get("maxVersionsPerTrigger").map(_.toInt),
      // a schema WITHOUT the feed columns (readStream.table resolves the
      // catalog table's own schema) selects rows mode: plain table rows,
      // append-only (see LakeStreamSource rows-mode doc)
      rowsSchema = schema.filter(s => !s.fieldNames.contains("_change_type")),
      skipChangeCommits =
        parameters.get("skipChangeCommits").exists(_.toBoolean))
  }

  /** STREAM write — `df.writeStream.format("graft-lake")`: micro-batches
    * commit through the write-audit-publish protocol with the engine's
    * batchId as the manifest-recorded per-sink watermark (exactly-once
    * across epoch replay). Options: `commitMode` (append | merge),
    * `layoutBy`, `statsBy`, `keys` (merge), `sinkName` (watermark
    * namespace when several queries write one table). */
  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    val dir = LakeSource.localPath(parameters.getOrElse("path",
      throw new IllegalArgumentException("graft-lake requires option 'path'")))
    new LakeStreamSink(dir,
      parameters.getOrElse("commitMode", "append"),
      parameters.get("layoutBy"),
      parameters.get("statsBy")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Seq.empty),
      parameters.get("keys")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Seq.empty),
      parameters.getOrElse("sinkName", "graft-lake-stream"))
  }
  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String]): BaseRelation = {
    val dir = LakeSource.localPath(parameters.getOrElse("path",
      throw new IllegalArgumentException("graft-lake requires option 'path'")))
    // BATCH change-feed read (r14, the Delta `readChangeFeed` spelling):
    // the retained history as stamped change rows, bounded by INCLUSIVE
    // `startingVersion`/`endingVersion` (or their timestamp twins —
    // start means "committed at or after", end "at or before"; defaults:
    // full retained history). changesBetween's vacuum guards refuse a
    // reclaimed bound loudly.
    if (parameters.get("readChangeFeed").exists(_.toBoolean)) {
      require(parameters.get("versionAsOf").isEmpty,
        "readChangeFeed and versionAsOf cannot combine — bound the feed " +
        "with startingVersion/endingVersion instead")
      require(parameters.get("startingVersion").isEmpty ||
              parameters.get("startingTimestamp").isEmpty,
        "set either startingVersion or startingTimestamp, not both")
      require(parameters.get("endingVersion").isEmpty ||
              parameters.get("endingTimestamp").isEmpty,
        "set either endingVersion or endingTimestamp, not both")
      // inclusive start → exclusive changesBetween floor, clamped at 0
      // (r15, ADVICE r14): startingVersion=0 is the common Delta
      // spelling for "full history" — without the clamp it floored at
      // -1 and changesBetween threw a confusing "version -1 not
      // published"; 0 and 1 both mean the full retained feed
      val from = parameters.get("startingVersion")
        .map(v => math.max(0L, v.toLong - 1L))
        .orElse(parameters.get("startingTimestamp")
          .map(LakeTable.versionFloorBefore(dir, _)))
      val to = parameters.get("endingVersion").map(_.toLong)
        .orElse(parameters.get("endingTimestamp")
          .map(LakeTable.startingVersionAt(dir, _)))
      return new LakeChangesScanShim(sqlContext, dir,
        LakeFeedTable.feedSchemaOf(dir), from, to)
    }
    new LakeRelation(sqlContext, dir,
                     parameters.get("versionAsOf").map(_.toLong),
                     parameters.get("layoutBy"),
                     parameters.get("statsBy")
                       .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
                       .getOrElse(Seq.empty))
  }

  /** The WRITE path — `df.write.format("graft-lake").mode(...).save()`:
    * every mode commits a NEW version through the full
    * write-audit-publish protocol (schema evolution enforced by the
    * audit), history stays time-travelable.
    *
    *  - Overwrite: the staged snapshot becomes the new version;
    *  - Append: ZERO-REWRITE — the new version's manifest carries every
    *    live file verbatim and adds only the appended files (the
    *    carry-over primitive doing what object-store appends actually
    *    are at 100 TB: manifest arithmetic, no data movement). SERIALIZED
    *    (r9): a commit that lands between this append's plan and its
    *    publish triggers a carry re-plan against the new live version, so
    *    two racing appends both keep both file sets — no lost update;
    *  - ErrorIfExists / Ignore: honored against "a published version
    *    exists".
    *
    * Options: `layoutBy` (Hive-style layout column for later partial
    * merges) and `statsBy` (comma-separated columns whose typed per-file
    * min/max the manifest records for data skipping). */
  override def createRelation(sqlContext: SQLContext,
                              mode: org.apache.spark.sql.SaveMode,
                              parameters: Map[String, String],
                              data: org.apache.spark.sql.DataFrame): BaseRelation = {
    import org.apache.spark.sql.SaveMode._
    val dir = LakeSource.localPath(parameters.getOrElse("path",
      throw new IllegalArgumentException("graft-lake requires option 'path'")))
    val layoutBy = parameters.get("layoutBy")
    val statsBy = parameters.get("statsBy")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    val spark = sqlContext.sparkSession
    val exists = LakeTable.currentVersion(dir).nonEmpty
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val proceed = mode match {
      case ErrorIfExists if exists =>
        throw new IllegalStateException(
          s"graft-lake table at $dir already has a published version")
      case Ignore if exists => false
      case _ => true
    }
    if (proceed) {
      val r = mode match {
        case Append =>
          LakeTable.append(spark, dir, data, layoutBy, statsBy)(_ => None)
        case _ =>
          // Overwrite rides the serialized commit too: a racing carry
          // committer's fence must surface as a retry, never a silently
          // swallowed save()
          LakeTable.commit(spark, dir, data, layoutBy, statsBy)(_ => None)
      }
      r match {
        case Right(_) => ()
        case Left(reason) => throw new IllegalStateException(reason)
      }
    }
    new LakeRelation(sqlContext, dir, None)
  }
}

object LakeSource {
  /** Spark's catalog (`CREATE TABLE ... USING graft-lake`) qualifies the
    * path option to a URI (`file:/tmp/x`); the manifest layer works on
    * raw local paths. Strip the local scheme; any other scheme passes
    * through untouched (an object-store deployment would swap the
    * manifest I/O seam wholesale, not this normalization). */
  private[sources] def localPath(p: String): String =
    if (p.startsWith("file:"))
      // an unencoded user-supplied URI ("file:/a b") throws on parse, and
      // an encoded one with no path component parses to null — both must
      // degrade to prefix-stripping, not an opaque URISyntaxException
      // (ADVICE r10)
      try Option(new java.net.URI(p).getPath)
        .getOrElse(p.stripPrefix("file:"))
      catch { case _: java.net.URISyntaxException => p.stripPrefix("file:") }
    else p
}

object LakeRelation {
  /** Test seam: parquet files the LAST buildScan on this thread read
    * after manifest-stats pruning. */
  val lastScanFiles = new ThreadLocal[Seq[String]]

  /** Can a file whose recorded [min, max] is `stat` possibly hold a row
    * satisfying `f` on `colName`? Typed (r9): the comparison runs in the
    * stat's own domain — integral, double, string (URL-decoded), date
    * (epoch days), timestamp (epoch micros). ANY uncertainty (unknown
    * type pairing, unparseable value, Not/IsNull shapes) keeps the file:
    * pruning must be a superset of the answer, and Spark re-applies the
    * filter row-level either way. */
  private[graft] def mightMatch(f: Filter, colName: String,
                                  stat: LakeTable.ColStat): Boolean = {
    // decode the query value into the stat's comparison domain; None =
    // can't compare = keep the file
    def dom(v: Any): Option[Any] = (stat.kind, v) match {
      case ('L', n: Number) => Some(n.longValue())
      case ('D', n: Number) => Some(n.doubleValue())
      case ('S', s: String) => Some(s)
      case ('A', d: java.sql.Date) => Some(d.toLocalDate.toEpochDay)
      case ('A', d: java.time.LocalDate) => Some(d.toEpochDay)
      case ('U', t: java.sql.Timestamp) =>
        Some(t.getTime * 1000L + t.getNanos / 1000 % 1000)
      case ('U', t: java.time.Instant) =>
        Some(t.getEpochSecond * 1000000L + t.getNano / 1000)
      case ('U', t: java.time.LocalDateTime) =>
        val i = t.toInstant(java.time.ZoneOffset.UTC)
        Some(i.getEpochSecond * 1000000L + i.getNano / 1000)
      case _ => None
    }
    def bounds: Option[(Any, Any)] = stat.kind match {
      case 'L' | 'A' | 'U' => Some((stat.mn.toLong, stat.mx.toLong))
      case 'D' => Some((stat.mn.toDouble, stat.mx.toDouble))
      case 'S' => Some((LakeTable.decodeStatString(stat.mn),
                        LakeTable.decodeStatString(stat.mx)))
      case _ => None
    }
    def cmp(a: Any, b: Any): Int = (a, b) match {
      case (x: Long, y: Long) => java.lang.Long.compare(x, y)
      case (x: Double, y: Double) => java.lang.Double.compare(x, y)
      case (x: String, y: String) => x.compareTo(y)
      case _ => 0
    }
    def withBounds(test: (Any, Any) => Boolean): Boolean =
      bounds.forall { case (mn, mx) => test(mn, mx) }
    f match {
      case EqualTo(c, v) if c == colName =>
        dom(v).forall(q => withBounds((mn, mx) =>
          cmp(mn, q) <= 0 && cmp(mx, q) >= 0))
      case In(c, vs) if c == colName =>
        vs.exists(v => dom(v).forall(q => withBounds((mn, mx) =>
          cmp(mn, q) <= 0 && cmp(mx, q) >= 0)))
      case GreaterThan(c, v) if c == colName =>
        dom(v).forall(q => withBounds((_, mx) => cmp(mx, q) > 0))
      case GreaterThanOrEqual(c, v) if c == colName =>
        dom(v).forall(q => withBounds((_, mx) => cmp(mx, q) >= 0))
      case LessThan(c, v) if c == colName =>
        dom(v).forall(q => withBounds((mn, _) => cmp(mn, q) < 0))
      case LessThanOrEqual(c, v) if c == colName =>
        dom(v).forall(q => withBounds((mn, _) => cmp(mn, q) <= 0))
      case StringStartsWith(c, prefix) if c == colName && stat.kind == 'S' =>
        // a string starting with `prefix` is ≥ prefix, and every string
        // ≥ some mn > prefix that does NOT itself extend prefix is out of
        // reach — so keep iff mx ≥ prefix ∧ (mn ≤ prefix ∨ mn extends it)
        withBounds((mn, mx) =>
          cmp(mx, prefix) >= 0 &&
            (cmp(mn, prefix) <= 0 ||
             mn.asInstanceOf[String].startsWith(prefix)))
      case And(l, r) =>
        mightMatch(l, colName, stat) && mightMatch(r, colName, stat)
      case Or(l, r) =>
        mightMatch(l, colName, stat) || mightMatch(r, colName, stat)
      case _ => true
    }
  }
}

class LakeRelation(ctx: SQLContext, dir: String, versionAsOf: Option[Long],
                   layoutBy: Option[String] = None,
                   statsBy: Seq[String] = Seq.empty)
    extends BaseRelation with PrunedFilteredScan with InsertableRelation {

  /** Table directory, for the SQL UPDATE rewrite ([[LakeUpdateRule]]) —
    * live-table relations only (a versionAsOf relation must refuse DML,
    * same contract as [[insert]]). */
  private[graft] def tableDir: String = {
    require(versionAsOf.isEmpty,
      s"cannot UPDATE a versionAsOf (time travel) relation on $dir")
    dir
  }

  /** The version a scan reads: `versionAsOf` pins it; otherwise the LIVE
    * version is re-derived PER SCAN, not at construction — Spark's
    * session catalog caches one resolved relation per table name, so a
    * construction-pinned version would freeze a `USING graft-lake`
    * catalog table at its first read and make SQL `INSERT INTO` appear
    * to do nothing until a manual REFRESH TABLE. Each scan captures the
    * value ONCE (manifests are immutable, so one version = one
    * consistent file/stats/schema view). The relation's `schema` stays
    * fixed at construction — the BaseRelation contract — which after an
    * additive evolution means new columns surface on re-resolution
    * (REFRESH TABLE / next session), exactly the catalog-lag Delta has
    * on a Hive metastore. */
  private def liveVersion: Long = versionAsOf
    .orElse(LakeTable.currentVersion(dir))
    .getOrElse(throw new IllegalArgumentException(
      s"no published version in $dir"))

  override def sqlContext: SQLContext = ctx

  override val schema: StructType = {
    val version = liveVersion
    // LOGICAL names (r13 column mapping)
    LakeTable.logicalStructOf(dir, version).getOrElse(
      LakeTable.readVersion(ctx.sparkSession, dir, version).schema)
  }

  /** The V1 source-boundary tax, MEASURED (r9 ask #6, sf0.1 rollup
    * fixture, local[32], median of 5 after warm-up — the
    * same band-range predicate + aggregate through three paths):
    *   direct `LakeTable.read` + filter . . . . . . . .  0.196 s
    *   this source (pruned scan, `.rdd` exit)  . . . . . 0.199 s
    *   same scan shape over ALL files (no pruning) . . . 0.181 s
    * The `.rdd` conversion costs ~0.003 s (≈2%) — NOISE at this fixture;
    * the 1.70 s the r8 bench showed for q_lake_source is the query's TWO
    * full commit protocols plus requires, not the scan boundary. The
    * no-prune run ties because the fixture is 8 small files; pruning's
    * value is manifest-metadata scaling (decisions per FILE, not per
    * byte), which a local fixture cannot surface. Decision: keep V1 — a
    * DSv2 shell would buy back a 2% boundary only by re-implementing the
    * vectorized parquet read this delegates to, and the boundary cost
    * scales with rows RETURNED (post-prune, post-pushdown), not table
    * size, so it stays minor at 100 TB. Re-measure if a consumer ever
    * pulls wide unaggregated rows through the source in bulk — that is
    * the one shape where external-Row conversion dominates. */
  /** SQL DML — `INSERT INTO`/`INSERT OVERWRITE` a catalog table created
    * with `USING graft-lake` (r10 verdict ask #2: the DDL surface invites
    * SQL users who hit the missing DML in their first session). Spark's
    * `InsertIntoDataSourceCommand` resolves the VALUES/SELECT source by
    * position against this relation's schema and calls this hook:
    *  - `overwrite = false` (INSERT INTO) → the ZERO-REWRITE append —
    *    the new version carries every live file verbatim, manifest
    *    arithmetic only;
    *  - `overwrite = true` (INSERT OVERWRITE) → a full overwrite commit.
    * Both ride the SERIALIZED write-audit-publish loop (evolution gate
    * included), mint a new version, and preserve time travel — identical
    * semantics to the DataFrame `.write.format("graft-lake")` path. The
    * table's `layoutBy`/`statsBy` options carry through, so SQL inserts
    * keep the layout metadata later partial merges prune by. A
    * time-travel relation (`versionAsOf`) refuses: history is immutable,
    * writes target only the live table. */
  override def insert(data: org.apache.spark.sql.DataFrame,
                      overwrite: Boolean): Unit = {
    require(versionAsOf.isEmpty,
      s"cannot INSERT into a versionAsOf (time travel) relation on $dir " +
      "— history is immutable; insert into the live table instead")
    val spark = ctx.sparkSession
    val r =
      if (overwrite) LakeTable.commit(spark, dir, data, layoutBy, statsBy)(_ => None)
      else LakeTable.append(spark, dir, data, layoutBy, statsBy)(_ => None)
    r match {
      case Right(_) => ()
      case Left(reason) => throw new IllegalStateException(reason)
    }
  }

  override def buildScan(requiredColumns: Array[String],
                         filters: Array[Filter]): RDD[Row] = {
    val version = liveVersion // captured once: a consistent manifest view
    val renames = LakeTable.renamesOf(dir, version)
    val stats = LakeTable.statsOf(dir, version)
    val statsCols = stats.keysIterator.map(_._2).toSet
    val files = LakeTable.filesOf(dir, version).filter { f =>
      statsCols.forall { c =>
        stats.get((f, c)) match {
          case Some(st) =>
            // stats entries carry PHYSICAL names; query filters carry
            // LOGICAL ones (r13) — translate before matching
            filters.forall(
              LakeRelation.mightMatch(_, renames.getOrElse(c, c), st))
          case None => true // no recorded stats: must keep
        }
      }
    }
    LakeRelation.lastScanFiles.set(files)
    if (files.isEmpty)
      ctx.sparkSession.sparkContext.emptyRDD[Row]
    else {
      val cols =
        if (requiredColumns.isEmpty) schema.fieldNames.toSeq
        else requiredColumns.toSeq
      // files read under their PHYSICAL schema, planned from manifest
      // metadata alone (r15: the pruned file list + recorded byte sizes,
      // zero FS calls), then the logical projection (r13) — identity
      // when nothing was ever renamed
      val frame = LakeTable.knownFrame(ctx.sparkSession, dir, files,
        LakeTable.schemaOf(dir, version), LakeTable.bytesOf(dir, version))
      // DV-bearing versions (r11) filter deleted positions before the
      // projection — pruning composes: a dropped file's positions simply
      // never come up, and the anti-join is a broadcast, no shuffle
      LakeTable.toLogical(
          LakeTable.applyDv(ctx.sparkSession, dir, frame,
            LakeTable.dvOf(dir, version)), renames)
        .select(cols.map(LakeTable.byName): _*)
        .rdd
    }
  }
}
