package graft.sources

import java.nio.file.{Files, Paths}
import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsOverwrite, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{BaseRelation, Filter, InsertableRelation, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The lake as a DataSourceV2 CATALOG (r12, verdict ask #4) — the
  * engine's first DSv2 surface, and the binding SQL `DELETE FROM` needs:
  * Spark routes DELETE only to a [[SupportsDeleteV2]] table resolved
  * through a `TableCatalog`, which V1 relations can never be. Register
  * once per session:
  *
  * {{{
  * spark.conf.set("spark.sql.catalog.lake", "graft.sources.LakeCatalog")
  * spark.conf.set("spark.sql.catalog.lake.warehouse", "/data/lake")
  * spark.sql("DELETE FROM lake.default.orders WHERE band = 3")
  * spark.table("lake.default.orders")            // SELECT works too
  * }}}
  *
  * Identifier `ns.tbl` maps to directory `<warehouse>/ns/tbl`; a table
  * EXISTS iff that directory has a published version or a CREATE-time
  * `pending.json` record. Tables are born through [[LakeTable.commit]] /
  * the `graft-lake` writer, or (r12) through SQL `CREATE TABLE` /
  * `CREATE TABLE AS SELECT` on this catalog — CREATE records the
  * declared schema + write defaults as `pending.json` (this layout
  * cannot publish an empty version: schema lives in non-empty
  * manifests) and the first INSERT publishes v1.
  *
  * DELETE binds to [[LakeTable.deleteWhereDv]] — the zero-rewrite
  * deletion-vector path — via the V1 `Filter` bridge ([[SupportsDelete]];
  * Spark converts its V2 predicates and refuses un-convertible
  * conditions BEFORE calling, so a non-pushable DELETE fails loudly at
  * analysis rather than half-applying). An empty match is a no-op
  * success, Delta semantics (r12). TRUNCATE TABLE rides the same
  * surface (the default `truncateTable` = delete-where-true → one DV
  * publish, zero rewrite). INSERT INTO / INSERT OVERWRITE go through a
  * [[V1Write]] exit onto the serialized append/overwrite commits —
  * identical semantics to the V1 `USING graft-lake` table's DML. READS
  * go through a [[V1Scan]] shim onto the same manifest read path as
  * everything else (DV filtering, recorded schema), with column pruning
  * and filter pushdown compiled into the shim's inner parquet frame
  * (r12) — a catalog SELECT decodes only the needed columns and its
  * pushable predicates reach the parquet scan, same as the V1
  * `graft-lake` format whose pruning contract is measured in
  * [[LakeRelation]]. */
class LakeCatalog extends TableCatalog with SupportsNamespaces {
  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = LakeSource.localPath(
      Option(options.get("warehouse")).getOrElse(throw
        new IllegalArgumentException(
          s"catalog $name requires option 'warehouse' " +
          s"(spark.sql.catalog.$name.warehouse=<dir>)")))
  }

  override def name(): String = catalogName

  private def dirOf(ident: Identifier): String =
    (ident.namespace() :+ ident.name())
      .foldLeft(Paths.get(warehouse)) { (p, seg) =>
        require(!seg.contains('/') && !seg.contains(0x00.toChar) &&
                seg.nonEmpty && seg != ".." && seg != ".",
          s"illegal identifier segment '$seg'")
        p.resolve(seg)
      }.toString

  override def tableExists(ident: Identifier): Boolean = {
    val dir = dirOf(ident)
    LakeTable.currentVersion(dir).nonEmpty ||
      LakeCatalog.readPending(dir).nonEmpty
  }

  override def loadTable(ident: Identifier): Table = {
    val dir = dirOf(ident)
    if (LakeTable.currentVersion(dir).isEmpty &&
        LakeCatalog.readPending(dir).isEmpty) {
      // `ns.t.changes` — the CHANGE DATA FEED of `ns.t` as its own table
      // identity (r13, the Iceberg-metadata-table spelling: a reader
      // option cannot ride loadTable, so the feed schema gets a name).
      // Resolved only when no REAL table shadows the suffix.
      if (ident.name == "changes" && ident.namespace().nonEmpty) {
        val parent = dirOf(Identifier.of(
          ident.namespace().init, ident.namespace().last))
        if (LakeTable.currentVersion(parent).nonEmpty ||
            LakeCatalog.readPending(parent).nonEmpty)
          return new LakeFeedTable(parent,
            (ident.namespace() :+ ident.name()).mkString("."))
      }
      throw new NoSuchTableException(ident)
    }
    new LakeV2Table(dir, (ident.namespace() :+ ident.name()).mkString("."))
  }

  /** SQL time travel — `SELECT ... FROM cat.ns.t VERSION AS OF <n>`:
    * the returned table pins every scan to the requested version's own
    * manifest (schema included); DML against it refuses — history is
    * immutable. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = dirOf(ident)
    val v = try version.toLong catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"graft-lake versions are integers, got '$version'")
    }
    if (LakeTable.filesOf(dir, v).isEmpty)
      throw new NoSuchTableException(ident)
    new LakeV2Table(dir,
      (ident.namespace() :+ ident.name()).mkString(".") + s"@v$v",
      versionAsOf = Some(v))
  }

  /** `SELECT ... FROM cat.ns.t TIMESTAMP AS OF <ts>` — Spark hands the
    * instant over as MICROSECONDS since the epoch; it resolves to the
    * NEWEST retained version whose recorded publish instant
    * ([[LakeTable.commitTimeOf]] — marker-content event time, r12) is at
    * or before it, Delta semantics. An instant before the first
    * retained publish refuses. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val dir = dirOf(ident)
    if (LakeTable.currentVersion(dir).isEmpty)
      throw new NoSuchTableException(ident)
    val ms = Math.floorDiv(timestampMicros, 1000L)
    val v = LakeTable.versions(dir)
      .filter(v => LakeTable.commitTimeOf(dir, v).getTime <= ms)
      .lastOption.getOrElse(throw new IllegalArgumentException(
        s"no retained version of ${ident.name()} published at or before " +
        s"epoch-millis $ms"))
    new LakeV2Table(dir,
      (ident.namespace() :+ ident.name()).mkString(".") + s"@t$ms",
      versionAsOf = Some(v))
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val nsDir = namespace.foldLeft(Paths.get(warehouse))(_.resolve(_))
    if (!Files.isDirectory(nsDir)) throw new NoSuchNamespaceException(namespace)
    scala.util.Using.resource(Files.list(nsDir)) { stream =>
      stream.iterator().asScala
        .filter(p => Files.isDirectory(p) &&
          (LakeTable.currentVersion(p.toString).nonEmpty ||
           LakeCatalog.readPending(p.toString).nonEmpty))
        .map(p => Identifier.of(namespace, p.getFileName.toString))
        .toArray
    }
  }

  /** SQL `CREATE TABLE` / `CREATE TABLE AS SELECT` through the catalog
    * (r12). This layout cannot publish an empty VERSION (schema lives in
    * non-empty manifests), so CREATE records a `pending.json` — schema,
    * optional `PARTITIONED BY (<one column>)` → the lake's `layoutBy`,
    * optional `TBLPROPERTIES ('statsBy'='c1,c2')` → per-file stats
    * columns — and the first INSERT publishes v1 carrying them. Until
    * then the table EXISTS with its declared schema and reads as empty
    * (Delta semantics: an empty table is queryable). CTAS is exactly
    * CREATE + the first INSERT, so it lands as v1 in one statement; on
    * CTAS failure Spark drops the pending table, leaving nothing. The
    * pending record persists after birth as the table's write defaults
    * (layout/stats travel with every later catalog INSERT). */
  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: JMap[String, String]): Table = {
    val dir = dirOf(ident)
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    // multi-column PARTITIONED BY (r14, verdict ask #2): each identity
    // transform becomes one layout column; the spec travels as the
    // comma-joined string every layout surface already carries, and
    // staged paths compose `_layout=<v1>/_layout2=<v2>/…` in
    // declaration order
    val layoutCols = partitions.toSeq.map {
      case t if t.name == "identity" && t.references.length == 1 =>
        t.references()(0).fieldNames().mkString(".")
      case other => throw new UnsupportedOperationException(
        s"graft-lake layout takes identity partition columns " +
        s"(layoutBy); got [$other]")
    }
    layoutCols.foreach(c => require(LakeCatalog.resolves(schema, c),
      s"PARTITIONED BY column '$c' is not in the schema"))
    val layout =
      if (layoutCols.isEmpty) None else Some(layoutCols.mkString(","))
    val ci = new CaseInsensitiveStringMap(properties)
    // a LOCATION clause would be silently ignored (tables live at
    // <warehouse>/<ns>/<table> by construction) — refuse it instead
    require(Option(ci.get("location")).isEmpty,
      s"graft-lake tables live at <warehouse>/<ns>/<table> " +
      s"(${dirOf(ident)}); LOCATION is not supported")
    val statsBy = Option(ci.get("statsby")).toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    statsBy.foreach(c => require(LakeCatalog.resolves(schema, c),
      s"statsBy column '$c' is not in the schema"))
    // TBLPROPERTIES('check'='<boolean expr>') — a CHECK constraint every
    // catalog write enforces on the incoming rows (NULL passes, FALSE
    // refuses — the SQL-standard CHECK semantics, Delta's same contract)
    val check = Option(ci.get("check")).map(_.trim).filter(_.nonEmpty)
    check.foreach(org.apache.spark.sql.functions.expr) // must PARSE now
    Files.createDirectories(Paths.get(dir))
    try LakeCatalog.writePending(dir,
      LakeCatalog.Pending(schema, layout, statsBy, check),
      failIfExists = true)
    catch {
      // the check-then-act gap: a concurrent CREATE won the race
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new TableAlreadyExistsException(ident)
    }
    new LakeV2Table(dir, (ident.namespace() :+ ident.name()).mkString("."))
  }

  /** SQL `ALTER TABLE` (r12) — exactly the manifest's additive-evolution
    * contract: `ADD COLUMNS` publishes a METADATA-ONLY commit (same
    * files, extended recorded schema — readers null-fill, zero data
    * movement; on an unborn table it rewrites the pending record), and
    * `SET TBLPROPERTIES ('statsBy'='…')` updates the table's write
    * defaults. Drops, renames, and type changes refuse — they have no
    * manifest representation by design (the evolution gate). */
  override def alterTable(ident: Identifier,
                          changes: TableChange*): Table = {
    val dir = dirOf(ident)
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val (adds, rest) = changes.partition(_.isInstanceOf[TableChange.AddColumn])
    val (rens, rest2) =
      rest.partition(_.isInstanceOf[TableChange.RenameColumn])
    val (drops, rest3) =
      rest2.partition(_.isInstanceOf[TableChange.DeleteColumn])
    val (retypes, rest4) =
      rest3.partition(_.isInstanceOf[TableChange.UpdateColumnType])
    val (props, unsupported) =
      rest4.partition(_.isInstanceOf[TableChange.SetProperty])
    if (unsupported.nonEmpty)
      throw new UnsupportedOperationException(
        s"graft-lake evolution supports ADD COLUMNS, RENAME COLUMN, " +
        s"DROP COLUMN, ALTER COLUMN TYPE (widening), and SET " +
        s"TBLPROPERTIES; got " +
        unsupported.map(_.getClass.getSimpleName).mkString(", "))
    // ALTER COLUMN TYPE (r14): lossless widening as a metadata-only
    // commit via column mapping — files keep the narrow physical type,
    // readers up-cast at the scan boundary. Unborn tables retype the
    // declared schema in place (no files constrain them yet).
    retypes.map(_.asInstanceOf[TableChange.UpdateColumnType]).foreach { uc =>
      require(uc.fieldNames().length == 1,
        s"nested ALTER COLUMN '${uc.fieldNames().mkString(".")}' is " +
        "not representable (top-level columns only)")
      val name = uc.fieldNames()(0)
      LakeCatalog.readPending(dir) match {
        case Some(p) if LakeTable.currentVersion(dir).isEmpty =>
          require(p.schema.fieldNames.contains(name),
            s"ALTER COLUMN TYPE: no column '$name'")
          LakeCatalog.writePending(dir, p.copy(schema = StructType(
            p.schema.fields.map(f =>
              if (f.name == name) f.copy(dataType = uc.newDataType())
              else f))))
        case _ =>
          LakeTable.alterColumnType(dir, name, uc.newDataType().sql) match {
            case Right(_) => ()
            case Left(reason) => throw new IllegalStateException(
              s"ALTER TABLE ${ident.name()} failed: $reason")
          }
      }
    }
    // DROP COLUMN (r13): metadata-only via column mapping — the physical
    // name tombstones so no later ADD/RENAME resurrects the data still
    // sitting in carried files. The declared layout column refuses (the
    // table's files are laid out by it); a dropped statsBy default
    // silently leaves the write defaults.
    drops.map(_.asInstanceOf[TableChange.DeleteColumn]).foreach { dc =>
      require(dc.fieldNames().length == 1,
        s"nested DROP COLUMN '${dc.fieldNames().mkString(".")}' is not " +
        "representable (top-level columns only)")
      val name = dc.fieldNames()(0)
      val pendingNow = LakeCatalog.readPending(dir)
      require(!pendingNow.flatMap(_.layoutBy).toSeq
          .flatMap(_.split(',')).map(_.trim)
          .exists(_.equalsIgnoreCase(name)),
        s"DROP COLUMN: '$name' is the table's layout column")
      pendingNow match {
        case Some(p) if LakeTable.currentVersion(dir).isEmpty =>
          require(p.schema.fieldNames.contains(name),
            s"DROP COLUMN: no column '$name'")
          require(p.schema.fields.length > 1,
            "DROP COLUMN: cannot drop the only column")
          LakeCatalog.writePending(dir, p.copy(
            schema = StructType(p.schema.fields.filterNot(_.name == name)),
            statsBy = p.statsBy.filterNot(_ == name)))
        case _ =>
          LakeTable.dropColumn(dir, name) match {
            case Right(_) =>
              pendingNow.filter(_.statsBy.contains(name)).foreach(p =>
                LakeCatalog.writePending(dir,
                  p.copy(statsBy = p.statsBy.filterNot(_ == name))))
            case Left(reason) => throw new IllegalStateException(
              s"ALTER TABLE ${ident.name()} failed: $reason")
          }
      }
    }
    // RENAME COLUMN (r13): metadata-only via column mapping — physical
    // names in files never change, the display map gains an entry, old
    // files stay readable, time travel shows each version's own names
    rens.map(_.asInstanceOf[TableChange.RenameColumn]).foreach { rc =>
      require(rc.fieldNames().length == 1,
        s"nested RENAME COLUMN '${rc.fieldNames().mkString(".")}' is " +
        "not representable (top-level columns only)")
      val from = rc.fieldNames()(0)
      val to = rc.newName()
      LakeCatalog.readPending(dir) match {
        case Some(p) if LakeTable.currentVersion(dir).isEmpty =>
          // unborn: no files exist yet, so the declared schema renames
          // in place (the first write will mint `to` as the physical)
          require(p.schema.fieldNames.contains(from),
            s"RENAME COLUMN: no column '$from'")
          require(!p.schema.fieldNames.contains(to),
            s"RENAME COLUMN: column '$to' already exists")
          LakeCatalog.writePending(dir, p.copy(schema = StructType(
            p.schema.fields.map(f =>
              if (f.name == from) f.copy(name = to) else f))))
        case _ =>
          LakeTable.renameColumn(dir, from, to) match {
            case Right(_) => ()
            case Left(reason) => throw new IllegalStateException(
              s"ALTER TABLE ${ident.name()} failed: $reason")
          }
      }
    }
    val cols = adds.map(_.asInstanceOf[TableChange.AddColumn]).map { a =>
      require(a.fieldNames().length == 1,
        s"nested ADD COLUMN '${a.fieldNames().mkString(".")}' is not " +
        "representable (top-level columns only)")
      require(a.isNullable,
        s"ADD COLUMN '${a.fieldNames()(0)}' must be nullable: existing " +
        "rows null-fill it")
      a.fieldNames()(0) -> a.dataType().sql
    }
    if (cols.nonEmpty) {
      LakeCatalog.readPending(dir) match {
        case Some(p) if LakeTable.currentVersion(dir).isEmpty =>
          // unborn: extend the declared schema in place
          val dup = cols.map(_._1).find(p.schema.fieldNames.contains)
          require(dup.isEmpty, s"column '${dup.get}' already exists")
          LakeCatalog.writePending(dir, p.copy(schema = StructType.fromDDL(
            (p.schema.toDDL +: cols.map { case (n, t) => s"$n $t" })
              .mkString(", "))))
        case _ =>
          LakeTable.addColumns(dir, cols) match {
            case Right(_) => ()
            case Left(reason) => throw new IllegalStateException(
              s"ALTER TABLE ${ident.name()} failed: $reason")
          }
      }
    }
    props.map(_.asInstanceOf[TableChange.SetProperty]).foreach { p =>
      def cur = LakeCatalog.readPending(dir).getOrElse(
        LakeCatalog.Pending(loadTable(ident).asInstanceOf[LakeV2Table]
          .schema(), None, Seq.empty))
      if (p.property().equalsIgnoreCase("statsby")) {
        val statsBy = p.value().split(',').map(_.trim)
          .filter(_.nonEmpty).toSeq
        // same schema validation as CREATE: a typo'd column here would
        // otherwise silently disable stats on every later write (ADVICE
        // r12). Validate against the LIVE schema (loadTable), not
        // cur.schema — a born table's pending record keeps the CREATE-
        // time schema and would spuriously refuse columns added since.
        val live = loadTable(ident).asInstanceOf[LakeV2Table].schema()
        statsBy.foreach(c => require(LakeCatalog.resolves(live, c),
          s"statsBy column '$c' is not in the schema"))
        LakeCatalog.writePending(dir, cur.copy(statsBy = statsBy))
      } else if (p.property().equalsIgnoreCase("check")) {
        // adding a constraint to a table WITH rows validates them first
        // (Delta's ADD CONSTRAINT scan): a constraint the live data
        // already violates would make every future write path lie
        val check = p.value().trim
        if (check.nonEmpty)
          org.apache.spark.sql.functions.expr(check) // must PARSE now
        if (check.nonEmpty && LakeTable.currentVersion(dir).nonEmpty)
          LakeCatalog.enforceCheck(
            LakeTable.read(SparkSession.active, dir), check, ident.name())
        LakeCatalog.writePending(dir,
          cur.copy(check = Some(check).filter(_.nonEmpty)))
      } else throw new UnsupportedOperationException(
        s"unknown table property '${p.property()}' (statsBy and check " +
        "are the write defaults)")
    }
    loadTable(ident)
  }

  /** DROP = vacuum-to-nothing: removes the table directory wholesale.
    * The catalog's delete surface is version-granular ([[vacuum]]); DROP
    * is the one irreversible admin op, same as any filesystem table. */
  override def dropTable(ident: Identifier): Boolean = {
    val dir = Paths.get(dirOf(ident))
    if (!Files.isDirectory(dir)) false
    else {
      // close the walk stream (directory-handle leak otherwise — the
      // same class of leak the r12 listTables fix closed)
      scala.util.Using.resource(Files.walk(dir)) { stream =>
        stream.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.deleteIfExists(p))
      }
      true
    }
  }

  override def renameTable(oldIdent: Identifier,
                           newIdent: Identifier): Unit = {
    val from = Paths.get(dirOf(oldIdent))
    val to = Paths.get(dirOf(newIdent))
    if (!Files.isDirectory(from)) throw new NoSuchTableException(oldIdent)
    if (Files.exists(to)) throw new TableAlreadyExistsException(newIdent)
    Files.createDirectories(to.getParent)
    Files.move(from, to)
  }

  // ---- namespaces (r12): directories under the warehouse ---------------
  // A namespace IS a directory that is not itself a table; `SHOW
  // NAMESPACES`, `CREATE NAMESPACE`, and `USE <cat>.<ns>` work the
  // obvious filesystem way. Metadata properties have no representation
  // (empty map; ALTER refuses).

  private def nsDirOf(namespace: Array[String]): java.nio.file.Path =
    namespace.foldLeft(Paths.get(warehouse)) { (p, seg) =>
      require(!seg.contains('/') && !seg.contains(0x00.toChar) &&
              seg.nonEmpty && seg != ".." && seg != ".",
        s"illegal namespace segment '$seg'")
      p.resolve(seg)
    }

  private def isTableDir(p: java.nio.file.Path): Boolean =
    LakeTable.currentVersion(p.toString).nonEmpty ||
      LakeCatalog.readPending(p.toString).nonEmpty

  override def listNamespaces(): Array[Array[String]] =
    scala.util.Using.resource(Files.list(Paths.get(warehouse))) { st =>
      st.iterator().asScala
        .filter(p => Files.isDirectory(p) && !isTableDir(p))
        .map(p => Array(p.getFileName.toString))
        .toArray
    }

  override def listNamespaces(namespace: Array[String])
      : Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    val dir = nsDirOf(namespace)
    if (!Files.isDirectory(dir)) throw new NoSuchNamespaceException(namespace)
    scala.util.Using.resource(Files.list(dir)) { st =>
      st.iterator().asScala
        .filter(p => Files.isDirectory(p) && !isTableDir(p))
        .map(p => namespace :+ p.getFileName.toString)
        .toArray
    }
  }

  override def loadNamespaceMetadata(namespace: Array[String])
      : JMap[String, String] = {
    val dir = nsDirOf(namespace)
    if (!Files.isDirectory(dir) || isTableDir(dir))
      throw new NoSuchNamespaceException(namespace)
    java.util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
                               metadata: JMap[String, String]): Unit = {
    val dir = nsDirOf(namespace)
    if (Files.isDirectory(dir))
      throw new org.apache.spark.sql.catalyst.analysis
        .NamespaceAlreadyExistsException(namespace)
    Files.createDirectories(dir)
  }

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "namespace properties have no representation in this catalog")

  override def dropNamespace(namespace: Array[String],
                             cascade: Boolean): Boolean = {
    val dir = nsDirOf(namespace)
    if (!Files.isDirectory(dir)) false
    else {
      val empty = scala.util.Using.resource(Files.list(dir)) { st =>
        !st.iterator().hasNext
      }
      require(empty || cascade,
        s"namespace ${namespace.mkString(".")} is not empty " +
        "(use CASCADE to drop its tables)")
      scala.util.Using.resource(Files.walk(dir)) { stream =>
        stream.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.deleteIfExists(p))
      }
      true
    }
  }
}

object LakeCatalog {
  /** The CREATE-time table record: declared schema plus the write
    * defaults (layout column, stats columns) every later catalog INSERT
    * carries. Written once by [[LakeCatalog.createTable]]; a published
    * version's recorded schema takes precedence for reads thereafter. */
  private[graft] final case class Pending(schema: StructType,
                                          layoutBy: Option[String],
                                          statsBy: Seq[String],
                                          check: Option[String] = None)

  private def pendingPath(dir: String): java.nio.file.Path =
    Paths.get(dir, "pending.json")

  /** Column-name resolution honoring `spark.sql.caseSensitive`: Spark's
    * SQL analysis is case-insensitive by default, so DDL validation must
    * be too — `PARTITIONED BY (BAND)` on column `band` is valid SQL and
    * a case-sensitive contains() would refuse it spuriously (ADVICE
    * r12). */
  private[graft] def resolves(schema: StructType, col: String): Boolean = {
    val cs = try SparkSession.active.sessionState.conf.caseSensitiveAnalysis
             catch { case _: Throwable => false }
    if (cs) schema.fieldNames.contains(col)
    else schema.fieldNames.exists(_.equalsIgnoreCase(col))
  }

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  /** `failIfExists=true` is the CREATE path: tableExists-then-write is
    * check-then-act, so two racing CREATE TABLEs could both pass the
    * check and the loser would silently replace the winner's declared
    * schema (ADVICE r12). A hard link publishes the full content
    * atomically AND fails with FileAlreadyExistsException when the
    * target exists — POSIX rename() would silently replace. ALTER keeps
    * the replacing move: it updates a record it just read. */
  private[graft] def writePending(dir: String, p: Pending,
                                  failIfExists: Boolean = false): Unit = {
    // values stay URL-encoded, the encoding every pending file has used
    val fields = Seq("schema" -> Some(p.schema.toDDL),
      "layoutBy" -> p.layoutBy,
      "statsBy" -> Some(p.statsBy.mkString(",")).filter(_.nonEmpty),
      "check" -> p.check).collect { case (k, Some(v)) => k -> enc(v) }
    val tmp = Paths.get(dir, s".pending-${java.util.UUID.randomUUID()}.tmp")
    Files.write(tmp, LakeManifest.mapper.writeValueAsBytes(fields.toMap))
    if (failIfExists) {
      try Files.createLink(pendingPath(dir), tmp)
      finally Files.deleteIfExists(tmp)
    } else
      Files.move(tmp, pendingPath(dir),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Enforce a CHECK constraint on the rows ABOUT TO BE WRITTEN —
    * SQL-standard semantics (a row violates only when the expression is
    * FALSE; NULL passes). O(batch), never O(table): the constraint held
    * for every already-committed row when it was written, so re-checking
    * carried data would be pure write amplification at 100 TB. Cost is
    * one extra evaluation of the incoming frame (the same shape as
    * Delta's per-row invariant check). */
  private[graft] def enforceCheck(data: org.apache.spark.sql.DataFrame,
                                  check: String, ident: String): Unit = {
    val ok = org.apache.spark.sql.functions.coalesce(
      org.apache.spark.sql.functions.expr(check).cast("boolean"),
      org.apache.spark.sql.functions.lit(true))
    val violations = data.filter(!ok).limit(1).count()
    if (violations > 0L) throw new IllegalStateException(
      s"CHECK constraint violated on $ident: ($check) is false for at " +
      "least one incoming row; nothing was written")
  }

  private[graft] def readPending(dir: String): Option[Pending] = {
    val p = pendingPath(dir)
    if (!Files.exists(p)) None
    else {
      val json = LakeManifest.mapper.readValue(Files.readAllBytes(p),
        classOf[Map[String, String]])
      def field(k: String): Option[String] = json.get(k).map(dec)
      field("schema").map(ddl => Pending(StructType.fromDDL(ddl),
        field("layoutBy"),
        field("statsBy").toSeq.flatMap(_.split(',')).filter(_.nonEmpty),
        field("check")))
    }
  }
}

/** One lake table seen through the DSv2 `Table` contract: reads resolve
  * the LIVE version per scan (same non-freezing discipline as
  * [[LakeRelation.liveVersion]]), deletes ride the deletion-vector
  * commit. */
class LakeV2Table(val dir: String, ident: String,
                  versionAsOf: Option[Long] = None)
    extends Table with SupportsRead with SupportsWrite with SupportsDelete {

  override def name(): String = ident

  private def refuseDml(what: String): Unit =
    require(versionAsOf.isEmpty,
      s"cannot $what a VERSION AS OF (time travel) table $ident — " +
      "history is immutable")

  override def schema(): StructType = {
    // LOGICAL names (r13 column mapping): renamed columns surface under
    // their display names; time travel shows each version's own
    val v = versionAsOf.orElse(LakeTable.currentVersion(dir))
    v.flatMap(LakeTable.logicalStructOf(dir, _))
      // a CREATE'd-but-unborn table carries its declared schema
      .orElse(LakeCatalog.readPending(dir).filter(_ => v.isEmpty).map(_.schema))
      .getOrElse(v.map(LakeTable.readVersion(SparkSession.active, dir, _))
        .getOrElse(LakeTable.read(SparkSession.active, dir)).schema)
  }

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.STREAMING_WRITE,
      // MERGE ... WITH SCHEMA EVOLUTION (r14): Spark's own
      // ResolveMergeIntoSchemaEvolution computes the source/target
      // schema diff and drives it through TableCatalog.alterTable —
      // landing on the SAME metadata-only AddColumn / lossless
      // type-widening commits the explicit ALTER statements use; the
      // evolved relation then reloads and the merge binds as usual.
      // Unsupported diffs (narrowing, cross-family) refuse through the
      // same gates as explicit ALTERs.
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  /** SQL `INSERT INTO` / `INSERT OVERWRITE` through the catalog: the
    * [[V1Write]] exit onto the same serialized commit protocol as every
    * other write — INSERT INTO is the zero-rewrite append, INSERT
    * OVERWRITE (Spark calls `truncate()` on the builder) a full
    * overwrite commit. Mirrors [[LakeRelation.insert]], so the V1
    * catalog table and this V2 one behave identically under DML. */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    refuseDml("INSERT into")
    val queryId = info.queryId()
    val writeSchema = info.schema()
    new WriteBuilder with SupportsOverwrite {
      private var overwrite = false
      private var replaceCond: Option[Column] = None
      override def truncate(): WriteBuilder = { overwrite = true; this }
      /** `INSERT INTO ... REPLACE WHERE <cond>` / `df.writeTo(t)
        * .overwrite(cond)` (r12): Delta's replaceWhere — the idempotent
        * backfill. AlwaysTrue degenerates to the full overwrite;
        * anything else binds to [[LakeTable.replaceWhereDv]] (one
        * atomic commit: DV hides the range's old rows, the new data
        * lands as fresh files, everything else carries). */
      override def overwrite(filters: Array[Filter]): WriteBuilder = {
        if (filters.isEmpty ||
            filters.forall(_ == sources.AlwaysTrue())) overwrite = true
        else {
          val conds = filters.map(LakeV2Table.filterToColumn)
          require(conds.forall(_.nonEmpty),
            s"REPLACE WHERE condition is not translatable to source " +
            s"filters: ${filters.mkString(", ")}")
          replaceCond = Some(conds.flatten.reduce(_ && _))
        }
        this
      }
      override def build(): Write = {
        val ovrBuilder = overwrite
        val replace = replaceCond
        new V1Write {
          /** `df.writeStream.toTable("<cat>.ns.t")` (r12, behavior 48;
            * r13 behavior 50 lifts the layout refusal): the V2 streaming
            * write — see [[LakeStreamingWrite]]. Append mode appends;
            * Complete mode (the engine calls `truncate()`) overwrites
            * per epoch. A table declaring a layout column streams with
            * its prune metadata intact: executor writers stage one file
            * per layout value under `_layout=<value>/` segments. */
          override def toStreaming: org.apache.spark.sql.connector.write
              .streaming.StreamingWrite =
            new LakeStreamingWrite(dir, ident, writeSchema,
              overwriteEachEpoch = ovrBuilder, queryId = queryId,
              layoutBy = LakeCatalog.readPending(dir).flatMap(_.layoutBy))
          override def toInsertableRelation: InsertableRelation =
            new InsertableRelation {
              override def insert(data: org.apache.spark.sql.DataFrame,
                                  overwriteFlag: Boolean): Unit = {
                val ovr = ovrBuilder || overwriteFlag
                val spark = SparkSession.active
                // write defaults declared at CREATE time (layout column,
                // stats columns, CHECK constraint) travel with every
                // catalog INSERT — the first one births v1 carrying them
                val pending = LakeCatalog.readPending(dir)
                val layout = pending.flatMap(_.layoutBy)
                val stats = pending.map(_.statsBy).getOrElse(Seq.empty)
                // a CHECK (and the REPLACE WHERE stray-row validation
                // below) pre-reads the incoming frame in a separate job
                // from the write — for a NON-DETERMINISTIC source query
                // (rand(), uuid(), …) the rows checked could differ from
                // the rows staged, letting a violating row slip through.
                // Pin such frames once (O(batch) local checkpoint) so
                // check and write see identical rows; deterministic
                // plans — the overwhelming case — pay nothing (ADVICE
                // r12).
                val deterministic = data.queryExecution.analyzed.find(
                  p => p.expressions.exists(_.exists(!_.deterministic))
                ).isEmpty
                val in =
                  if (deterministic ||
                      (pending.flatMap(_.check).isEmpty && replace.isEmpty))
                    data
                  else data.localCheckpoint()
                pending.flatMap(_.check).foreach(c =>
                  LakeCatalog.enforceCheck(in, c, ident))
                val r =
                  if (replace.nonEmpty &&
                      LakeTable.currentVersion(dir).nonEmpty)
                    LakeTable.replaceWhereDv(spark, dir, replace.get,
                                             in, layout, stats)(_ => None)
                  else if (ovr || replace.nonEmpty) {
                    // full overwrite — or REPLACE WHERE into a table with
                    // no published version yet (replacing an empty range
                    // IS the first backfill). The unborn-table branch
                    // still validates the incoming rows against the
                    // predicate — violations refuse BEFORE anything
                    // stages, same contract as replaceWhereDv (ADVICE
                    // r12).
                    replace.foreach { pred =>
                      val stray = in.filter(
                        !org.apache.spark.sql.functions.coalesce(
                          pred.cast("boolean"),
                          org.apache.spark.sql.functions.lit(false)))
                        .limit(1).count()
                      if (stray > 0L) throw new IllegalStateException(
                        s"INSERT into $ident failed: REPLACE WHERE " +
                        "rejected: at least one incoming row does not " +
                        "satisfy the predicate — a backfill must not " +
                        "leak rows outside the range it replaces")
                    }
                    LakeTable.commit(spark, dir, in, layout,
                                     stats)(_ => None)
                  }
                  else LakeTable.append(spark, dir, in, layout,
                                        stats)(_ => None)
                r match {
                  case Right(_) => ()
                  case Left(reason) => throw new IllegalStateException(
                    s"INSERT into $ident failed: $reason")
                }
              }
            }
        }
      }
    }
  }

  /** Catalog reads push down (r12): the builder accepts Spark's column
    * pruning and every V1-`Filter`-translatable predicate, and the shim
    * compiles them into its inner parquet frame — so `spark.table("cat.
    * ns.t") WHERE band = 3` decodes only the needed columns and the
    * filter reaches the parquet scan (`PushedFilters`), exactly like the
    * V1 `graft-lake` format. At 100 TB that is the difference between a
    * full-table full-width decode and a pruned one on every SQL read
    * through the catalog. `pushFilters` is conservative: pushed filters
    * are ALSO returned as residual, so Spark re-evaluates them above the
    * scan — pushdown here is an I/O optimization, never a semantics
    * change (same contract as Spark's own JDBC source). */
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = {
    val full = schema()
    val pinned = versionAsOf
    new ScanBuilder with SupportsPushDownFilters
        with SupportsPushDownRequiredColumns {
      private var pushed: Array[Filter] = Array.empty
      private var pruned: StructType = full

      override def pushFilters(filters: Array[Filter]): Array[Filter] = {
        pushed = filters.filter(f => LakeV2Table.filterToColumn(f).nonEmpty)
        filters
      }
      override def pushedFilters(): Array[Filter] = pushed

      override def pruneColumns(requiredSchema: StructType): Unit =
        // Spark hands back a subset of this table's own fields in the
        // order the query needs; the shim selects exactly these. An empty
        // prune (count(*)) reads zero columns — footer-bounded row counts.
        pruned = requiredSchema

      override def build(): Scan = {
        val cols = pruned
        val conds = pushed.flatMap(LakeV2Table.filterToColumn).toIndexedSeq
        val pushedV1 = pushed.toIndexedSeq
        new V1Scan {
          override def readSchema(): StructType = cols
          override def toV1TableScan[T <: BaseRelation with TableScan](
              context: SQLContext): T =
            new LakeV2ScanShim(context, dir, cols, pinned, conds)
              .asInstanceOf[T]
          /** `spark.readStream.table("<cat>.ns.t")` (r12, behavior 47):
            * rows-mode micro-batch read through the V2 catalog — see
            * [[LakeMicroBatchStream]]. Time-travel tables refuse
            * (history is immutable; there is nothing to stream). */
          override def toMicroBatchStream(checkpointLocation: String)
              : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
            require(pinned.isEmpty,
              s"cannot stream a VERSION AS OF (time travel) table — " +
              "history is immutable")
            new LakeMicroBatchStream(dir, full, cols, pushedV1,
              // startingTimestamp (r14): the batch TIMESTAMP AS OF rule
              // resolves the floor once at stream construction
              startingVersion = LakeTable.startingVersionOf(dir,
                Option(options.get("startingVersion")),
                Option(options.get("startingTimestamp"))),
              skipChangeCommits =
                Option(options.get("skipChangeCommits"))
                  .exists(_.toBoolean),
              maxVersionsPerTrigger =
                Option(options.get("maxVersionsPerTrigger")).map(_.toInt),
              maxFilesPerTrigger =
                Option(options.get("maxFilesPerTrigger")).map(_.toInt),
              maxBytesPerTrigger =
                Option(options.get("maxBytesPerTrigger")).map(_.toLong))
          }
        }
      }
    }
  }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(f => LakeV2Table.filterToColumn(f).nonEmpty)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    refuseDml("DELETE from")
    // a CREATE'd-but-unborn table has nothing to delete: no-op success,
    // same as an empty match on a born one
    if (LakeTable.currentVersion(dir).isEmpty) return
    val cond = filters.flatMap(LakeV2Table.filterToColumn)
      .reduceOption(_ && _).getOrElse(lit(true))
    LakeTable.deleteWhereDv(SparkSession.active, dir, cond)(_ => None) match {
      case Right(_) => ()
      case Left(reason) => throw new IllegalStateException(
        s"DELETE FROM $ident failed: $reason")
    }
  }
}

object LakeV2Table {
  /** V1 `Filter` → `Column`, total over the shapes Spark's predicate
    * bridge emits; None = not translatable, which [[LakeV2Table
    * .canDeleteWhere]] turns into an analysis-time refusal (the DELETE
    * never half-applies). */
  private[sources] def filterToColumn(f: Filter): Option[Column] = f match {
    case sources.EqualTo(a, v) => Some(col(a) === lit(v))
    case sources.EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case sources.GreaterThan(a, v) => Some(col(a) > lit(v))
    case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case sources.LessThan(a, v) => Some(col(a) < lit(v))
    case sources.LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case sources.In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case sources.IsNull(a) => Some(col(a).isNull)
    case sources.IsNotNull(a) => Some(col(a).isNotNull)
    case sources.StringStartsWith(a, p) => Some(col(a).startsWith(p))
    case sources.StringEndsWith(a, p) => Some(col(a).endsWith(p))
    case sources.StringContains(a, p) => Some(col(a).contains(p))
    case sources.And(l, r) =>
      for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc && rc
    case sources.Or(l, r) =>
      for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc || rc
    case sources.Not(c) => filterToColumn(c).map(!_)
    case sources.AlwaysTrue() => Some(lit(true))
    case sources.AlwaysFalse() => Some(lit(false))
    case _ => None
  }
}

/** The [[V1Scan]] exit: a TableScan-shaped relation over the manifest
  * read path (recorded schema, DV filtering; `versionAsOf` pins time
  * travel). `schema` is the PRUNED column set and `pushed` the
  * translated pushed predicates — both compile into the inner parquet
  * frame, so pruning and pushdown happen at the file scan, not above
  * the row bridge. Spark still applies the query's own filters above
  * this scan (the conservative-residual contract).
  *
  * Measured bridge tax (sf0.1 orders, pruned 2-column
  * filtered aggregate, median of 7 interleaved runs): direct manifest
  * read 0.140 s, V1 `graft-lake` format 0.169 s, this V2 catalog read
  * 0.167 s — the catalog costs exactly the V1 format's documented
  * `.rdd` row-bridge (1.19× the direct plan here), no additional V2
  * overhead. */
private[graft] class LakeV2ScanShim(ctx: SQLContext, dir: String,
                                      val schema: StructType,
                                      versionAsOf: Option[Long] = None,
                                      pushed: Seq[Column] = Seq.empty)
    extends BaseRelation with TableScan {
  override def sqlContext: SQLContext = ctx

  /** The compiled inner frame — exposed so tests can pin that pushed
    * filters land in THIS sub-plan's parquet scan (`PushedFilters`) and
    * that its `ReadSchema` holds only the pruned columns. */
  private[graft] def innerFrame: org.apache.spark.sql.DataFrame = {
    // a CREATE'd-but-unborn table reads as empty under its declared
    // (already pruned) schema — queryable before its first INSERT
    if (versionAsOf.isEmpty && LakeTable.currentVersion(dir).isEmpty &&
        LakeCatalog.readPending(dir).nonEmpty)
      return ctx.sparkSession.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
    val df = versionAsOf
      .map(v => LakeTable.readVersion(ctx.sparkSession, dir, v))
      .getOrElse(LakeTable.read(ctx.sparkSession, dir))
    val filtered = pushed.foldLeft(df)(_.filter(_))
    filtered.select(schema.fieldNames.toIndexedSeq.map(col): _*)
  }

  override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
    innerFrame.rdd
}
