package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, V1Scan}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.graftshim.FileReadShim
import org.apache.spark.sql.sources.{BaseRelation, TableScan}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** CHANGE DATA FEED through the DSv2 catalog (r13, behavior 49 — the r12
  * verdict's recorded limitation #3): `ns.t.changes` is the CDF surface
  * of table `ns.t`, the Iceberg-metadata-table spelling of Delta's
  * `readChangeFeed` option (a reader option cannot ride `loadTable`, so
  * the feed gets its own table identity — schema resolution then works
  * unmodified, because the FEED TABLE's own schema IS the feed schema).
  * A catalog-first user subscribes without switching API styles:
  *
  * {{{
  * spark.readStream.table("lake.ns.orders.changes")   // streaming CDF
  * spark.table("lake.ns.orders.changes")              // full-history CDF
  * }}}
  *
  * Batch reads replay the whole retained history through
  * [[LakeTable.changesBetween]]; streaming reads run
  * [[LakeFeedMicroBatchStream]] — version-as-offset micro-batches whose
  * partitions are ONE TASK PER TOUCHED FILE, the same driver-side
  * manifest arithmetic + executor-side file reads as the rows-mode V2
  * stream ([[LakeMicroBatchStream]]), extended with the feed stamps and
  * deletion-vector position filtering. A real table named `changes`
  * always shadows this surface (the suffix resolves only when no such
  * table exists). */
private[sources] class LakeFeedTable(val dir: String, ident: String)
    extends Table with SupportsRead {

  override def name(): String = ident

  /** The feed schema: the table's current columns + the three stamps —
    * the same shape the V1 `format("graft-lake")` feed delivers. */
  override def schema(): StructType = LakeFeedTable.feedSchemaOf(dir)

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = {
    val full = schema()
    val tableCols = StructType(full.fields.dropRight(3))
    new ScanBuilder {
      override def build(): Scan = new V1Scan {
        override def readSchema(): StructType = full
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T =
          new LakeChangesScanShim(context, dir, full).asInstanceOf[T]
        override def toMicroBatchStream(checkpointLocation: String)
            : MicroBatchStream =
          new LakeFeedMicroBatchStream(dir, tableCols,
            // startingTimestamp (r14): batch TIMESTAMP AS OF rule,
            // resolved once at stream construction
            startingVersion = LakeTable.startingVersionOf(dir,
              Option(options.get("startingVersion")),
              Option(options.get("startingTimestamp"))),
            maxVersionsPerTrigger =
              Option(options.get("maxVersionsPerTrigger")).map(_.toInt),
            maxFilesPerTrigger =
              Option(options.get("maxFilesPerTrigger")).map(_.toInt),
            maxBytesPerTrigger =
              Option(options.get("maxBytesPerTrigger")).map(_.toLong))
      }
    }
  }

  override def toString: String = s"LakeFeedTable[$dir]"
}

private[sources] object LakeFeedTable {
  private[sources] def feedSchemaOf(dir: String): StructType = {
    val base = LakeTable.currentVersion(dir)
      .flatMap(LakeTable.logicalStructOf(dir, _))
      .orElse(LakeCatalog.readPending(dir).map(_.schema))
      .getOrElse(LakeTable.read(SparkSession.active, dir).schema)
    StructType(base.fields ++ Array(
      StructField("_change_type", StringType, nullable = false),
      StructField("_commit_version", LongType, nullable = false),
      StructField("_commit_timestamp", TimestampType, nullable = false)))
  }
}

/** Batch half of the `.changes` table: the retained history as one
  * frame — [[LakeTable.changesBetween]] over `(from, to]` (full history
  * by default), exactly the batch q_lake_changes surface behind a
  * catalog name; the V1 `readChangeFeed` relation passes explicit
  * bounds (r14). */
private[graft] class LakeChangesScanShim(ctx: SQLContext, dir: String,
                                         val schema: StructType,
                                         from: Option[Long] = None,
                                         to: Option[Long] = None)
    extends BaseRelation with TableScan {
  override def sqlContext: SQLContext = ctx

  private[graft] def innerFrame: org.apache.spark.sql.DataFrame = {
    val spark = ctx.sparkSession
    LakeTable.currentVersion(dir) match {
      case None =>
        // unborn table: an empty feed under the declared schema
        spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          schema)
      case Some(v) =>
        val lo = from.getOrElse(0L)
        val hi = to.getOrElse(v)
        require(hi >= lo,
          s"change-feed window is empty or inverted: ($lo, $hi]")
        // rows under the live version's names, the names `schema` holds
        LakeTable.changesBetween(spark, dir, lo, hi,
            Some(LakeTable.renamesOf(dir, v)))
          .select(schema.fieldNames.toIndexedSeq.map(LakeTable.byName): _*)
    }
  }

  override def buildScan()
      : org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = innerFrame.rdd
}

/** One feed work unit: one whole data file read as `insert` or `delete`
  * rows of one commit version. `emitOnly=true` partitions deliver ONLY
  * the rows whose position the listed sidecars name for this file (the
  * newly-vectored retractions of a DV commit); `emitOnly=false`
  * partitions deliver the file's rows EXCEPT those positions (the live
  * content of an added/removed file, read through its version's own
  * vector set). `sidecars` carries (absolute path, size) pairs; `relFile`
  * is the manifest-relative disk spelling the sidecar rows (URI-form)
  * decode to. */
private[sources] case class LakeFeedPartition(
    path: String, size: Long, relFile: String,
    changeType: String, version: Long, tsMicros: Long,
    emitOnly: Boolean,
    sidecars: Seq[(String, Long)]) extends InputPartition

/** `spark.readStream.table("<cat>.ns.t.changes")` — the DSv2 change-feed
  * micro-batch stream (r13, behavior 49). Offsets are commit versions
  * from [[LakeVersionCursor]], the core the V1 source and the rows-mode
  * V2 stream share, so exactly-once across restarts is version-window
  * replay. Each micro-batch mirrors [[LakeTable.changesBetween]]'s
  * arithmetic per [[LakeVersionCursor.Step]], but as
  * EXECUTOR work: optimize versions emit nothing; positions newly
  * vectored at v retract; removed files retract (read through the
  * PREVIOUS version's vectors); added files insert (read through v's
  * own). The driver touches only manifests and sidecar file-lists; every
  * row is read in a per-file task — at 100 TB a CDF batch costs one task
  * per touched file, never a table scan. Rows read under the CURRENT
  * table schema (additive evolution: old files null-fill, nothing is
  * ever dropped or retyped), so one reader closure serves every
  * version. */
private[sources] class LakeFeedMicroBatchStream(dir: String,
    tableSchema: StructType, startingVersion: Long,
    maxVersionsPerTrigger: Option[Int] = None,
    maxFilesPerTrigger: Option[Int] = None,
    maxBytesPerTrigger: Option[Long] = None)
    extends LakeVersionCursor(dir, startingVersion, maxVersionsPerTrigger,
                              maxFilesPerTrigger, maxBytesPerTrigger)
    with MicroBatchStream {

  override def planInputPartitions(start: Offset,
                                   end: Offset): Array[InputPartition] = {
    val from = versionOf(start)
    val to = versionOf(end)
    if (to <= from) return Array.empty
    val spark = SparkSession.active
    def abs(rel: String) = Paths.get(dir, rel)
    def sizedSidecars(rels: Seq[String]): Seq[(String, Long)] =
      rels.map(r => (abs(r).toString, Files.size(abs(r))))
    val steps = LakeVersionCursor.steps(dir, from, to).filterNot(_.optimize)
    steps.flatMap { s =>
      val v = s.v
      val ts = LakeTable.commitTimeOf(dir, v).getTime * 1000L
      def part(rel: String, kind: String, emitOnly: Boolean,
               sidecars: Seq[(String, Long)]) = {
        val p = abs(rel)
        LakeFeedPartition(p.toString, Files.size(p), rel, kind, v, ts,
                          emitOnly, sidecars)
      }
      // (a) retractions of the positions newly vectored at v — the
      // affected-file list is sidecar METADATA (driver-bounded, same
      // collect changesBetween runs); row reads stay on executors
      val dvParts =
        if (s.newDv.isEmpty) Seq.empty
        else {
          val sc = sizedSidecars(s.newDv)
          spark.read.parquet(s.newDv.map(r => abs(r).toString): _*)
            .select("file").distinct().collect()
            .map(r => LakeTable.percentDecode(r.getString(0)))
            .toSeq.sorted.map(part(_, "delete", emitOnly = true, sc))
        }
      // (b) the file-list diff, each side read through the vectors of
      // the version whose content it represents
      val delParts = s.removed.map(
        part(_, "delete", emitOnly = false, sizedSidecars(s.dvBefore)))
      val insParts = s.added.map(
        part(_, "insert", emitOnly = false, sizedSidecars(s.dvAfter)))
      dvParts ++ delParts ++ insParts
    }.toArray
  }

  // column mapping (r13): files carry PHYSICAL names; the reader closure
  // requests them positionally (InternalRows are nameless, so the logical
  // output shape is preserved for free). PINNED at stream construction
  // with the captured schema (r14, ADVICE r13): a mid-stream second
  // rename would otherwise miss the lookup under the stale logical name
  // and silently null-fill; renames are append-only per physical name,
  // so the pinned map stays correct for the captured schema.
  private val pinnedRenames = LakeTable.currentRenames(dir)

  override def createReaderFactory(): PartitionReaderFactory = {
    val renames = pinnedRenames
    val physSchema =
      if (renames.isEmpty) tableSchema
      else StructType(tableSchema.fields.map(f =>
        f.copy(name = LakeTable.physicalNameOf(renames, f.name))))
    new LakeFeedReaderFactory(
      FileReadShim.parquetReader(SparkSession.active, physSchema,
                                 physSchema, Seq.empty),
      FileReadShim.parquetReader(SparkSession.active,
        LakeFeedMicroBatchStream.sidecarSchema,
        LakeFeedMicroBatchStream.sidecarSchema, Seq.empty))
  }

  override def toString: String = s"LakeFeedMicroBatchStream[$dir]"
}

private[sources] object LakeFeedMicroBatchStream {
  private[sources] val sidecarSchema: StructType =
    StructType(Seq(StructField("file", StringType),
                   StructField("pos", LongType)))
}

/** Executor side of the feed: read the one file in order (whole-file
  * partitions — the running row index IS the stable position the
  * sidecars name), filter by the partition's position set, and append
  * the three feed stamps via a [[JoinedRow]] (the V2 scan exec projects
  * every row to unsafe on consumption, so wrapper reuse is safe). */
private[sources] class LakeFeedReaderFactory(
    dataReader: PartitionedFile => Iterator[InternalRow],
    sidecarReader: PartitionedFile => Iterator[InternalRow])
    extends PartitionReaderFactory {

  override def createReader(p: InputPartition)
      : PartitionReader[InternalRow] = {
    val fp = p.asInstanceOf[LakeFeedPartition]
    new PartitionReader[InternalRow] {
      private val positions: java.util.HashSet[Long] =
        if (fp.sidecars.isEmpty) null
        else {
          val set = new java.util.HashSet[Long]()
          fp.sidecars.foreach { case (path, size) =>
            val it = FileReadShim.rowsOf(
              sidecarReader(FileReadShim.wholeFile(path, size)))
            while (it.hasNext) {
              val r = it.next()
              if (LakeTable.percentDecode(r.getUTF8String(0).toString)
                    == fp.relFile)
                set.add(r.getLong(1))
            }
          }
          set
        }
      private val stamp = new GenericInternalRow(Array[Any](
        UTF8String.fromString(fp.changeType), fp.version, fp.tsMicros))
      private val joined = new JoinedRow
      private val it = FileReadShim.rowsOf(
        dataReader(FileReadShim.wholeFile(fp.path, fp.size)))
      private var pos = -1L
      private var cur: InternalRow = _

      private def keep: Boolean =
        if (fp.emitOnly) positions != null && positions.contains(pos)
        else positions == null || !positions.contains(pos)

      override def next(): Boolean = {
        while (it.hasNext) {
          cur = it.next()
          pos += 1L
          if (keep) return true
        }
        false
      }
      override def get(): InternalRow = joined(cur, stamp)
      override def close(): Unit = ()
    }
  }
}
