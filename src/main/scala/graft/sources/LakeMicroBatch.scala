package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.graftshim.FileReadShim
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** One whole data file of one pending version: the work unit of the V2
  * micro-batch scan. At 100 TB a micro-batch plans manifest ARITHMETIC
  * on the driver and ships one task per added file — the same
  * parallelism shape as Spark's own file sources. */
case class LakeFilePartition(path: String, size: Long) extends InputPartition

/** `spark.readStream.table("<lakeCatalog>.ns.t")` — the DataSourceV2
  * micro-batch read (r12, behavior 47): rows mode through the V2
  * catalog. Semantics match the session-catalog rows-mode stream
  * (behavior 46): plain table rows, APPEND-ONLY — a version that removes
  * or hides rows refuses loudly, `option("skipChangeCommits","true")`
  * drops such versions wholesale — and the append-only gate is manifest
  * arithmetic on the driver. Each micro-batch's partitions are the
  * pending versions' ADDED files, read on executors through Spark's own
  * serializable parquet reader closure ([[FileReadShim.parquetReader]] —
  * vectorized scan, column pruning via the builder's pruned schema, and
  * pushed filters as row-group pruning). Exactly-once is the engine's
  * offset log replaying immutable version windows; offsets, discovery,
  * rate limits and AvailableNow come from [[LakeVersionCursor]], the
  * same core as the V1 source. Added files of a non-change version are
  * DV-free by construction (a carried DV names only pre-existing files),
  * so no position filtering is needed on this path. */
class LakeMicroBatchStream(dir: String, dataSchema: StructType,
                           requiredSchema: StructType,
                           pushed: Seq[Filter],
                           startingVersion: Long,
                           skipChangeCommits: Boolean,
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
    val steps = LakeVersionCursor.steps(dir, from, to)
    val skip = LakeVersionCursor.appendOnly(dir, steps, skipChangeCommits)
    steps.filterNot(s => s.optimize || skip(s.v)).flatMap { s =>
      // file sizes from the manifest's recorded bytecounts (r15) —
      // zero per-trigger stats; pre-r15 manifests fall back to one
      val sizes = LakeTable.bytesOf(dir, s.v)
      s.added.map { f =>
        val p = Paths.get(dir, f)
        LakeFilePartition(p.toString, sizes.getOrElse(f, Files.size(p)))
      }
    }.toArray
  }

  // column mapping (r13): files carry PHYSICAL names — request them
  // positionally (InternalRows are nameless). Pushed filters name
  // LOGICAL columns; they are a row-group-pruning hint only, so on a
  // renamed table they drop rather than translate. The map is PINNED at
  // stream construction, together with the captured logical schema (r14,
  // ADVICE r13): a column renamed AGAIN mid-stream would otherwise miss
  // the lookup under its stale logical name and the parquet reader would
  // silently null-fill a nonexistent column. Renames are append-only per
  // physical name, so the pinned map stays correct for the captured
  // schema forever.
  private val pinnedRenames = LakeTable.currentRenames(dir)

  override def createReaderFactory(): PartitionReaderFactory = {
    val renames = pinnedRenames
    def phys(s: StructType): StructType =
      if (renames.isEmpty) s
      else StructType(s.fields.map(f =>
        f.copy(name = LakeTable.physicalNameOf(renames, f.name))))
    new LakeFileReaderFactory(FileReadShim.parquetReader(
      SparkSession.active, phys(dataSchema), phys(requiredSchema),
      if (renames.isEmpty) pushed else Seq.empty))
  }

  override def toString: String = s"LakeMicroBatchStream[$dir]"
}

/** `df.writeStream.toTable("<lakeCatalog>.ns.t")` — the DataSourceV2
  * STREAMING WRITE (r12, behavior 48): executor `DataWriter`s write real
  * parquet through Spark's own serializable
  * [[org.apache.spark.sql.execution.datasources.OutputWriterFactory]]
  * (`graftshim.FileWriteShim`) into an epoch-scoped staging directory,
  * and the driver's `commit(epochId, …)` publishes the collected files
  * as ONE serialized version with the epochId recorded as the per-query
  * sink watermark — data and idempotence handle land atomically, so a
  * replayed epoch publishes nothing (its staged files become orphans
  * vacuum reclaims; an aborted epoch deletes them eagerly). A lazy
  * writer that saw no row creates no file, so empty epochs publish
  * nothing and consume nothing — the engine-wide sink contract. Append
  * output mode appends (zero-rewrite carry); Complete mode (Spark calls
  * `truncate()` on the builder) makes each epoch a full overwrite. A
  * declared CHECK constraint gates each epoch's staged read-back
  * (O(epoch)). Layout-partitioned writes stream through
  * `writeStream.format("graft-lake").option("layoutBy", …)` — this
  * surface refuses on layout tables rather than silently dropping their
  * prune metadata. */
private[sources] class LakeStreamingWrite(dir: String, ident: String,
    schema: StructType, overwriteEachEpoch: Boolean, queryId: String,
    layoutBy: Option[String] = None)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write.{PhysicalWriteInfo, WriterCommitMessage}
  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

  private val writeUuid = java.util.UUID.randomUUID().toString

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : StreamingDataWriterFactory = {
    // column mapping (r13): epochs arrive in LOGICAL shape; files are
    // written under PHYSICAL names (positional — rows are nameless)
    val renames = LakeTable.currentRenames(dir)
    val physSchema =
      if (renames.isEmpty) schema
      else org.apache.spark.sql.types.StructType(schema.fields.map(f =>
        f.copy(name = LakeTable.physicalNameOf(renames, f.name))))
    val (factory, conf, ext) = org.apache.spark.sql.graftshim.FileWriteShim
      .parquetWriterFactory(SparkSession.active, physSchema)
    // layout tables (r13, behavior 50; r14 multi-column): executor
    // writers stage one file per layout value TUPLE under
    // `_layout=<v1>/_layout2=<v2>/…` path segments — the same prune
    // metadata stageFresh's Hive-partitioned write records, so partial
    // merges and skipping reads prune streamed files too
    val layoutIdx = LakeTable.layoutColsOf(layoutBy).map { c =>
      val i = physSchema.fieldNames.indexOf(c)
      require(i >= 0, s"layout column '$c' missing from the stream schema")
      i -> physSchema.fields(i).dataType
    }
    new LakeStreamingDataWriterFactory(dir, writeUuid, physSchema,
      factory, conf, ext, layoutIdx)
  }

  override def commit(epochId: Long,
                      messages: Array[WriterCommitMessage]): Unit = {
    val files = messages.flatMap {
      case LakeWriterMessage(fs) => fs
      case _ => Seq.empty
    }.toSeq
    val spark = SparkSession.active
    val pending = LakeCatalog.readPending(dir)
    val gate: org.apache.spark.sql.DataFrame => Option[String] = df =>
      pending.flatMap(_.check).flatMap { c =>
        // gate the staged read-back; for append the audit frame includes
        // carried files, so restrict the check to this epoch's rows via
        // a direct read of the fresh files (O(epoch))
        try {
          // staged files carry PHYSICAL names; the CHECK expression is
          // written against LOGICAL ones (r13)
          LakeCatalog.enforceCheck(LakeTable.toLogical(
            spark.read.parquet(
              files.map(f => java.nio.file.Paths.get(dir, f).toString): _*),
            LakeTable.currentRenames(dir)), c, ident)
          None
        } catch { case e: IllegalStateException => Some(e.getMessage) }
      }
    LakeTable.sinkCommitStaged(spark, dir, files,
        statsBy = pending.map(_.statsBy).getOrElse(Seq.empty),
        overwrite = overwriteEachEpoch,
        batch = epochId, sink = s"v2s-$queryId")(gate) match {
      case Right(_) => ()
      case Left(reason) => throw new IllegalStateException(
        s"streaming write into $ident failed at epoch $epochId: $reason")
    }
  }

  override def abort(epochId: Long,
                     messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case LakeWriterMessage(fs) => fs.foreach { f =>
        java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(dir, f))
      }
      case _ => ()
    }

  override def toString: String = s"LakeStreamingWrite[$dir]"
}

/** One staged file per (epoch, partition, task attempt) — the writer
  * opens lazily on the first row, so empty partitions stage nothing. */
private[sources] case class LakeWriterMessage(files: Seq[String])
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

private[sources] class LakeStreamingDataWriterFactory(
    dir: String, writeUuid: String, schema: StructType,
    factory: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
    conf: org.apache.spark.util.SerializableConfiguration, ext: String,
    layoutIdx: Seq[(Int, org.apache.spark.sql.types.DataType)] = Seq.empty)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
      // one lazily-opened writer per layout value ("" = flat table):
      // empty partitions stage nothing, and a layout table's files carry
      // the `_layout=<value>` path segment partial merges prune by
      private val writers = new java.util.HashMap[String,
        (org.apache.spark.sql.execution.datasources.OutputWriter, String)]()

      private def writerFor(row: InternalRow)
          : org.apache.spark.sql.execution.datasources.OutputWriter = {
        val seg = layoutIdx.zipWithIndex.map { case ((i, dt), n) =>
          require(!row.isNullAt(i),
            "layout column must be non-null on every streamed row")
          LakeTable.layoutShadow(n) + "=" +
            org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
              .escapePathName(String.valueOf(row.get(i, dt))) + "/"
        }.mkString
        var w = writers.get(seg)
        if (w == null) {
          val rel = s"data/$writeUuid-e$epochId/$seg" +
            f"part-$partitionId%05d-$taskId$ext"
          val abs = Paths.get(dir, rel)
          Files.createDirectories(abs.getParent)
          w = (org.apache.spark.sql.graftshim.FileWriteShim
            .newWriter(factory, abs.toString, schema, conf, partitionId),
            rel)
          writers.put(seg, w)
        }
        w._1
      }

      private def closeAll(): Unit = {
        writers.values().forEach(w => w._1.close())
      }
      private def rels: Seq[String] = {
        import scala.jdk.CollectionConverters._
        writers.values().asScala.map(_._2).toSeq.sorted
      }

      override def write(row: InternalRow): Unit = writerFor(row).write(row)

      override def commit()
          : org.apache.spark.sql.connector.write.WriterCommitMessage = {
        closeAll()
        val out = LakeWriterMessage(rels)
        writers.clear()
        out
      }

      override def abort(): Unit = {
        closeAll()
        rels.foreach(r => Files.deleteIfExists(Paths.get(dir, r)))
        writers.clear()
      }

      override def close(): Unit = {
        closeAll()
        writers.clear()
      }
    }
}

/** Ships Spark's own parquet-reader closure to tasks; each partition
  * reads its one whole file. The V2 scan exec projects every row to
  * unsafe on consumption, so the reader's mutable row reuse is safe. */
private[sources] class LakeFileReaderFactory(
    reader: PartitionedFile => Iterator[InternalRow])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val fp = p.asInstanceOf[LakeFilePartition]
    new PartitionReader[InternalRow] {
      private val it =
        FileReadShim.rowsOf(reader(FileReadShim.wholeFile(fp.path, fp.size)))
      private var cur: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { cur = it.next(); true } else false
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
  }
}
