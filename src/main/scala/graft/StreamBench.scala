package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.StreamOps

/** Streaming micro-benchmark: rows/sec through the three load-bearing
  * streaming shapes (stateless-ish windowed agg, stateful banded
  * near-dup, stream–stream interval join) under MemoryStream, fed in
  * fixed-size chunks so every run produces the same batch sequence.
  * Prints ONE JSON line with per-op rows/sec plus per-batch floor/ceiling
  * throughput from StreamingQueryProgress — the BASELINE.md record the
  * batch-only Bench can't provide. A 2× floor-vs-median per-batch
  * collapse assertion lives in StreamingSpec; this main just measures.
  *
  * Env: SPARK_GRAFT_STREAM_EVENTS (default 200000),
  * SPARK_GRAFT_STREAM_DOCS (default 20000), SPARK_GRAFT_CPUS (32). */
object StreamBench {

  private def r3(v: Double): Double = math.round(v * 1000.0) / 1000.0

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val nEvents = sys.env.getOrElse("SPARK_GRAFT_STREAM_EVENTS", "200000").toInt
    val nDocs = sys.env.getOrElse("SPARK_GRAFT_STREAM_DOCS", "20000").toInt
    val spark = Sessions.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    implicit val ctx = spark.sqlContext

    def ts(s: Long): java.sql.Timestamp = new java.sql.Timestamp(s)
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime

    // one chunk = one micro-batch: deterministic batch sequence
    def drive[A](name: String, chunks: Seq[Seq[A]],
                 q: MemoryStream[A] => DataFrame)(
                 implicit enc: org.apache.spark.sql.Encoder[A]): String = {
      val ms = MemoryStream[A]
      val query = q(ms).writeStream.format("noop").start()
      val n = chunks.map(_.size).sum
      val start = System.nanoTime()
      chunks.foreach { c => ms.addData(c); query.processAllAvailable() }
      val sec = (System.nanoTime() - start) / 1e9
      val perBatch = query.recentProgress.toSeq
        .filter(_.numInputRows > 0).map(_.processedRowsPerSecond)
      query.stop()
      val floor = if (perBatch.nonEmpty) perBatch.min else 0.0
      val ceil = if (perBatch.nonEmpty) perBatch.max else 0.0
      s""""$name":{"rows":$n,"sec":${r3(sec)},"rows_per_sec":${r3(n / sec)},""" +
        s""""batches":${perBatch.size},"batch_floor_rps":${r3(floor)},""" +
        s""""batch_ceil_rps":${r3(ceil)}}"""
    }

    // windowed agg: events spread over hours, 10 equal chunks
    val events = (0 until nEvents).map { i =>
      StreamOps.Event(i.toLong, ts(t0 + i.toLong * 500),
        (i % 997).toLong, Seq("click", "view", "purchase")(i % 3),
        (i % 100) / 10.0, """{"k": 1}""")
    }
    val tumbling = drive("tumbling_agg", events.grouped(nEvents / 10).toSeq,
      (ms: MemoryStream[StreamOps.Event]) => StreamOps.tumblingCounts(ms.toDF()))

    // per-window OHLC candle state (min_by/max_by with string tie keys):
    // heavier per-row expression work than tumbling_agg, same O(1) state
    val ohlc = drive("tumbling_ohlc", events.grouped(nEvents / 10).toSeq,
      (ms: MemoryStream[StreamOps.Event]) => StreamOps.tumblingOhlc(ms.toDF()))

    // stateful banded near-dup: every 10th doc mutates the previous one
    val docs = (0 until nDocs).map { i =>
      val base = if (i % 10 == 9) i - 1 else i
      val toks = (0 until 40).map { j =>
        if (i % 10 == 9 && j == base % 38 + 1) s"mut$i"
        else s"w${(base * 131 + j * 7919) % 5000}"
      }
      StreamOps.DocEvent(i.toLong, ts(t0 + i.toLong * 1000), toks.mkString(" "))
    }
    val nearDup = drive("near_dup", docs.grouped(nDocs / 10).toSeq,
      (ms: MemoryStream[StreamOps.DocEvent]) =>
        StreamOps.streamingNearDup(spark, ms.toDF(), 0.5).toDF())

    // stream–stream interval join: click then purchase 30 s later
    val joinEvents = (0 until nEvents).flatMap { i =>
      val uid = (i % 4999).toLong
      Seq(StreamOps.Event(i.toLong * 2, ts(t0 + i.toLong * 500), uid,
            "click", 1.0, "{}"),
          StreamOps.Event(i.toLong * 2 + 1, ts(t0 + i.toLong * 500 + 30000),
            uid, "purchase", 2.0, "{}"))
    }
    val ssJoin = drive("stream_stream_join",
      joinEvents.grouped(joinEvents.size / 10).toSeq,
      (ms: MemoryStream[StreamOps.Event]) =>
        StreamOps.purchaseAfterClick(ms.toDF()))

    // per-key quota gate (behavior 29): flatMapGroupsWithState admission
    // control — one counter per live (user, window) key
    val quota = drive("quota_gate", events.grouped(nEvents / 10).toSeq,
      (ms: MemoryStream[StreamOps.Event]) =>
        StreamOps.quotaGate(spark, ms.toDF(), 50L).toDF())

    // stream–stream AS-OF join (behavior 31): per-key dim buffer +
    // watermark-gated pending-fact buffer in flatMapGroupsWithState —
    // the costliest state shape (facts hold until the watermark passes
    // them), driven with both sides advancing in lockstep so each chunk
    // finalizes the previous one's facts
    val asof = {
      val nKeys = 997
      val dims = (0 until nEvents / 10).map(i =>
        StreamOps.DimUpd((i % nKeys).toLong, ts(t0 + i.toLong * 5000),
                         (i % 100).toDouble))
      val facts = (0 until nEvents).map(i =>
        StreamOps.FactRow((i % nKeys).toLong, ts(t0 + i.toLong * 500)))
      val dimMs = MemoryStream[StreamOps.DimUpd]
      val factMs = MemoryStream[StreamOps.FactRow]
      val query = StreamOps.streamingAsofJoin(spark, factMs.toDF(), dimMs.toDF())
        .toDF().writeStream.format("noop").start()
      val n = dims.size + facts.size
      val start = System.nanoTime()
      dims.grouped(dims.size / 10).toSeq
        .zip(facts.grouped(facts.size / 10).toSeq)
        .foreach { case (d, f) =>
          dimMs.addData(d); factMs.addData(f); query.processAllAvailable()
        }
      val sec = (System.nanoTime() - start) / 1e9
      val perBatch = query.recentProgress.toSeq
        .filter(_.numInputRows > 0).map(_.processedRowsPerSecond)
      query.stop()
      val floor = if (perBatch.nonEmpty) perBatch.min else 0.0
      val ceil = if (perBatch.nonEmpty) perBatch.max else 0.0
      s""""asof_join":{"rows":$n,"sec":${r3(sec)},"rows_per_sec":${r3(n / sec)},""" +
        s""""batches":${perBatch.size},"batch_floor_rps":${r3(floor)},""" +
        s""""batch_ceil_rps":${r3(ceil)}}"""
    }

    // state-store provider A/B (r6 verdict ask #6): re-run the two
    // stateFUL shapes on the RocksDB provider. The default HDFS-backed
    // store keeps every version's map on-heap — at 100 TB state size
    // that heap IS the streaming scale-killer; RocksDB spills to native
    // memory + local SSD and is what production runs. Same queries, same
    // chunks, same floor/ceiling record — only the provider conf flips
    // (read at query start, so a per-run set/unset is a clean A/B).
    val rocksdb = "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider"
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", rocksdb)
    val nearDupR = drive("near_dup_rocksdb", docs.grouped(nDocs / 10).toSeq,
      (ms: MemoryStream[StreamOps.DocEvent]) =>
        StreamOps.streamingNearDup(spark, ms.toDF(), 0.5).toDF())
    val quotaR = drive("quota_gate_rocksdb", events.grouped(nEvents / 10).toSeq,
      (ms: MemoryStream[StreamOps.Event]) =>
        StreamOps.quotaGate(spark, ms.toDF(), 50L).toDF())
    spark.conf.unset("spark.sql.streaming.stateStore.providerClass")

    // registered lake sink + source (r10): rows/sec THROUGH the commit
    // protocol (merge mode — every batch pays stage→audit→publish and a
    // same-key upsert against the live version) and back out through the
    // change-feed streaming read. Not comparable to the in-memory shapes
    // above: each input row here costs a durable table commit share, and
    // each output row a manifest-diff read — the honest price of
    // exactly-once persistence, measured rather than hand-waved.
    val lakeSinkSrc = {
      val dir = graft.ops.TempDirs.create("graft_streambench_lake_")
      val cpW = graft.ops.TempDirs.create("graft_streambench_lakew_")
      val cpR = graft.ops.TempDirs.create("graft_streambench_laker_")
      import org.apache.spark.sql.functions.col
      // chunk ≤ key modulus: merge mode audits per-batch key uniqueness,
      // so a chunk larger than 5000 rows would repeat a key inside one
      // micro-batch and fail the audit; the max(1, ...) floor keeps
      // grouped() legal down to a 1-row run (ADVICE r10)
      val rows = (0 until nDocs).map(i => (i.toLong % 5000L, i.toLong))
      val chunk = math.max(1, math.min(5000, rows.size / 10))
      val ms = MemoryStream[(Long, Long)]
      val w = ms.toDS().toDF("k", "v")
        .withColumn("band", col("k") % 16)
        .writeStream.format("graft-lake")
        .option("path", dir).option("checkpointLocation", cpW)
        .option("commitMode", "merge")
        .option("keys", "k").option("layoutBy", "band")
        .start()
      val startW = System.nanoTime()
      rows.grouped(chunk).foreach { c =>
        ms.addData(c); w.processAllAvailable()
      }
      val secW = (System.nanoTime() - startW) / 1e9
      w.stop()
      val r = spark.readStream.format("graft-lake").option("path", dir)
        .load().writeStream.format("noop")
        .option("checkpointLocation", cpR).start()
      val startR = System.nanoTime()
      r.processAllAvailable()
      val secR = (System.nanoTime() - startR) / 1e9
      val feedRows = r.recentProgress.toSeq.map(_.numInputRows).sum
      r.stop()
      s""""lake_sink_merge":{"rows":${rows.size},"sec":${r3(secW)},""" +
        s""""rows_per_sec":${r3(rows.size / secW)}},""" +
        s""""lake_source_feed":{"rows":$feedRows,"sec":${r3(secR)},""" +
        s""""rows_per_sec":${r3(feedRows / secR)}}"""
    }

    // DSv2 catalog streaming pair (r12, behaviors 47/48): rows/sec
    // through `writeStream.toTable` (executor parquet DataWriters + one
    // serialized epoch commit with the epochId watermark) and back out
    // through `readStream.table`'s per-file micro-batch scan. Append
    // mode, flat table — the zero-rewrite epoch shape; same honest
    // durable-commit pricing note as the format sink above.
    val v2Pair = {
      val cat = "graft_streambench_cat"
      val wh = graft.ops.TempDirs.create("graft_streambench_v2wh_")
      spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.LakeCatalog")
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      spark.sql(s"CREATE TABLE $cat.default.sb (k BIGINT, v BIGINT)")
      val cpW = graft.ops.TempDirs.create("graft_streambench_v2w_")
      val cpR = graft.ops.TempDirs.create("graft_streambench_v2r_")
      val rows = (0 until nDocs).map(i => (i.toLong, i.toLong))
      val chunk = math.max(1, rows.size / 10)
      val ms = MemoryStream[(Long, Long)]
      val w = ms.toDS().toDF("k", "v").writeStream
        .option("checkpointLocation", cpW)
        .toTable(s"$cat.default.sb")
      val startW = System.nanoTime()
      rows.grouped(chunk).foreach { c =>
        ms.addData(c); w.processAllAvailable()
      }
      val secW = (System.nanoTime() - startW) / 1e9
      w.stop()
      val r = spark.readStream.table(s"$cat.default.sb")
        .writeStream.format("noop")
        .option("checkpointLocation", cpR).start()
      val startR = System.nanoTime()
      r.processAllAvailable()
      val secR = (System.nanoTime() - startR) / 1e9
      val readRows = r.recentProgress.toSeq.map(_.numInputRows).sum
      r.stop()
      s""""lake_v2_table_write":{"rows":${rows.size},"sec":${r3(secW)},""" +
        s""""rows_per_sec":${r3(rows.size / secW)}},""" +
        s""""lake_v2_table_read":{"rows":$readRows,"sec":${r3(secR)},""" +
        s""""rows_per_sec":${r3(readRows / secR)}}"""
    }

    // DSv2 change-feed read (r13, behavior 49): rows/sec draining the
    // `ns.t.changes` suffix table's full history — per-file tasks with
    // the three stamps joined on, the catalog-first CDF subscription.
    // Reuses the v2Pair's table (written just above) so the measured
    // feed covers a real multi-epoch history.
    val v2Feed = {
      val cat = "graft_streambench_cat"
      val cpF = graft.ops.TempDirs.create("graft_streambench_v2f_")
      val r = spark.readStream.table(s"$cat.default.sb.changes")
        .writeStream.format("noop")
        .option("checkpointLocation", cpF).start()
      val startR = System.nanoTime()
      r.processAllAvailable()
      val secR = (System.nanoTime() - startR) / 1e9
      val rows = r.recentProgress.toSeq.map(_.numInputRows).sum
      r.stop()
      s""""lake_v2_changes_read":{"rows":$rows,"sec":${r3(secR)},""" +
        s""""rows_per_sec":${r3(rows / secR)}}"""
    }

    println(s"""{"metric":"stream","events":$nEvents,"docs":$nDocs,""" +
      s""""ops":{$tumbling,$ohlc,$nearDup,$ssJoin,$quota,$asof,""" +
      s"""$nearDupR,$quotaR,$lakeSinkSrc,$v2Pair,$v2Feed}}""")
    spark.stop()
  }
}
