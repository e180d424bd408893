package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.StreamOps
import graft.streaming.StreamOps.Event
import java.nio.file.Files

/** §3 E3 durability semantics: the checkpoint WAL is the cross-restart
  * boundary, and the RocksDB state store is the production state backend.
  */
class StreamingDurabilitySpec extends SparkTestBase {

  private def ev(id: Long, t: String, uid: Long, typ: String, v: Double) =
    Event(id, ts(t), uid, typ, v, """{"k": 1}""")

  test("checkpointed file-sink query resumes exactly-once across restart") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val chk = Files.createTempDirectory("graft_chk").toString
    val out = Files.createTempDirectory("graft_out").toString
    val ms = MemoryStream[Event]
    val agg = StreamOps.tumblingCounts(ms.toDF())
    def start() = agg.writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", chk)
      .outputMode("append").start()
    val q1 = start()
    ms.addData(
      ev(1, "2024-01-01 10:05:00", 1, "click", 1.0),
      ev(2, "2024-01-01 10:10:00", 1, "click", 2.0))
    q1.processAllAvailable()
    ms.addData(ev(3, "2024-01-01 13:00:00", 1, "view", 1.0)) // close 10:00 win
    q1.processAllAvailable()
    q1.stop()

    // restart from the same checkpoint (offsets in the WAL mark committed
    // batches) with new data closing the 13:00 window
    ms.addData(ev(4, "2024-01-01 16:00:00", 2, "view", 1.0))
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    val rows = spark.read.parquet(out)
      .select("win_start", "event_type", "n")
      .collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toList
    // exactly-once: the 10:00 window appears once despite the restart, and
    // the 13:00 window (closed after restart) appears once
    assert(rows.count(_ == ("2024-01-01 10:00:00.0", "click", 2L)) == 1,
      s"10:00 window must appear exactly once: $rows")
    assert(rows.count(_ == ("2024-01-01 13:00:00.0", "view", 1L)) == 1,
      s"13:00 window must appear exactly once after restart: $rows")
  }

  test("foreachBatch idempotent write: epoch replay after a crash adds no duplicates") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val chk = Files.createTempDirectory("graft_chk_eo").toString
    val out = Files.createTempDirectory("graft_out_eo").toString
    val ms = MemoryStream[Event]
    val injected = new java.util.concurrent.atomic.AtomicBoolean(false)
    def start() = ms.toDF().writeStream
      .option("checkpointLocation", chk)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        StreamOps.writeBatchIdempotent(b, out, id)
        // crash AFTER the data landed but BEFORE the epoch commits: the
        // replayed epoch re-runs with the SAME batchId and must overwrite
        // its own partition, not append a second copy
        if (id == 1 && injected.compareAndSet(false, true))
          throw new RuntimeException("injected post-write pre-commit failure")
      }
      .start()
    val q1 = start()
    ms.addData(
      ev(1, "2024-01-01 10:00:00", 1, "click", 1.0),
      ev(2, "2024-01-01 10:01:00", 1, "click", 2.0))
    q1.processAllAvailable() // batch 0 commits
    ms.addData(ev(3, "2024-01-01 10:02:00", 2, "view", 3.0))
    intercept[Exception] { q1.processAllAvailable() } // batch 1 crashes
    q1.stop()
    assert(injected.get, "fault injection never fired")
    val q2 = start() // WAL holds batch 1's offsets; it replays with id 1
    q2.processAllAvailable()
    q2.stop()
    val ids = spark.read.parquet(out).select("event_id").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L),
      s"replayed epoch must overwrite, not duplicate: $ids")
  }

  test("streaming lake merge: crash-replay around the atomic publish never double-applies") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val chk = Files.createTempDirectory("graft_chk_lm").toString
    val lake = Files.createTempDirectory("graft_lake_m").toString
    val ms = MemoryStream[Event]
    // two injected crashes: one BEFORE the commit touches the lake
    // (epoch must re-merge on replay) and one AFTER publish but before
    // the epoch's WAL commit (replay must SKIP via the manifest's batch
    // watermark — the double-apply hazard this sink exists to close)
    val preCrash = new java.util.concurrent.atomic.AtomicBoolean(false)
    val postCrash = new java.util.concurrent.atomic.AtomicBoolean(false)
    def start() = ms.toDF().writeStream
      .option("checkpointLocation", chk)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        if (id == 1 && preCrash.compareAndSet(false, true))
          throw new RuntimeException("injected pre-merge failure")
        StreamOps.mergeBatchIntoLake(spark, lake, b, Seq("user_id"), id)
        if (id == 2 && postCrash.compareAndSet(false, true))
          throw new RuntimeException("injected post-publish pre-commit failure")
      }
      .start()
    var q = start()
    ms.addData(
      ev(1, "2024-01-01 10:00:00", 1, "click", 1.0),
      ev(2, "2024-01-01 10:00:30", 2, "view", 2.0))
    q.processAllAvailable() // epoch 0: initial publish
    ms.addData(ev(3, "2024-01-01 10:01:00", 1, "view", 9.0)) // upsert user 1
    intercept[Exception] { q.processAllAvailable() } // epoch 1 pre-merge crash
    q.stop(); q = start()
    q.processAllAvailable() // epoch 1 replays, merges this time
    ms.addData(ev(4, "2024-01-01 10:02:00", 3, "click", 4.0))
    intercept[Exception] { q.processAllAvailable() } // epoch 2 crashes POST-publish
    q.stop()
    val vAfterCrash = graft.sources.LakeTable.currentVersion(lake)
    q = start() // WAL replays epoch 2; watermark says it's applied → skip
    q.processAllAvailable()
    ms.addData(ev(5, "2024-01-01 10:03:00", 2, "purchase", 7.0)) // upsert user 2
    q.processAllAvailable()
    q.stop()
    assert(preCrash.get && postCrash.get, "fault injections never fired")
    // replayed epoch 2 must not have produced a second version
    assert(graft.sources.LakeTable.appliedBatch(lake).contains(3L),
      s"final watermark must be epoch 3: ${graft.sources.LakeTable.appliedBatch(lake)}")
    assert(graft.sources.LakeTable.currentVersion(lake) == vAfterCrash.map(_ + 1),
      "replayed epoch 2 must be skipped: exactly one more version after restart")
    // end state: latest row per user, read THROUGH the manifest
    val rows = graft.sources.LakeTable.read(spark, lake)
      .select("user_id", "event_id", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows == Set((1L, 3L, 9.0), (2L, 5L, 7.0), (3L, 4L, 4.0)),
      s"merged table must hold the per-key latest rows exactly once: $rows")
  }

  test("streaming partial lake merge: carry-over files survive crash-replay") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val ctx = spark.sqlContext
    val chk = Files.createTempDirectory("graft_chk_pm").toString
    val lake = Files.createTempDirectory("graft_lake_pm").toString
    val ms = MemoryStream[Event]
    val crash = new java.util.concurrent.atomic.AtomicBoolean(false)
    def start() = ms.toDF().writeStream
      .option("checkpointLocation", chk)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        StreamOps.mergeBatchIntoLakePartial(
          spark, lake, b.withColumn("band", pmod(col("user_id"), lit(2))),
          Seq("user_id"), "band", id)
        // crash AFTER the publish, BEFORE the epoch's WAL commit — the
        // replay must skip via the manifest batch watermark
        if (id == 1 && crash.compareAndSet(false, true))
          throw new RuntimeException("injected post-publish failure")
        ()
      }
      .start()
    var q = start()
    ms.addData(
      ev(1, "2024-01-01 10:00:00", 1, "click", 1.0),   // band 1
      ev(2, "2024-01-01 10:00:30", 2, "view", 2.0),    // band 0
      ev(3, "2024-01-01 10:00:45", 4, "view", 3.0))    // band 0
    q.processAllAvailable() // epoch 0: initial layouted publish
    val v1Files = graft.sources.LakeTable.currentFiles(lake)
    assert(v1Files.flatMap(graft.sources.LakeTable.layoutValueOf)
             .toSet == Set("0", "1"), s"layouted initial version: $v1Files")
    // epoch 1 touches band 1 only, then crashes post-publish
    ms.addData(ev(4, "2024-01-01 10:01:00", 1, "purchase", 9.0))
    intercept[Exception] { q.processAllAvailable() }
    q.stop()
    val v2Files = graft.sources.LakeTable.currentFiles(lake)
    val carried = v2Files.filter(v1Files.contains)
    assert(carried.nonEmpty
             && carried.forall(f =>
                  graft.sources.LakeTable.layoutValueOf(f).contains("0")),
      s"band-0 files must carry over verbatim: $carried")
    q = start() // WAL replays epoch 1 → watermark says applied → skip
    q.processAllAvailable()
    ms.addData(ev(5, "2024-01-01 10:02:00", 2, "purchase", 7.0)) // band 0
    q.processAllAvailable()
    q.stop()
    assert(crash.get, "fault injection never fired")
    assert(graft.sources.LakeTable.appliedBatch(lake).contains(2L))
    // end state: per-user latest, exactly once, through the manifest
    val rows = graft.sources.LakeTable.read(spark, lake)
      .select("user_id", "event_id", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows == Set((1L, 4L, 9.0), (2L, 5L, 7.0), (4L, 3L, 3.0)),
      s"partial-merged table must hold per-key latest exactly once: $rows")
    // and epoch 2's band-0 rewrite must in turn carry epoch 1's band-1 file
    val v3Files = graft.sources.LakeTable.currentFiles(lake)
    assert(v3Files.exists(f => v2Files.contains(f)
             && graft.sources.LakeTable.layoutValueOf(f).contains("1")),
      "the band-1 file from epoch 1 must carry into epoch 2's version")
  }

  test("auto-OPTIMIZE under streaming ingest keeps the watermark and file bound") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val ctx = spark.sqlContext
    val chk = Files.createTempDirectory("graft_chk_ac").toString
    val lake = Files.createTempDirectory("graft_lake_ac").toString
    val crash = new java.util.concurrent.atomic.AtomicBoolean(false)
    val ms = MemoryStream[Event]
    def start() = ms.toDF().writeStream
      .option("checkpointLocation", chk)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        StreamOps.mergeBatchIntoLakePartial(
          spark, lake, b.withColumn("band", pmod(col("user_id"), lit(2))),
          Seq("user_id"), "band", id, compactOver = Some(2))
        // the dangerous window: compaction ran INSIDE the epoch, then
        // the process dies before the epoch's WAL commit — the replayed
        // epoch must still read "applied" from the COMPACTED manifest
        if (id == 1 && crash.compareAndSet(false, true))
          throw new RuntimeException("injected post-compaction failure")
        ()
      }
      .start()
    var q = start()
    ms.addData(
      ev(1, "2024-01-01 10:00:00", 1, "click", 1.0),
      ev(2, "2024-01-01 10:00:30", 2, "view", 2.0),
      ev(3, "2024-01-01 10:00:45", 4, "view", 3.0))
    q.processAllAvailable() // epoch 0
    ms.addData(ev(4, "2024-01-01 10:01:00", 3, "purchase", 9.0))
    intercept[Exception] { q.processAllAvailable() } // epoch 1 + compact, crash
    q.stop()
    // compaction happened (file count > 2 triggered it), and the
    // compacted manifest CARRIES epoch 1's watermark
    assert(graft.sources.LakeTable.appliedBatch(lake).contains(1L),
      "the compacted version must carry the applied-batch watermark")
    val compactedFiles = graft.sources.LakeTable.currentFiles(lake)
    assert(compactedFiles.size <= 2,
      s"layout-preserving compaction leaves one file per band: $compactedFiles")
    assert(compactedFiles.forall(f =>
      graft.sources.LakeTable.layoutValueOf(f).nonEmpty),
      "compaction must preserve the layout metadata")
    val vAfterCrash = graft.sources.LakeTable.currentVersion(lake)
    q = start() // WAL replays epoch 1 → the carried watermark says skip
    q.processAllAvailable()
    assert(graft.sources.LakeTable.currentVersion(lake) == vAfterCrash,
      "the replayed epoch must be a no-op after compaction")
    ms.addData(ev(5, "2024-01-01 10:02:00", 2, "purchase", 7.0))
    q.processAllAvailable()
    q.stop()
    assert(crash.get, "fault injection never fired")
    val rows = graft.sources.LakeTable.read(spark, lake)
      .select("user_id", "event_id", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows == Set((1L, 1L, 1.0), (2L, 5L, 7.0), (3L, 4L, 9.0),
                       (4L, 3L, 3.0)),
      s"each key's latest exactly once through crash + compaction: $rows")
  }

  test("partial CDC apply: tombstones prune their band only; carried files untouched") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val ctx = spark.sqlContext
    val chk = Files.createTempDirectory("graft_chk_cdcp").toString
    val lake = Files.createTempDirectory("graft_lake_cdcp").toString
    val crash = new java.util.concurrent.atomic.AtomicBoolean(false)
    val ms = MemoryStream[Event]
    def start() = ms.toDF().writeStream
      .option("checkpointLocation", chk)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        StreamOps.applyCdcIntoLakePartial(
          spark, lake,
          b.withColumn("op", col("event_type"))
            .withColumn("band", pmod(col("user_id"), lit(2))),
          Seq("user_id"), "band", id)
        // crash AFTER the delete-carrying epoch published, BEFORE its
        // WAL commit: replay must skip via the watermark — a re-applied
        // delete would pass silently, so the version count catches it
        if (id == 1 && crash.compareAndSet(false, true))
          throw new RuntimeException("injected post-publish failure")
        ()
      }
      .start()
    var q = start()
    ms.addData(
      ev(1, "2024-01-01 10:00:00", 1, "U", 1.0),  // band 1
      ev(2, "2024-01-01 10:00:30", 2, "U", 2.0),  // band 0
      ev(3, "2024-01-01 10:00:45", 4, "U", 3.0))  // band 0
    q.processAllAvailable() // epoch 0
    val v1Files = graft.sources.LakeTable.currentFiles(lake)
    // epoch 1: tombstone user 4 — touches band 0 ONLY
    ms.addData(ev(4, "2024-01-01 10:01:00", 4, "D", 0.0))
    intercept[Exception] { q.processAllAvailable() }
    q.stop()
    val v2Files = graft.sources.LakeTable.currentFiles(lake)
    assert(v2Files.exists(f => v1Files.contains(f)
             && graft.sources.LakeTable.layoutValueOf(f).contains("1")),
      "the band-1 file must carry over through the delete epoch")
    val vAfterCrash = graft.sources.LakeTable.currentVersion(lake)
    q = start() // replayed delete epoch must skip
    q.processAllAvailable()
    assert(graft.sources.LakeTable.currentVersion(lake) == vAfterCrash,
      "the replayed delete epoch must not mint a new version")
    ms.addData(ev(5, "2024-01-01 10:02:00", 5, "U", 7.0)) // band 1 upsert
    q.processAllAvailable()
    q.stop()
    assert(crash.get, "fault injection never fired")
    val rows = graft.sources.LakeTable.read(spark, lake)
      .select("user_id", "event_id", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows == Set((1L, 1L, 1.0), (2L, 2L, 2.0), (5L, 5L, 7.0)),
      s"user 4 deleted exactly once, others intact: $rows")
  }

  test("streaming CDC apply: deletes survive crash-replay and in-batch races") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val chk = Files.createTempDirectory("graft_chk_cdc").toString
    val lake = Files.createTempDirectory("graft_lake_cdc").toString
    val ms = MemoryStream[Event]
    // op rides event_type: 'D' = tombstone, anything else upserts
    val crash = new java.util.concurrent.atomic.AtomicBoolean(false)
    def start() = ms.toDF().writeStream
      .option("checkpointLocation", chk)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        StreamOps.applyCdcIntoLake(
          spark, lake,
          b.withColumn("op", org.apache.spark.sql.functions.col("event_type")),
          Seq("user_id"), id)
        // crash AFTER the delete-carrying epoch published but BEFORE its
        // WAL commit: the replay must skip, not re-apply (a re-applied
        // delete would also pass silently — the version count catches it)
        if (id == 1 && crash.compareAndSet(false, true))
          throw new RuntimeException("injected post-publish failure")
      }
      .start()
    var q = start()
    ms.addData(
      ev(1, "2024-01-01 10:00:00", 1, "ins", 1.0),
      ev(2, "2024-01-01 10:00:10", 2, "ins", 2.0))
    q.processAllAvailable() // epoch 0: two inserts
    ms.addData(
      ev(3, "2024-01-01 10:01:00", 1, "upd", 9.0),
      ev(4, "2024-01-01 10:01:10", 2, "D", 0.0)) // tombstone user 2
    intercept[Exception] { q.processAllAvailable() } // epoch 1 post-publish crash
    q.stop()
    val vAfterCrash = graft.sources.LakeTable.currentVersion(lake)
    q = start() // replays epoch 1; manifest watermark says applied → skip
    q.processAllAvailable()
    // epoch 2: new key, plus a delete-then-reinsert RACE on user 1 inside
    // one batch — the (ts, event_id)-max row (the reinsert) must win
    ms.addData(
      ev(5, "2024-01-01 10:02:00", 3, "ins", 4.0),
      ev(6, "2024-01-01 10:02:10", 1, "D", 0.0),
      ev(7, "2024-01-01 10:02:20", 1, "ins", 7.0))
    q.processAllAvailable()
    q.stop()
    assert(crash.get, "fault injection never fired")
    assert(graft.sources.LakeTable.currentVersion(lake) == vAfterCrash.map(_ + 1),
      "replayed delete epoch must be skipped: exactly one more version")
    val rows = graft.sources.LakeTable.read(spark, lake)
      .select("user_id", "event_id", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // user 2 deleted; user 1 = the reinsert that beat its same-batch
    // tombstone; user 3 inserted
    assert(rows == Set((1L, 7L, 7.0), (3L, 5L, 4.0)),
      s"CDC fold must equal one-at-a-time replay: $rows")
    // FULL-TRUNCATE epoch (r15, behavior 34): a CDC batch that
    // tombstones every key PUBLISHES an empty version — legal since
    // the schema rides the manifest — that still reads with the right
    // shape; a replay of the wipe epoch is skipped (the table stays
    // dead); the next epoch repopulates normally
    import spark.implicits._
    val schemaBefore = graft.sources.LakeTable.read(spark, lake).schema
    val wipe = Seq(ev(8, "2024-01-01 10:03:00", 1, "D", 0.0),
                   ev(9, "2024-01-01 10:03:10", 3, "D", 0.0))
      .toDF().withColumn("op",
        org.apache.spark.sql.functions.col("event_type"))
    val wipedV = StreamOps.applyCdcIntoLake(spark, lake, wipe,
      Seq("user_id"), 99L)
    assert(wipedV.nonEmpty, "a full wipe must publish an empty version")
    val empty = graft.sources.LakeTable.read(spark, lake)
    assert(empty.count() == 0L, "the wiped table is empty")
    assert(empty.schema.fields.map(f => (f.name, f.dataType)).toSeq
      == schemaBefore.fields.map(f => (f.name, f.dataType)).toSeq,
      "the empty version must keep the declared column names and types")
    // replay of the wipe epoch: the watermark says applied — skipped,
    // the table stays dead, no version minted
    assert(StreamOps.applyCdcIntoLake(spark, lake, wipe,
      Seq("user_id"), 99L).isEmpty, "a replayed wipe must be skipped")
    assert(graft.sources.LakeTable.read(spark, lake).count() == 0L)
    // DV DML against the zero-file version (ADVICE r15): liveTagged must
    // plan over the empty tagged frame, not crash on files.head /
    // _metadata — non-strict DELETE is a clean no-op returning the live
    // version, strict DELETE refuses with the nothing-matched message
    val wipedLive = graft.sources.LakeTable.currentVersion(lake).get
    assert(graft.sources.LakeTable.deleteWhereDv(spark, lake,
      org.apache.spark.sql.functions.col("user_id") === 7L)(_ => None)
      == Right(wipedLive),
      "non-strict DELETE on a truncated table must no-op to the live version")
    assert(graft.sources.LakeTable.deleteWhereDv(spark, lake,
      org.apache.spark.sql.functions.col("user_id") === 7L,
      strict = true)(_ => None).isLeft,
      "strict DELETE on a truncated table must refuse, not crash")
    // the next epoch repopulates the empty table
    val revive = Seq(ev(10, "2024-01-01 10:04:00", 7, "ins", 5.0))
      .toDF().withColumn("op",
        org.apache.spark.sql.functions.col("event_type"))
    assert(StreamOps.applyCdcIntoLake(spark, lake, revive,
      Seq("user_id"), 100L).nonEmpty)
    val revived = graft.sources.LakeTable.read(spark, lake)
      .select("user_id", "value").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(revived == Set((7L, 5.0)),
      s"the epoch after a truncate must repopulate: $revived")
    // the LAYOUTED twin (applyCdcIntoLakePartial) takes the same wipe
    // through the partial-rewrite engine: an empty version under the
    // declared schema, a skipped replay, then a repopulating epoch
    val lakeP = Files.createTempDirectory("graft_lake_cdc_wipep").toString
    def banded(es: Event*) = es.toDF()
      .withColumn("op", org.apache.spark.sql.functions.col("event_type"))
      .withColumn("band", org.apache.spark.sql.functions.col("user_id") % 2L)
    assert(StreamOps.applyCdcIntoLakePartial(spark, lakeP,
      banded(ev(1, "2024-01-01 10:00:00", 1, "ins", 1.0),
             ev(2, "2024-01-01 10:00:10", 2, "ins", 2.0)),
      Seq("user_id"), "band", 0L).contains(1L))
    val schemaP = graft.sources.LakeTable.read(spark, lakeP).schema
    val wipeP = banded(ev(3, "2024-01-01 10:01:00", 1, "D", 0.0),
                       ev(4, "2024-01-01 10:01:10", 2, "D", 0.0))
    assert(StreamOps.applyCdcIntoLakePartial(spark, lakeP, wipeP,
      Seq("user_id"), "band", 1L).contains(2L),
      "a layouted full wipe must publish an empty version")
    val emptyP = graft.sources.LakeTable.read(spark, lakeP)
    assert(emptyP.count() == 0L, "the wiped layouted table is empty")
    assert(emptyP.schema.fields.map(f => (f.name, f.dataType)).toSeq
      == schemaP.fields.map(f => (f.name, f.dataType)).toSeq,
      "the empty layouted version must keep the declared schema")
    assert(StreamOps.applyCdcIntoLakePartial(spark, lakeP, wipeP,
      Seq("user_id"), "band", 1L).isEmpty, "a replayed wipe must be skipped")
    assert(StreamOps.applyCdcIntoLakePartial(spark, lakeP,
      banded(ev(5, "2024-01-01 10:02:00", 7, "ins", 5.0)),
      Seq("user_id"), "band", 2L).contains(3L))
    val revivedP = graft.sources.LakeTable.read(spark, lakeP)
      .select("user_id", "value").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(revivedP == Set((7L, 5.0)),
      s"the layouted epoch after a truncate must repopulate: $revivedP")
  }

  test("foreachBatch lake helpers select a key named k.x by its exact name") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.sources.LakeTable
    // `col("k.x")` would read field x of a struct k: the per-key winner,
    // the touched-key anti-join and the duplicate-key audit must not
    def rowsOf(lake: String): Set[(Long, Double)] =
      LakeTable.read(spark, lake).select(col("`k.x`"), col("value"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    def batch(rows: (Long, Long, Long, Double, String)*) =
      rows.toDF("k.x", "event_id", "ts", "value", "op")
    // full rewrite: the later (ts, event_id) row per key wins
    val full = Files.createTempDirectory("graft_lake_dotkey").toString
    assert(StreamOps.mergeBatchIntoLake(spark, full,
      batch((1L, 1L, 1L, 1.0, "U"), (2L, 2L, 1L, 2.0, "U")).drop("op"),
      Seq("k.x"), 0L).contains(1L))
    assert(StreamOps.mergeBatchIntoLake(spark, full,
      batch((1L, 3L, 2L, 5.0, "U"), (1L, 4L, 3L, 9.0, "U"),
            (3L, 5L, 2L, 3.0, "U")).drop("op"),
      Seq("k.x"), 1L).contains(2L))
    assert(rowsOf(full) == Set((1L, 9.0), (2L, 2.0), (3L, 3.0)))
    // partial rewrite with a tombstone
    val part = Files.createTempDirectory("graft_lake_dotkeyp").toString
    def banded(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("band", pmod(col("`k.x`"), lit(2L)))
    assert(StreamOps.applyCdcIntoLakePartial(spark, part,
      banded(batch((1L, 1L, 1L, 1.0, "U"), (2L, 2L, 1L, 2.0, "U"))),
      Seq("k.x"), "band", 0L).contains(1L))
    assert(StreamOps.applyCdcIntoLakePartial(spark, part,
      banded(batch((2L, 3L, 2L, 0.0, "D"), (1L, 4L, 2L, 7.0, "U"))),
      Seq("k.x"), "band", 1L).contains(2L))
    assert(rowsOf(part) == Set((1L, 7.0)))
  }

  test("two concurrent streaming sinks on one lake table keep independent watermarks") {
    // r9 ask #7: behaviors 33/34 under TWO writers — each sink rides its
    // own named watermark in the shared manifest (one sink's commit
    // carries the other's forward), partial merges serialize through the
    // conflict-checked publish, and each sink's crash-replay consults
    // ONLY its own watermark
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    implicit val ctx = spark.sqlContext
    val lake = Files.createTempDirectory("graft_lake_2sinks_").toString
    val chkA = Files.createTempDirectory("graft_chk_sinka_").toString
    val chkB = Files.createTempDirectory("graft_chk_sinkb_").toString
    val msA = MemoryStream[Event]
    val msB = MemoryStream[Event]
    val crashA = new java.util.concurrent.atomic.AtomicBoolean(false)
    def startA() = msA.toDF().writeStream
      .option("checkpointLocation", chkA)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        StreamOps.mergeBatchIntoLakePartial(spark, lake,
          b.withColumn("band", expr("user_id div 32")),
          Seq("user_id"), "band", id, None, sink = "a")
        // crash AFTER publish, BEFORE the WAL commit: the replay must
        // skip via sink a's OWN watermark
        if (id == 1 && crashA.compareAndSet(false, true))
          throw new RuntimeException("injected post-publish failure")
      }
      .start()
    def startB() = msB.toDF().writeStream
      .option("checkpointLocation", chkB)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        StreamOps.mergeBatchIntoLakePartial(spark, lake,
          b.withColumn("band", expr("user_id div 32")),
          Seq("user_id"), "band", id, None, sink = "b")
        ()
      }
      .start()
    var qA = startA()
    val qB = startB()
    // sink a owns band 0 (users < 32), sink b band 1 (users 32..63):
    // disjoint layout values, one shared table
    msA.addData(ev(1, "2024-01-01 10:00:00", 1, "ins", 1.0),
                ev(2, "2024-01-01 10:00:10", 2, "ins", 2.0))
    qA.processAllAvailable() // a: epoch 0
    msB.addData(ev(10, "2024-01-01 10:00:20", 40, "ins", 40.0))
    qB.processAllAvailable() // b: epoch 0 — must CARRY a's watermark
    assert(graft.sources.LakeTable.appliedBatch(lake, "a").contains(0L),
      "sink b's commit must carry sink a's watermark forward")
    assert(graft.sources.LakeTable.appliedBatch(lake, "b").contains(0L))
    msA.addData(ev(3, "2024-01-01 10:01:00", 1, "upd", 9.0))
    intercept[Exception] { qA.processAllAvailable() } // a: epoch 1 crashes post-publish
    qA.stop()
    val vAfterCrash = graft.sources.LakeTable.currentVersion(lake)
    // b commits while a is down — advances b's watermark only
    msB.addData(ev(11, "2024-01-01 10:01:10", 41, "ins", 41.0))
    qB.processAllAvailable()
    assert(graft.sources.LakeTable.appliedBatch(lake, "a").contains(1L),
      "a's published-but-uncommitted epoch watermark must survive b's commit")
    assert(graft.sources.LakeTable.appliedBatch(lake, "b").contains(1L))
    qA = startA() // replay a's epoch 1: its own watermark says applied → skip
    qA.processAllAvailable()
    assert(graft.sources.LakeTable.currentVersion(lake)
             == vAfterCrash.map(_ + 1),
      "a's replayed epoch must skip; only b's commit adds a version")
    // both sinks keep flowing after the replay
    msA.addData(ev(4, "2024-01-01 10:02:00", 2, "upd", 8.0))
    qA.processAllAvailable()
    msB.addData(ev(12, "2024-01-01 10:02:10", 40, "upd", 44.0))
    qB.processAllAvailable()
    qA.stop(); qB.stop()
    assert(crashA.get, "fault injection never fired")
    val rows = graft.sources.LakeTable.read(spark, lake)
      .select("user_id", "event_id", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows == Set((1L, 3L, 9.0), (2L, 4L, 8.0),
                       (40L, 12L, 44.0), (41L, 11L, 41.0)),
      s"the two sinks' folds must both land exactly once: $rows")
    assert(graft.sources.LakeTable.appliedBatch(lake, "a").contains(2L))
    assert(graft.sources.LakeTable.appliedBatch(lake, "b").contains(2L))
  }

  test("RocksDB state store backend produces the same results") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val saved = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[Event]
      val q = StreamOps.tumblingCounts(ms.toDF())
        .writeStream.format("memory").queryName("rocks_1")
        .outputMode("append").start()
      ms.addData(
        ev(1, "2024-01-01 10:05:00", 1, "click", 1.0),
        ev(2, "2024-01-01 10:20:00", 2, "click", 2.0))
      q.processAllAvailable()
      ms.addData(ev(3, "2024-01-01 13:00:00", 1, "view", 1.0))
      q.processAllAvailable()
      val rows = spark.table("rocks_1").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSet
      q.stop()
      assert(rows.contains(("2024-01-01 10:00:00.0", "click", 2L)),
        s"RocksDB-backed window agg drifted: $rows")
    } finally {
      saved match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming near-dup state survives a checkpointed restart") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val chk = Files.createTempDirectory("graft_chk_nd").toString
    val out = Files.createTempDirectory("graft_out_nd").toString
    val ms = MemoryStream[StreamOps.DocEvent]
    val nd = StreamOps.streamingNearDup(spark, ms.toDF(), 0.5)
    def start() = nd.writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", chk)
      .outputMode("append").start()
    val base = "the quick brown fox jumps over the lazy dog tonight again"
    val q1 = start()
    ms.addData(StreamOps.DocEvent(1L, ts("2024-01-01 10:00:00"), base))
    q1.processAllAvailable()
    q1.stop()
    // the duplicate arrives AFTER the restart: doc 1's signatures must
    // come back from the band-bucket state in the checkpoint, not memory
    ms.addData(StreamOps.DocEvent(2L, ts("2024-01-01 10:05:00"), base + " dup"))
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    val dups = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct.toList
    assert(dups.contains((2L, 1L)),
      s"doc 2 must match doc 1's checkpointed signatures, got $dups")
  }

  test("chaos: 5 randomized restart schedules converge to the uninterrupted end-state") {
    // r5 ask #7: kill/restart at RANDOM micro-batch boundaries (seeded →
    // reproducible) for the three stateful flagships, and require the
    // end-state to EQUAL an uninterrupted run's. Every feed is one event
    // per micro-batch with fixed event times, so outputs are a pure
    // function of the feed — any divergence is lost/duplicated state.
    import spark.implicits._
    implicit val ctx = spark.sqlContext

    val base = "the quick brown fox jumps over the lazy dog tonight"
    val docFeed = Seq(
      StreamOps.DocEvent(1L, ts("2024-01-01 10:00:00"), base),
      StreamOps.DocEvent(2L, ts("2024-01-01 10:01:00"), "completely different text about databases and streams"),
      StreamOps.DocEvent(3L, ts("2024-01-01 10:02:00"), base + " dup"),
      StreamOps.DocEvent(4L, ts("2024-01-01 10:03:00"), "yet another unrelated document body with fresh words"),
      StreamOps.DocEvent(5L, ts("2024-01-01 10:04:00"), base + " again"),
      StreamOps.DocEvent(6L, ts("2024-01-01 10:05:00"), "completely different text about databases and streams dup"),
      StreamOps.DocEvent(7L, ts("2024-01-01 10:06:00"), "short odd one"),
      StreamOps.DocEvent(8L, ts("2024-01-01 10:07:00"), base + " final dup"))

    def runNearDup(restarts: Set[Int]): Set[(Long, Long)] = {
      val chk = Files.createTempDirectory("chaos_nd_chk").toString
      val out = Files.createTempDirectory("chaos_nd_out").toString
      val ms = MemoryStream[StreamOps.DocEvent]
      val nd = StreamOps.streamingNearDup(spark, ms.toDF(), 0.5)
      def start() = nd.writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .outputMode("append").start()
      var q = start()
      docFeed.zipWithIndex.foreach { case (d, i) =>
        ms.addData(d); q.processAllAvailable()
        if (restarts(i)) { q.stop(); q = start() }
      }
      q.processAllAvailable(); q.stop()
      spark.read.parquet(out).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }

    val evFeed = Seq(
      ev(1, "2024-01-01 10:00:00", 1, "click", 1.0),
      ev(2, "2024-01-01 10:02:00", 1, "click", 2.0),
      ev(3, "2024-01-01 10:01:00", 2, "view", 3.0),
      ev(4, "2024-01-01 10:30:00", 1, "click", 4.0), // new session for u1
      ev(5, "2024-01-01 10:31:00", 2, "view", 5.0),
      ev(6, "2024-01-01 10:32:00", 3, "buy", 6.0),
      ev(7, "2024-01-01 11:30:00", 1, "click", 7.0),
      ev(8, "2024-01-01 23:00:00", 99, "view", 0.0)) // watermark closer

    def runSessions(restarts: Set[Int]): Set[(Long, Long, Double, Long, Long)] = {
      val chk = Files.createTempDirectory("chaos_ss_chk").toString
      val out = Files.createTempDirectory("chaos_ss_out").toString
      val ms = MemoryStream[Event]
      val ss = StreamOps.sessionizer(spark, ms.toDF())
      def start() = ss.writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .outputMode("append").start()
      var q = start()
      evFeed.zipWithIndex.foreach { case (e, i) =>
        ms.addData(e); q.processAllAvailable()
        if (restarts(i)) { q.stop(); q = start() }
      }
      q.processAllAvailable(); q.stop()
      spark.read.parquet(out).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
                   r.getLong(3), r.getLong(4))).toSet
    }

    def runSink(crashAt: Set[Int]): Seq[Long] = {
      val chk = Files.createTempDirectory("chaos_eo_chk").toString
      val out = Files.createTempDirectory("chaos_eo_out").toString
      val ms = MemoryStream[Event]
      val fired = scala.collection.mutable.Set[Long]()
      def start() = ms.toDF().writeStream
        .option("checkpointLocation", chk)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          StreamOps.writeBatchIdempotent(b, out, id)
          // crash AFTER the write, BEFORE the epoch commit — the worst
          // point: the replayed epoch must overwrite, not duplicate
          if (crashAt(id.toInt) && fired.add(id))
            throw new RuntimeException(s"chaos crash at epoch $id")
        }
        .start()
      var q = start()
      evFeed.zipWithIndex.foreach { case (e, i) =>
        ms.addData(e)
        try q.processAllAvailable()
        catch { case _: Exception => q.stop(); q = start() }
      }
      q.processAllAvailable(); q.stop()
      spark.read.parquet(out).select("event_id").collect()
        .map(_.getLong(0)).sorted.toSeq
    }

    val ndRef = runNearDup(Set.empty)
    val ssRef = runSessions(Set.empty)
    val skRef = runSink(Set.empty)
    assert(ndRef.nonEmpty, "reference near-dup run must find planted dups")
    assert(ssRef.nonEmpty, "reference sessionizer run must close sessions")
    assert(skRef == evFeed.map(_.event_id).sorted,
      s"reference sink run must land every event once: $skRef")

    val rnd = new scala.util.Random(4242L)
    for (trial <- 1 to 5) {
      // at least one restart per trial; restart each boundary with p=0.35
      var restarts = (0 until docFeed.length - 1)
        .filter(_ => rnd.nextDouble() < 0.35).toSet
      if (restarts.isEmpty) restarts = Set(rnd.nextInt(docFeed.length - 1))
      info(s"trial $trial: restarts after batches ${restarts.toSeq.sorted}")
      assert(runNearDup(restarts) == ndRef,
        s"trial $trial: near-dup diverged after restarts $restarts")
      assert(runSessions(restarts) == ssRef,
        s"trial $trial: sessionizer diverged after restarts $restarts")
      assert(runSink(restarts) == skRef,
        s"trial $trial: exactly-once sink diverged after crashes $restarts")
    }
  }

  test("streaming packer cumulative position survives a checkpointed restart") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(provKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val chk = Files.createTempDirectory("graft_chk_pack").toString
      val out = Files.createTempDirectory("graft_out_pack").toString
      val ms = MemoryStream[StreamOps.PackDoc]
      val packed = StreamOps.streamingPack(spark, ms.toDF(), 8)
      def start() = packed.writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .outputMode("append").start()
      val q1 = start()
      ms.addData(StreamOps.PackDoc(0L, ts("2024-01-01 10:00:00"), "en",
                                   "a b c d e")) // 5 toks -> bin 0, off 0
      q1.processAllAvailable(); q1.stop()
      // the next doc arrives AFTER the restart: its start position (5)
      // must come back from the ValueState in the checkpoint, not memory
      ms.addData(StreamOps.PackDoc(1L, ts("2024-01-01 10:01:00"), "en",
                                   "f g h i")) // 4 toks -> bin 0, off 5
      val q2 = start()
      q2.processAllAvailable(); q2.stop()
      val rows = spark.read.parquet(out).collect()
        .map(r => (r.getLong(0), r.getLong(3), r.getLong(4))).toSet
      assert(rows == Set((0L, 0L, 0L), (1L, 0L, 5L)),
        s"packer state must resume at token 5: ${rows.mkString(", ")}")
    } finally {
      prev match {
        case Some(p) => spark.conf.set(provKey, p)
        case None => spark.conf.unset(provKey)
      }
    }
  }
}
