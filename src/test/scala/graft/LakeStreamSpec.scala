package graft

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.sources.LakeTable

/** `readStream.format("graft-lake")` — the streaming change-feed source
  * (r10): version-as-offset delivery, OPTIMIZE silence, exactly-once
  * across a stop/restart, and startingVersion tailing. The consumer folds
  * signed multiplicities keyed by micro-batch id (the idempotent-sink
  * discipline any foreachBatch consumer of a CDC feed runs), and every
  * assertion compares the fold against a fresh BATCH read of the live
  * table — the same truth the batch q_lake_changes op pins. */
class LakeStreamSpec extends SparkTestBase {

  private def roll(df: DataFrame, width: Long): DataFrame = df
    .groupBy(col("o_custkey").as("custkey"))
    .agg(count(lit(1)).cast("long").as("n_orders"),
         sum(floor(col("o_totalprice") * lit(100.0) + lit(0.5))
             .cast("long")).cast("long").as("cents"))
    .withColumn("band", expr(s"custkey div $width"))

  private type Key = (Long, Long, Long, Long)
  private def key(r: Row): Key =
    (r.getAs[Long]("custkey"), r.getAs[Long]("n_orders"),
     r.getAs[Long]("cents"), r.getAs[Long]("band"))

  /** Fold the per-batch buffers into the end-state multiset. */
  private def fold(batches: mutable.Map[Long, Seq[Row]]): Set[Key] =
    batches.values.flatten
      .foldLeft(Map.empty[Key, Long]) { (m, r) =>
        val w = if (r.getAs[String]("_change_type") == "delete") -1L else 1L
        m.updated(key(r), m.getOrElse(key(r), 0L) + w)
      }
      .collect { case (k, m) if m > 0 => k }.toSet

  private def liveKeys(dir: String): Set[Key] =
    LakeTable.read(spark, dir).collect().map(key).toSet

  test("change-feed stream: versions as offsets, optimize silent, " +
       "exactly-once across restart") {
    val dir = Files.createTempDirectory("graft_lakestream_").toString
    val cp = Files.createTempDirectory("graft_lakestream_cp_").toString
    val o = graft.ops.Tables.orders(spark, sf)
    val width = math.max(32L,
      o.agg(max(col("o_custkey"))).head.getLong(0) / 8L + 1L)
    val full = roll(o, width)

    // v1: partial snapshot (band 0 rolled up from a date-limited slice)
    val v1 = full.filter(col("band") =!= 0)
      .unionByName(roll(o.filter(
        col("o_orderdate") < lit("1997-01-01").cast("timestamp")), width)
        .filter(col("band") === 0))
    assert(LakeTable.commit(spark, dir, v1, Some("band"))(_ => None)
      == Right(1L))

    val batches = mutable.Map.empty[Long, Seq[Row]] // batchId-keyed: replay-idempotent
    val q = spark.readStream.format("graft-lake")
      .option("path", dir).load()
      .writeStream
      .option("checkpointLocation", cp)
      .foreachBatch { (df: DataFrame, id: Long) =>
        batches.synchronized { batches(id) = df.collect().toSeq }
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      assert(fold(batches) == liveKeys(dir), "initial snapshot (v1 inserts)")

      // v2: partial merge corrects band 0; v3: OPTIMIZE (must be silent);
      // v4: CDC tombstones — all while the stream is live
      assert(LakeTable.mergePartial(spark, dir,
        full.filter(col("band") === 0), Seq("custkey"), "band")(_ => None)
        == Right(2L))
      assert(LakeTable.optimize(spark, dir, Long.MaxValue, Seq.empty,
        Some("band")) == Right(3L))
      val tomb = full.filter(col("custkey") % 10 === 3)
        .withColumn("op", lit("D"))
      assert(LakeTable.applyCdcPartial(spark, dir, tomb,
        Seq("custkey"), "band")(_ => None) == Right(4L))
      q.processAllAvailable()
      assert(fold(batches) == liveKeys(dir), "fold across merge/opt/cdc")
      val versionsSeen = batches.values.flatten
        .map(_.getAs[Long]("_commit_version")).toSet
      assert(versionsSeen == Set(1L, 2L, 4L),
        s"optimize (v3) must emit no logical changes; saw $versionsSeen")
    } finally q.stop()

    // v5 lands while the stream is DOWN; the restarted query must deliver
    // exactly (4, 5] — no replay of v1–v4 (committed offsets) and no gap
    val preRestart = batches.keySet.toSet
    assert(LakeTable.mergePartial(spark, dir,
      full.filter(col("band") === 1)
        .withColumn("cents", col("cents") + lit(1L)),
      Seq("custkey"), "band")(_ => None) == Right(5L))
    val q2 = spark.readStream.format("graft-lake")
      .option("path", dir).load()
      .writeStream
      .option("checkpointLocation", cp)
      .foreachBatch { (df: DataFrame, id: Long) =>
        batches.synchronized { batches(id) = df.collect().toSeq }
        ()
      }
      .start()
    try {
      q2.processAllAvailable()
      val newRows = batches.filterKeys(!preRestart.contains(_)).values.flatten
      assert(newRows.nonEmpty)
      assert(newRows.map(_.getAs[Long]("_commit_version")).toSet == Set(5L),
        "restart must resume at the committed offset: only v5's diff")
      assert(fold(batches) == liveKeys(dir), "fold after restart + v5")
    } finally q2.stop()
  }

  test("maxVersionsPerTrigger drains a backlog one version per batch") {
    val dir = Files.createTempDirectory("graft_lakestream_rate_").toString
    val cp = Files.createTempDirectory("graft_lakestream_ratecp_").toString
    val o = graft.ops.Tables.orders(spark, sf)
    val width = math.max(32L,
      o.agg(max(col("o_custkey"))).head.getLong(0) / 8L + 1L)
    val full = roll(o, width)
    assert(LakeTable.commit(spark, dir, full, Some("band"))(_ => None)
      == Right(1L))

    val batchVersions = mutable.ArrayBuffer.empty[Set[Long]]
    def run(): Unit = {
      val q = spark.readStream.format("graft-lake")
        .option("path", dir).option("maxVersionsPerTrigger", "1")
        .load()
        .writeStream.option("checkpointLocation", cp)
        .foreachBatch { (df: DataFrame, _: Long) =>
          val vs = df.select("_commit_version").distinct()
            .collect().map(_.getLong(0)).toSet
          batchVersions.synchronized { batchVersions += vs }
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    run() // v1 alone
    assert(batchVersions.filter(_.nonEmpty).forall(_.size == 1))
    assert(batchVersions.flatten.toSet == Set(1L))
    // nothing the stream persists may land outside the checkpoint (the
    // engine hands metadataPath over as a file: URI — a literal
    // Paths.get of it would silently create a "file:..." directory
    // relative to the CWD)
    val strays = java.nio.file.Files.list(java.nio.file.Paths.get(""))
      .filter(_.getFileName.toString.startsWith("file:"))
      .count()
    assert(strays == 0L, "a file: URI was used as a relative path")

    // backlog of three more versions lands while the stream is DOWN;
    // the restarted query must drain it one version per micro-batch
    // (the engine hands the committed offset over as the floor, not 0)
    for (i <- 2 to 4) {
      assert(LakeTable.mergePartial(spark, dir,
        full.filter(col("band") === (i % 3).toLong)
          .withColumn("cents", col("cents") + lit(i.toLong)),
        Seq("custkey"), "band")(_ => None) == Right(i.toLong))
    }
    run()
    val nonEmpty = batchVersions.filter(_.nonEmpty)
    assert(nonEmpty.forall(_.size == 1),
      s"each micro-batch must carry exactly one version: $batchVersions")
    assert(nonEmpty.flatten.toSet == Set(1L, 2L, 3L, 4L))
  }

  test("writeStream sink: append commits per batch, replay skips, " +
       "merge upserts") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_lakesink_").toString
    val cp = Files.createTempDirectory("graft_lakesink_cp_").toString
    // every sink here carries JSON metacharacters in its id: its
    // watermark must still read back, so a replayed epoch is skipped,
    // not re-applied
    val sinkId = "q\"}x"

    val ms = MemoryStream[(Long, Long)](spark)
    val q = ms.toDF().toDF("custkey", "cents")
      .withColumn("band", col("custkey") % 4)
      .writeStream.format("graft-lake")
      .option("path", dir).option("checkpointLocation", cp)
      .option("commitMode", "merge")
      .option("keys", "custkey").option("layoutBy", "band")
      .option("sinkName", sinkId)
      .start()
    try {
      ms.addData((1L, 100L), (2L, 200L), (5L, 500L))
      q.processAllAvailable()
      assert(LakeTable.currentVersion(dir).contains(1L))
      // batch 2 upserts key 1 (band 1) and inserts key 3 (band 3) —
      // bands 0/2 carry over untouched
      ms.addData((1L, 111L), (3L, 300L))
      q.processAllAvailable()
      assert(LakeTable.currentVersion(dir).contains(2L))
      val live = LakeTable.read(spark, dir).collect()
        .map(r => r.getAs[Long]("custkey") -> r.getAs[Long]("cents")).toMap
      assert(live == Map(1L -> 111L, 2L -> 200L, 3L -> 300L, 5L -> 500L))
    } finally q.stop()

    // direct replay of an applied batchId must be a no-op (the manifest
    // watermark is the idempotence handle — the crash-replay path)
    LakeTable.clearResolveCache()
    assert(LakeTable.appliedBatch(dir, sinkId).contains(1L))
    val sink = new graft.sources.LakeStreamSink(dir, "merge", Some("band"),
      Seq.empty, Seq("custkey"), sinkId)
    sink.addBatch(1L, Seq((1L, 999L)).toDF("custkey", "cents")
      .withColumn("band", col("custkey") % 4))
    assert(LakeTable.currentVersion(dir).contains(2L),
      "replayed batch must not publish a version")
    assert(LakeTable.read(spark, dir).filter(col("custkey") === 1L)
      .head.getAs[Long]("cents") == 111L)

    // append mode onto a fresh table: two batches → two versions, all
    // rows
    val dir2 = Files.createTempDirectory("graft_lakesink_app_").toString
    val cp2 = Files.createTempDirectory("graft_lakesink_appcp_").toString
    val ms2 = MemoryStream[(Long, Long)](spark)
    val q2 = ms2.toDF().toDF("custkey", "cents")
      .writeStream.format("graft-lake")
      .option("path", dir2).option("checkpointLocation", cp2)
      .option("sinkName", sinkId)
      .start()
    try {
      ms2.addData((1L, 10L)); q2.processAllAvailable()
      ms2.addData((2L, 20L)); q2.processAllAvailable()
      assert(LakeTable.currentVersion(dir2).contains(2L))
      assert(LakeTable.read(spark, dir2).count() == 2L)
    } finally q2.stop()
    LakeTable.clearResolveCache()
    assert(LakeTable.appliedBatch(dir2, sinkId).contains(1L))
    new graft.sources.LakeStreamSink(dir2, "append", None, Seq.empty,
      Seq.empty, sinkId).addBatch(1L, Seq((2L, 20L)).toDF("custkey", "cents"))
    assert(LakeTable.currentVersion(dir2).contains(2L),
      "a replayed epoch of a sink with a hostile id must not publish")
    assert(LakeTable.read(spark, dir2).count() == 2L)
  }

  test("writeStream sink commitMode=dvmerge (r12): merge-on-read upserts " +
       "per epoch — zero rewrite, replay skips, empty epochs no-op") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_lakesink_dvm_").toString
    val cp = Files.createTempDirectory("graft_lakesink_dvmcp_").toString
    val ms = MemoryStream[(Long, Long)](spark)
    val q = ms.toDF().toDF("custkey", "cents")
      .withColumn("band", col("custkey") % 4)
      .writeStream.format("graft-lake")
      .option("path", dir).option("checkpointLocation", cp)
      .option("commitMode", "dvmerge")
      .option("keys", "custkey").option("layoutBy", "band")
      .start()
    try {
      // first epoch on a FRESH table: a plain initial commit
      ms.addData((1L, 100L), (2L, 200L), (5L, 500L))
      q.processAllAvailable()
      assert(LakeTable.currentVersion(dir).contains(1L))
      val files1 = LakeTable.currentFiles(dir).toSet
      // second epoch upserts key 1 and inserts key 3: NO pre-existing
      // file rewrites — sidecar + fresh files only
      ms.addData((1L, 111L), (3L, 300L))
      q.processAllAvailable()
      assert(LakeTable.currentVersion(dir).contains(2L))
      assert(files1.subsetOf(LakeTable.currentFiles(dir).toSet),
        "a dvmerge epoch must keep every pre-existing file")
      assert(LakeTable.dvOf(dir, 2L).nonEmpty,
        "the matched key must be hidden by a sidecar, not a rewrite")
      val live = LakeTable.read(spark, dir).collect()
        .map(r => r.getAs[Long]("custkey") -> r.getAs[Long]("cents")).toMap
      assert(live == Map(1L -> 111L, 2L -> 200L, 3L -> 300L, 5L -> 500L))
    } finally q.stop()

    // direct replay of an applied batchId: no-op (manifest watermark)
    val sink = new graft.sources.LakeStreamSink(dir, "dvmerge", Some("band"),
      Seq.empty, Seq("custkey"), "graft-lake-stream")
    sink.addBatch(1L, Seq((1L, 999L)).toDF("custkey", "cents")
      .withColumn("band", col("custkey") % 4))
    assert(LakeTable.currentVersion(dir).contains(2L),
      "replayed batch must not publish a version")
    assert(LakeTable.read(spark, dir).filter(col("custkey") === 1L)
      .head.getAs[Long]("cents") == 111L)
    // empty epoch: nothing published, watermark untouched
    sink.addBatch(2L, Seq((1L, 0L)).toDF("custkey", "cents")
      .withColumn("band", col("custkey") % 4).filter(col("custkey") < 0L))
    assert(LakeTable.currentVersion(dir).contains(2L))
    assert(LakeTable.appliedBatch(dir, "graft-lake-stream").contains(1L))
  }

  test("writeStream sink commitMode=cdc: tombstones delete, upserts land, " +
       "replay skips") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_lakesink_cdc_").toString
    val cp = Files.createTempDirectory("graft_lakesink_cdccp_").toString
    val sinkId = "q\"}x" // JSON metacharacters in the watermark's key
    val ms = MemoryStream[(Long, Long, String)](spark)
    val q = ms.toDF().toDF("custkey", "cents", "op")
      .withColumn("band", col("custkey") % 4)
      .writeStream.format("graft-lake")
      .option("path", dir).option("checkpointLocation", cp)
      .option("commitMode", "cdc")
      .option("keys", "custkey").option("layoutBy", "band")
      .option("sinkName", sinkId)
      .start()
    try {
      ms.addData((1L, 100L, "U"), (2L, 200L, "U"), (3L, 300L, "U"))
      q.processAllAvailable()
      // batch 2: tombstone key 2, upsert key 1, insert key 5
      ms.addData((2L, 0L, "D"), (1L, 111L, "U"), (5L, 500L, "U"))
      q.processAllAvailable()
      val live = LakeTable.read(spark, dir).collect()
        .map(r => r.getAs[Long]("custkey") -> r.getAs[Long]("cents")).toMap
      assert(live == Map(1L -> 111L, 3L -> 300L, 5L -> 500L),
        s"tombstone must remove key 2: $live")
      assert(LakeTable.currentVersion(dir).contains(2L))
    } finally q.stop()
    // replayed batchId: no new version, tombstoned key stays dead
    LakeTable.clearResolveCache()
    assert(LakeTable.appliedBatch(dir, sinkId).contains(1L))
    val sink = new graft.sources.LakeStreamSink(dir, "cdc", Some("band"),
      Seq.empty, Seq("custkey"), sinkId)
    sink.addBatch(1L, Seq((2L, 999L, "U")).toDF("custkey", "cents", "op")
      .withColumn("band", col("custkey") % 4))
    assert(LakeTable.currentVersion(dir).contains(2L))
    assert(!LakeTable.read(spark, dir).collect()
      .exists(_.getAs[Long]("custkey") == 2L))
  }

  test("round trip: writeStream into the lake, readStream the change feed") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_lakert_").toString
    val cpW = Files.createTempDirectory("graft_lakert_w_").toString
    val cpR = Files.createTempDirectory("graft_lakert_r_").toString

    val ms = MemoryStream[(Long, Long)](spark)
    val w = ms.toDF().toDF("custkey", "cents")
      .withColumn("band", col("custkey") % 2)
      .writeStream.format("graft-lake")
      .option("path", dir).option("checkpointLocation", cpW)
      .option("commitMode", "merge")
      .option("keys", "custkey").option("layoutBy", "band")
      .start()
    // key → (highest insert version, its cents, multiplicity): rows inside
    // one micro-batch span versions in arbitrary order, so the surviving
    // value is the highest-version insert, not the last row processed
    val folded = mutable.Map.empty[Long, (Long, Long, Long)]
    try {
      ms.addData((1L, 1L), (2L, 2L)); w.processAllAvailable()
      ms.addData((2L, 22L), (3L, 3L)); w.processAllAvailable()

      val r = spark.readStream.format("graft-lake")
        .option("path", dir).load()
        .writeStream.option("checkpointLocation", cpR)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          folded.synchronized {
            df.collect().foreach { row =>
              val k = row.getAs[Long]("custkey")
              val c = row.getAs[Long]("cents")
              val v = row.getAs[Long]("_commit_version")
              val del = row.getAs[String]("_change_type") == "delete"
              val (bv, bc, m) = folded.getOrElse(k, (0L, 0L, 0L))
              folded(k) =
                if (del) (bv, bc, m - 1)
                else if (v >= bv) (v, c, m + 1)
                else (bv, bc, m + 1)
            }
          }
          ()
        }
        .start()
      try r.processAllAvailable() finally r.stop()
    } finally w.stop()
    val endState = folded.collect { case (k, (_, c, m)) if m > 0 => k -> c }
    assert(endState == Map(1L -> 1L, 2L -> 22L, 3L -> 3L))
  }

  test("behavior 40: MV as a streaming aggregation over the source " +
       "tracks the live table across merge/optimize/tombstones") {
    val dir = Files.createTempDirectory("graft_lakemv40_").toString
    val cp = Files.createTempDirectory("graft_lakemv40cp_").toString
    val o = graft.ops.Tables.orders(spark, sf)
    val width = math.max(32L,
      o.agg(max(col("o_custkey"))).head.getLong(0) / 8L + 1L)
    val full = roll(o, width)
    val v1 = full.filter(col("band") =!= 0)
      .unionByName(roll(o.filter(
        col("o_orderdate") < lit("1997-01-01").cast("timestamp")), width)
        .filter(col("band") === 0))
    assert(LakeTable.commit(spark, dir, v1, Some("band"))(_ => None)
      == Right(1L))

    val feed = spark.readStream.format("graft-lake")
      .option("path", dir).load()
    val mv = graft.streaming.StreamOps.lakeMv(
      feed, Seq("band"), Seq("n_orders", "cents"))
    val q = mv.writeStream.format("memory").queryName("lake_mv40")
      .outputMode("complete")
      .option("checkpointLocation", cp)
      .start()

    def mvNow(): Map[Long, (Long, Long, Long)] =
      spark.table("lake_mv40").collect()
        .map(r => r.getAs[Long]("band") ->
          ((r.getAs[Long]("n_rows"), r.getAs[Long]("n_orders_sum"),
            r.getAs[Long]("cents_sum"))))
        .toMap.filter(_._2._1 > 0)
    def direct(): Map[Long, (Long, Long, Long)] =
      LakeTable.read(spark, dir).groupBy("band")
        .agg(count(lit(1)).as("n"), sum(col("n_orders")).as("no"),
             sum(col("cents")).as("ce"))
        .collect()
        .map(r => r.getAs[Long]("band") ->
          ((r.getAs[Long]("n"), r.getAs[Long]("no"), r.getAs[Long]("ce"))))
        .toMap
    try {
      q.processAllAvailable()
      assert(mvNow() == direct(), "MV after the v1 snapshot")
      assert(LakeTable.mergePartial(spark, dir,
        full.filter(col("band") === 0), Seq("custkey"), "band")(_ => None)
        == Right(2L))
      assert(LakeTable.optimize(spark, dir, Long.MaxValue, Seq.empty,
        Some("band")) == Right(3L))
      assert(LakeTable.applyCdcPartial(spark, dir,
        full.filter(col("custkey") % 10 === 3).withColumn("op", lit("D")),
        Seq("custkey"), "band")(_ => None) == Right(4L))
      q.processAllAvailable()
      assert(mvNow() == direct(),
        "MV must track the live table through merge/optimize/tombstones")
    } finally q.stop()
  }

  test("behavior 41: _commit_timestamp is watermarkable event time — " +
       "windowed aggregation over the feed, late versions dropped") {
    import spark.implicits._
    import java.nio.file.{Files => JFiles, Paths}
    import java.nio.file.attribute.FileTime
    val dir = Files.createTempDirectory("graft_lakestream_b41_").toString
    val cp = Files.createTempDirectory("graft_lakestream_b41cp_").toString
    def backdate(v: Long, minutesAgo: Long): Unit = {
      // event time is the marker CONTENT (r12, content-addressed): the
      // backdate rewrites the recorded instant, and also the mtime so
      // the legacy empty-marker fallback path would agree
      val ms = System.currentTimeMillis() - minutesAgo * 60000L
      JFiles.write(Paths.get(dir, s"commit-v$v"),
        ms.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      JFiles.setLastModifiedTime(Paths.get(dir, s"commit-v$v"),
        FileTime.fromMillis(ms))
    }
    // v1 (overwrite) and v2 (append) publish, then are BACKDATED to
    // distinct minutes so their event-time windows can close in-test
    assert(LakeTable.commit(spark, dir,
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v"))(_ => None) == Right(1L))
    assert(LakeTable.append(spark, dir,
      Seq((3L, 7L)).toDF("k", "v"))(_ => None) == Right(2L))
    backdate(1L, 10L); backdate(2L, 5L)

    val out = mutable.ArrayBuffer.empty[(Long, Long)] // (n, net) per window
    def run(): Unit = {
      val feed = spark.readStream.format("graft-lake")
        .option("path", dir).load()
      assert(feed.schema("_commit_timestamp").dataType
        == org.apache.spark.sql.types.TimestampType)
      val agg = feed.withWatermark("_commit_timestamp", "30 seconds")
        .groupBy(window(col("_commit_timestamp"), "1 minute"))
        .agg(count(lit(1)).as("n"),
             sum(when(col("_change_type") === "insert", col("v"))
               .otherwise(-col("v"))).as("net"))
      val q = agg.writeStream.outputMode("append")
        .option("checkpointLocation", cp)
        .foreachBatch { (df: DataFrame, _: Long) =>
          out.synchronized {
            out ++= df.collect().map(r =>
              (r.getAs[Long]("n"), r.getAs[Long]("net")))
          }
          ()
        }
        .start()
      try {
        q.processAllAvailable()
        // a fresh commit at NOW pushes the watermark past the backdated
        // windows; the no-data batch then emits them in append mode
        if (LakeTable.currentVersion(dir).contains(2L)) {
          assert(LakeTable.append(spark, dir,
            Seq((4L, 100L)).toDF("k", "v"))(_ => None) == Right(3L))
          q.processAllAvailable()
        }
      } finally q.stop()
    }
    run()
    assert(out.toSet == Set((2L, 30L), (1L, 7L)),
      s"the two backdated windows must emit exactly once: $out")

    // LATE VERSION: v4 commits while the stream is down and is backdated
    // 20 minutes — behind the checkpointed watermark. The source still
    // delivers its rows in order (versions are the offset log; lateness
    // is an event-time property), but the watermarked aggregation drops
    // them: no new window emits, the standard late-data contract.
    assert(LakeTable.append(spark, dir,
      Seq((5L, 999L)).toDF("k", "v"))(_ => None) == Right(4L))
    backdate(4L, 20L)
    run()
    assert(out.toSet == Set((2L, 30L), (1L, 7L)),
      s"a version behind the watermark must not emit a window: $out")
  }

  test("sink epochs are single-pass: the batch plan evaluates once, " +
       "empty epochs publish nothing (r11 ask #4)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_lakesink_1pass_").toString
    // seed v1 so the append has something to carry
    assert(LakeTable.commit(spark, dir,
      Seq((1L, 10L)).toDF("custkey", "cents"))(_ => None) == Right(1L))
    val sink = new graft.sources.LakeStreamSink(dir, "append", None,
      Seq.empty, Seq.empty, "graft-lake-stream")
    // an evaluation-counting column: the accumulator ticks once per row
    // ACTUALLY COMPUTED, so a dedicated isEmpty pre-pass (or any double
    // materialization of the epoch's plan) shows up as extra ticks
    val evals = spark.sparkContext.longAccumulator("epoch_evals")
    val tick = udf { (x: Long) => evals.add(1L); x }
    val batch = Seq((2L, 20L), (3L, 30L), (4L, 40L), (5L, 50L))
      .toDF("custkey", "k0")
      .select(col("custkey"), tick(col("k0")).as("cents"))
    sink.addBatch(0L, batch)
    assert(LakeTable.currentVersion(dir).contains(2L))
    assert(evals.value == 4L,
      s"a non-empty append epoch must evaluate the batch plan exactly " +
      s"once (4 rows): ${evals.value} row evaluations")
    // empty epoch: nothing published, the watermark does not advance
    sink.addBatch(1L, batch.filter(col("custkey") < 0L))
    assert(LakeTable.currentVersion(dir).contains(2L),
      "an empty epoch must not mint a version")
    assert(LakeTable.appliedBatch(dir, "graft-lake-stream").contains(0L),
      "an empty epoch must not consume the watermark")
    // a later non-empty epoch still lands (the skipped epoch left no
    // fenced state behind)
    sink.addBatch(2L, Seq((9L, 90L)).toDF("custkey", "cents"))
    assert(LakeTable.currentVersion(dir).contains(3L))
    assert(LakeTable.appliedBatch(dir, "graft-lake-stream").contains(2L))

    // merge mode: an empty epoch is likewise a publish-free no-op (its
    // emptiness check rides the touched-value collect, not a pre-pass)
    val mdir = Files.createTempDirectory("graft_lakesink_1passm_").toString
    val msink = new graft.sources.LakeStreamSink(mdir, "merge", Some("band"),
      Seq.empty, Seq("custkey"), "graft-lake-stream")
    msink.addBatch(0L, Seq((1L, 10L)).toDF("custkey", "cents")
      .withColumn("band", col("custkey") % 4))
    assert(LakeTable.currentVersion(mdir).contains(1L))
    msink.addBatch(1L, Seq((1L, 10L)).toDF("custkey", "cents")
      .withColumn("band", col("custkey") % 4).filter(col("custkey") < 0L))
    assert(LakeTable.currentVersion(mdir).contains(1L))
    assert(LakeTable.appliedBatch(mdir, "graft-lake-stream").contains(0L))

    // every keyed mode: an empty epoch publishes nothing either, on a
    // fresh directory too (merge/cdc ride the touched-value collect,
    // dvmerge its key-stats pass)
    for ((mode, extra) <- Seq("merge" -> Seq.empty, "cdc" -> Seq("op"),
                              "dvmerge" -> Seq.empty)) {
      val d = Files.createTempDirectory(s"graft_lakesink_1pass$mode").toString
      val s = new graft.sources.LakeStreamSink(d, mode, Some("band"),
        Seq.empty, Seq("custkey"), "graft-lake-stream")
      def epoch(keep: org.apache.spark.sql.Column) =
        Seq((1L, 10L, "U")).toDF("custkey", "cents", "op")
          .withColumn("band", col("custkey") % 4).filter(keep)
          .select((Seq("custkey", "cents", "band") ++ extra).map(col): _*)
      s.addBatch(0L, epoch(col("custkey") < 0L))
      assert(LakeTable.currentVersion(d).isEmpty, mode)
      s.addBatch(1L, epoch(lit(true)))
      assert(LakeTable.currentVersion(d).contains(1L), mode)
      s.addBatch(2L, epoch(col("custkey") < 0L))
      assert(LakeTable.currentVersion(d).contains(1L),
        s"an empty $mode epoch must not mint a version")
      assert(LakeTable.appliedBatch(d, "graft-lake-stream").contains(1L),
        s"an empty $mode epoch must not consume the watermark")
    }
  }

  test("getOffset probes only the window above the last offset, " +
       "not the full history (r11 ask #5)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_lakestream_probe_").toString
    val n = 12
    for (i <- 1 to n)
      assert(LakeTable.append(spark, dir,
        Seq((i.toLong, i.toLong)).toDF("k", "v"))(_ => None)
        == Right(i.toLong))
    val src = new graft.sources.LakeStreamSource(
      spark.sqlContext, dir, 0L, None)
    def latest = Option(src.latestOffset(null, src.getDefaultReadLimit))
    // first trigger of a fresh stream: pays the one-time walk from
    // startingVersion and advertises the head
    assert(latest.map(_.json.trim.toLong).contains(n.toLong))
    // quiet trigger: exactly ONE probe past the floor (the first
    // unclaimed number), independent of the n-version history
    val q0 = LakeTable.probeCount.get()
    assert(latest.map(_.json.trim.toLong).contains(n.toLong))
    assert(LakeTable.probeCount.get() - q0 <= 2L,
      s"a quiet trigger must probe O(1), not O(history): " +
      s"${LakeTable.probeCount.get() - q0} probes")
    // one new commit: the discovery walk touches only (floor, current]
    assert(LakeTable.append(spark, dir,
      Seq((99L, 99L)).toDF("k", "v"))(_ => None) == Right(n + 1L))
    val q1 = LakeTable.probeCount.get()
    assert(latest.map(_.json.trim.toLong).contains(n + 1L))
    assert(LakeTable.probeCount.get() - q1 <= 3L,
      s"discovering one new version must probe the window only: " +
      s"${LakeTable.probeCount.get() - q1} probes")
  }

  test("maxFilesPerTrigger (r14, behavior 52): pending versions admit " +
       "by the added-file budget, at least one per batch, on both V2 " +
       "streams") {
    import spark.implicits._
    val cat = "graft_lake_mftcat"
    val wh = Files.createTempDirectory("graft_lake_whmft_").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.LakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val dir = java.nio.file.Paths.get(wh, "default", "mft").toString
    // three appends of TWO one-row files each (6 rows, 6 files)
    for (i <- 0 to 2)
      assert(LakeTable.append(spark, dir,
        Seq((i * 2L, 1L), (i * 2L + 1L, 1L)).toDF("k", "v")
          .repartition(2))(_ => None) == Right(i + 1L))
    assert(LakeTable.filesOf(dir, 3L).size == 6,
      "fixture: two files per version")
    def drain(maxFiles: Int): Seq[Int] = {
      val sizes = mutable.ArrayBuffer.empty[Int]
      val cp = Files.createTempDirectory("graft_mft_cp_").toString
      val q = spark.readStream
        .option("maxFilesPerTrigger", maxFiles.toString)
        .table(s"$cat.default.mft")
        .writeStream.option("checkpointLocation", cp)
        .foreachBatch { (df: DataFrame, _: Long) =>
          val n = df.count().toInt
          if (n > 0) sizes.synchronized { sizes += n }
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      sizes.toSeq
    }
    // budget 3: each 2-file version fits alone (2 ≤ 3) but two don't
    // (4 > 3) → one version per batch
    assert(drain(3) == Seq(2, 2, 2),
      "budget 3 admits one 2-file version per batch")
    // budget 4: two versions per batch, then the remainder
    assert(drain(4) == Seq(4, 2),
      "budget 4 admits two versions, then the tail")
    // budget 1: smaller than any single version — at least one version
    // still drains per batch (progress guarantee)
    assert(drain(1) == Seq(2, 2, 2),
      "an oversized first commit still drains")

    // the change-feed stream takes the same option
    val feedSizes = mutable.ArrayBuffer.empty[Int]
    val cp2 = Files.createTempDirectory("graft_mft_cp2_").toString
    val qf = spark.readStream
      .option("maxFilesPerTrigger", "3")
      .table(s"$cat.default.mft.changes")
      .writeStream.option("checkpointLocation", cp2)
      .foreachBatch { (df: DataFrame, _: Long) =>
        val n = df.count().toInt
        if (n > 0) feedSizes.synchronized { feedSizes += n }
        ()
      }
      .start()
    try qf.processAllAvailable() finally qf.stop()
    assert(feedSizes.toSeq == Seq(2, 2, 2),
      s"the feed admits by the same budget: $feedSizes")
    spark.sql(s"DROP TABLE $cat.default.mft")
  }

  test("maxBytesPerTrigger (r15, behavior 53): pending versions admit " +
       "by the added-BYTE budget from the manifest's recorded sizes, " +
       "at least one per batch, on both V2 streams") {
    import spark.implicits._
    val cat = "graft_lake_mbtcat"
    val wh = Files.createTempDirectory("graft_lake_whmbt_").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.LakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val dir = java.nio.file.Paths.get(wh, "default", "mbt").toString
    for (i <- 0 to 2)
      assert(LakeTable.append(spark, dir,
        Seq((i * 2L, 1L), (i * 2L + 1L, 1L)).toDF("k", "v")
          .repartition(2))(_ => None) == Right(i + 1L))
    // per-version ADDED bytes straight from the recorded manifest sizes
    // — the same arithmetic the admission control runs
    val addedBytes = (1 to 3).map { v =>
      val prev = if (v == 1) Set.empty[String]
                 else LakeTable.filesOf(dir, v - 1L).toSet
      val sizes = LakeTable.bytesOf(dir, v.toLong)
      LakeTable.filesOf(dir, v.toLong).filterNot(prev).map(sizes).sum
    }
    assert(addedBytes.forall(_ > 0L), s"fixture needs real sizes: $addedBytes")
    def drain(budget: Long): Seq[Int] = {
      val sizes = mutable.ArrayBuffer.empty[Int]
      val cp = Files.createTempDirectory("graft_mbt_cp_").toString
      val q = spark.readStream
        .option("maxBytesPerTrigger", budget.toString)
        .table(s"$cat.default.mbt")
        .writeStream.option("checkpointLocation", cp)
        .foreachBatch { (df: DataFrame, _: Long) =>
          val n = df.count().toInt
          if (n > 0) sizes.synchronized { sizes += n }
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      sizes.toSeq
    }
    // budget = one version's bytes: each version fits alone, pairs don't
    assert(drain(addedBytes.max) == Seq(2, 2, 2),
      "a one-version byte budget admits one version per batch")
    // budget = two versions' bytes: two versions, then the tail
    assert(drain(addedBytes(0) + addedBytes(1)) == Seq(4, 2),
      "a two-version byte budget admits two, then the tail")
    // budget smaller than any commit: the oversized commit still drains
    assert(drain(1L) == Seq(2, 2, 2),
      "an oversized first commit still makes progress")
    // the change feed takes the same option
    val feedSizes = mutable.ArrayBuffer.empty[Int]
    val cp2 = Files.createTempDirectory("graft_mbt_cp2_").toString
    val qf = spark.readStream
      .option("maxBytesPerTrigger", addedBytes.max.toString)
      .table(s"$cat.default.mbt.changes")
      .writeStream.option("checkpointLocation", cp2)
      .foreachBatch { (df: DataFrame, _: Long) =>
        val n = df.count().toInt
        if (n > 0) feedSizes.synchronized { feedSizes += n }
        ()
      }
      .start()
    try qf.processAllAvailable() finally qf.stop()
    assert(feedSizes.toSeq == Seq(2, 2, 2),
      s"the feed admits by the same byte budget: $feedSizes")
    spark.sql(s"DROP TABLE $cat.default.mbt")
  }

  test("Trigger.AvailableNow (r15, behavior 54): a backlog drains in " +
       "ceil(N/cap) bounded batches, the query STOPS BY ITSELF, and a " +
       "second run reads only what arrived since — both V2 streams") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val cat = "graft_lake_ancat"
    val wh = Files.createTempDirectory("graft_lake_whan_").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.LakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val dir = java.nio.file.Paths.get(wh, "default", "an1").toString
    for (i <- 1 to 4)
      assert(LakeTable.append(spark, dir,
        Seq((i.toLong, i * 10L)).toDF("k", "v"))(_ => None)
        == Right(i.toLong))
    val cp = Files.createTempDirectory("graft_an_cp_").toString
    def runOnce(): Seq[Int] = {
      val sizes = mutable.ArrayBuffer.empty[Int]
      val q = spark.readStream
        .option("maxVersionsPerTrigger", "2")
        .table(s"$cat.default.an1")
        .writeStream.option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (df: DataFrame, _: Long) =>
          val n = df.count().toInt
          if (n > 0) sizes.synchronized { sizes += n }
          ()
        }
        .start()
      assert(q.awaitTermination(120000),
        "an AvailableNow query must stop by itself once caught up")
      sizes.toSeq
    }
    // 4 pending versions, cap 2 → two batches of 2 rows, then stop
    assert(runOnce() == Seq(2, 2),
      "the backlog drains in ceil(4/2) bounded batches")
    // nothing new: the next scheduled run reads nothing and stops
    assert(runOnce() == Seq())
    // two more commits: only they drain on the next run (same WAL)
    for (i <- 5 to 6)
      assert(LakeTable.append(spark, dir,
        Seq((i.toLong, i * 10L)).toDF("k", "v"))(_ => None)
        == Right(i.toLong))
    assert(runOnce() == Seq(2),
      "a later run reads exactly what arrived since")

    // the change feed drains-and-stops the same way
    val cp2 = Files.createTempDirectory("graft_an_cp2_").toString
    val feedRows = mutable.ArrayBuffer.empty[Int]
    val qf = spark.readStream
      .option("maxVersionsPerTrigger", "3")
      .table(s"$cat.default.an1.changes")
      .writeStream.option("checkpointLocation", cp2)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, _: Long) =>
        val n = df.count().toInt
        if (n > 0) feedRows.synchronized { feedRows += n }
        ()
      }
      .start()
    assert(qf.awaitTermination(120000),
      "an AvailableNow feed query must stop by itself")
    assert(feedRows.toSeq == Seq(3, 3),
      s"6 versions at cap 3 drain in two feed batches: $feedRows")
    spark.sql(s"DROP TABLE $cat.default.an1")
  }

  test("the three stream readers split one backlog into the same " +
       "version windows at maxVersionsPerTrigger=2, continuous and " +
       "AvailableNow") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{DataStreamReader, Trigger}
    val cat = "graft_lake_paritycat"
    val wh = Files.createTempDirectory("graft_lake_whparity_").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.LakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val dir = java.nio.file.Paths.get(wh, "default", "p1").toString
    // five one-row versions: row k lands in version k, so a batch's set
    // of k IS its version set on the rows stream and the feeds alike
    for (i <- 1 to 5)
      assert(LakeTable.append(spark, dir,
        Seq((i.toLong, i * 10L)).toDF("k", "v"))(_ => None)
        == Right(i.toLong))
    def windows(open: DataStreamReader => DataFrame,
                availableNow: Boolean): Seq[Set[Long]] = {
      val out = mutable.ArrayBuffer.empty[Set[Long]]
      val cp = Files.createTempDirectory("graft_parity_cp_").toString
      val w = open(spark.readStream.option("maxVersionsPerTrigger", "2"))
        .writeStream.option("checkpointLocation", cp)
        .foreachBatch { (df: DataFrame, _: Long) =>
          val ks = df.select("k").collect().map(_.getLong(0)).toSet
          if (ks.nonEmpty) out.synchronized { out += ks }
          ()
        }
      if (availableNow) {
        val q = w.trigger(Trigger.AvailableNow()).start()
        assert(q.awaitTermination(120000),
          "an AvailableNow query must stop by itself")
      } else {
        val q = w.start()
        try q.processAllAvailable() finally q.stop()
      }
      out.toSeq
    }
    val readers = Seq[(String, DataStreamReader => DataFrame)](
      "format(graft-lake)" ->
        (_.format("graft-lake").option("path", dir).load()),
      "readStream.table" -> (_.table(s"$cat.default.p1")),
      "t.changes" -> (_.table(s"$cat.default.p1.changes")))
    for ((name, open) <- readers; availableNow <- Seq(false, true))
      assert(windows(open, availableNow) ==
               Seq(Set(1L, 2L), Set(3L, 4L), Set(5L)),
        s"$name, availableNow=$availableNow")
    spark.sql(s"DROP TABLE $cat.default.p1")
  }

  test("startingTimestamp (r14): resolves to the newest version at or " +
       "before the instant, tails from there, and a restart replays the " +
       "WALed versions, not the clock") {
    import spark.implicits._
    val cat = "graft_lake_stscat"
    val wh = Files.createTempDirectory("graft_lake_whsts_").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.LakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val dir = java.nio.file.Paths.get(wh, "default", "ts1").toString
    val cp = Files.createTempDirectory("graft_lake_sts_cp_").toString
    for (i <- 1 to 3)
      assert(LakeTable.append(spark, dir,
        Seq((i.toLong, i.toLong * 10L)).toDF("k", "v"))(_ => None)
        == Right(i.toLong))
    // deterministic commit stamps (content-addressed markers): v1 @ t0,
    // v2 @ t0+1000, v3 @ t0+2000
    val t0 = System.currentTimeMillis() - 60000L
    for (v <- 1 to 3)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, s"commit-v$v"),
        (t0 + (v - 1) * 1000L).toString.getBytes("UTF-8"))

    val rows = mutable.ArrayBuffer.empty[Row]
    def start() = spark.readStream
      .option("startingTimestamp", (t0 + 1500L).toString)
      .table(s"$cat.default.ts1")
      .writeStream.option("checkpointLocation", cp)
      .foreachBatch { (df: DataFrame, _: Long) =>
        rows.synchronized { rows ++= df.collect() }
        ()
      }
      .start()
    // t0+1500 resolves to v2 (newest at-or-before) => deliver v3 only
    val q = start()
    try q.processAllAvailable() finally q.stop()
    assert(rows.map(_.getAs[Long]("k")).sorted == Seq(3L),
      s"only the versions committed AFTER the instant stream: $rows")
    // restart: the WALed version offsets drive replay — a new commit
    // arrives, the old ones do not re-emit even though the timestamp
    // mapping is re-evaluable
    assert(LakeTable.append(spark, dir,
      Seq((4L, 40L)).toDF("k", "v"))(_ => None) == Right(4L))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(rows.map(_.getAs[Long]("k")).sorted == Seq(3L, 4L),
      s"restart must tail from the checkpoint: $rows")

    // the CDF stream takes the same option
    val feedRows = mutable.ArrayBuffer.empty[Row]
    val cp2 = Files.createTempDirectory("graft_lake_sts_cp2_").toString
    val qf = spark.readStream
      .option("startingTimestamp", (t0 + 1500L).toString)
      .table(s"$cat.default.ts1.changes")
      .writeStream.option("checkpointLocation", cp2)
      .foreachBatch { (df: DataFrame, _: Long) =>
        feedRows.synchronized { feedRows ++= df.collect() }
        ()
      }
      .start()
    try qf.processAllAvailable() finally qf.stop()
    assert(feedRows.map(_.getAs[Long]("_commit_version")).toSet == Set(3L, 4L),
      s"the feed tails the same floor: $feedRows")
    // an instant before the first retained publish floors at 0 (full
    // replay); startingVersion and startingTimestamp refuse together
    assert(LakeTable.startingVersionOf(dir, None, Some((t0 - 5L).toString))
      == 0L)
    intercept[IllegalArgumentException] {
      LakeTable.startingVersionOf(dir, Some("1"), Some(t0.toString))
    }
    // ISO-8601 instants parse too
    assert(LakeTable.startingVersionOf(dir, None,
      Some(java.time.Instant.ofEpochMilli(t0 + 2500L).toString)) == 3L)
    spark.sql(s"DROP TABLE $cat.default.ts1")
  }

  test("fresh stream on a vacuumed table primes past the reclaimed gap " +
       "and delivers the live snapshot (ADVICE r11 high)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_lakestream_vac_").toString
    for (i <- 1 to 6)
      assert(LakeTable.append(spark, dir,
        Seq((i.toLong, i.toLong)).toDF("k", "v"))(_ => None)
        == Right(i.toLong))
    // vacuum keep=1 reclaims manifests v1..v5 — a fresh stream's dense
    // walk from floor 0 would find no manifest at v1 and stall forever
    // without the vacuum-floor hint
    LakeTable.vacuum(dir, 1)
    def freshStreamKeys(): Set[Long] = {
      val cp = Files.createTempDirectory("graft_lakestream_vaccp_").toString
      val rows = mutable.ArrayBuffer.empty[Row]
      val q = spark.readStream.format("graft-lake")
        .option("path", dir).load()
        .writeStream.option("checkpointLocation", cp)
        .foreachBatch { (df: DataFrame, _: Long) =>
          rows.synchronized { rows ++= df.collect() }
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      rows.map(_.getAs[Long]("k")).toSet
    }
    assert(freshStreamKeys() == (1L to 6L).toSet,
      "a fresh stream on a vacuumed table must deliver the live snapshot")
    // LEGACY table (vacuumed by a build that predates the hint): remove
    // the hint file — the source's one-time unprimed directory-listing
    // fallback must still prime the stream past the gap
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(dir, "vacuum-floor"))
    assert(freshStreamKeys() == (1L to 6L).toSet,
      "the unprimed listing fallback must cover hint-less vacuumed tables")
  }

  test("DV delete lands mid-stream between two merge epochs: the feed " +
       "folds the retraction exactly once across a restart (r12)") {
    val dir = Files.createTempDirectory("graft_lakestream_dv_").toString
    val cp = Files.createTempDirectory("graft_lakestream_dvcp_").toString
    val o = graft.ops.Tables.orders(spark, sf)
    val width = math.max(32L,
      o.agg(max(col("o_custkey"))).head.getLong(0) / 8L + 1L)
    val full = roll(o, width)
    assert(LakeTable.commit(spark, dir, full, Some("band"))(_ => None)
      == Right(1L))
    val batches = mutable.Map.empty[Long, Seq[Row]]
    def start() = spark.readStream.format("graft-lake")
      .option("path", dir).load()
      .writeStream.option("checkpointLocation", cp)
      .foreachBatch { (df: DataFrame, id: Long) =>
        batches.synchronized { batches(id) = df.collect().toSeq }
        ()
      }
      .start()
    val hit = col("custkey") % 10 === 7
    val q = start()
    try {
      q.processAllAvailable()
      // merge epoch (v2), then the DV delete lands mid-stream (v3)
      assert(LakeTable.mergePartial(spark, dir,
        full.filter(col("band") === 0)
          .withColumn("cents", col("cents") + lit(1L)),
        Seq("custkey"), "band")(_ => None) == Right(2L))
      assert(LakeTable.deleteWhereDv(spark, dir, hit)(_ => None)
        == Right(3L))
      q.processAllAvailable()
      assert(fold(batches) == liveKeys(dir),
        "fold through the mid-stream DV delete")
    } finally q.stop()
    // second merge epoch lands WHILE THE STREAM IS DOWN, on the still
    // DV-bearing table (the r12 DV-aware rewrite) — the restarted stream
    // must deliver only v4 and the DV retraction must not replay
    assert(LakeTable.mergePartial(spark, dir,
      full.filter(col("band") === 1 && !hit)
        .withColumn("n_orders", col("n_orders") + lit(5L)),
      Seq("custkey"), "band")(_ => None) == Right(4L))
    val pre = batches.keySet.toSet
    val q2 = start()
    try {
      q2.processAllAvailable()
      val newRows = batches.filterKeys(!pre.contains(_)).values.flatten
      assert(newRows.map(_.getAs[Long]("_commit_version")).toSet == Set(4L),
        "restart must deliver only the post-delete merge epoch")
      assert(fold(batches) == liveKeys(dir),
        "the DV retraction folds exactly once across the restart")
      assert(!fold(batches).exists { case (ck, _, _, _) => ck % 10 == 7 },
        "DV-deleted keys must stay retracted through later merges")
    } finally q2.stop()
  }

  test("DV update and DV merge replay through the live stream as " +
       "retract-old + insert-new (r12, behavior 44)") {
    val dir = Files.createTempDirectory("graft_lakestream_dvu_").toString
    val cp = Files.createTempDirectory("graft_lakestream_dvucp_").toString
    val o = graft.ops.Tables.orders(spark, sf)
    val width = math.max(32L,
      o.agg(max(col("o_custkey"))).head.getLong(0) / 8L + 1L)
    val full = roll(o, width)
    assert(LakeTable.commit(spark, dir, full, Some("band"))(_ => None)
      == Right(1L))
    val batches = mutable.Map.empty[Long, Seq[Row]]
    val q = spark.readStream.format("graft-lake")
      .option("path", dir).load()
      .writeStream.option("checkpointLocation", cp)
      .foreachBatch { (df: DataFrame, id: Long) =>
        batches.synchronized { batches(id) = df.collect().toSeq }
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      // v2: DV UPDATE lands mid-stream (sidecar + fresh files, one commit)
      assert(LakeTable.updateWhereDv(spark, dir,
        col("custkey") % 10 === 1,
        Seq("cents" -> (col("cents") + lit(3L))),
        layoutBy = Some("band"))(_ => None) == Right(2L))
      q.processAllAvailable()
      assert(fold(batches) == liveKeys(dir), "fold through the DV update")
      // v3: DV MERGE (scattered upsert) lands mid-stream
      val src = LakeTable.read(spark, dir)
        .filter(col("custkey") % 10 === 2)
        .withColumn("n_orders", col("n_orders") + lit(9L))
      assert(LakeTable.mergeDv(spark, dir, src, Seq("custkey"),
        layoutBy = Some("band"))(_ => None) == Right(3L))
      q.processAllAvailable()
      assert(fold(batches) == liveKeys(dir), "fold through the DV merge")
      // both ops delivered retract+insert pairs, never silence
      val types = batches.values.flatten
        .groupBy(_.getAs[Long]("_commit_version"))
        .map { case (v, rs) =>
          v -> rs.map(_.getAs[String]("_change_type")).toSet }
      assert(types(2L) == Set("delete", "insert"),
        s"DV update must replay as retract+insert: ${types(2L)}")
      assert(types(3L) == Set("delete", "insert"),
        s"DV merge must replay as retract+insert: ${types(3L)}")
    } finally q.stop()
  }

  test("startingVersion tails new commits without replaying history") {
    val dir = Files.createTempDirectory("graft_lakestream_tail_").toString
    val cp = Files.createTempDirectory("graft_lakestream_tailcp_").toString
    val o = graft.ops.Tables.orders(spark, sf)
    val width = math.max(32L,
      o.agg(max(col("o_custkey"))).head.getLong(0) / 8L + 1L)
    val full = roll(o, width)
    assert(LakeTable.commit(spark, dir, full, Some("band"))(_ => None)
      == Right(1L))

    val rows = mutable.ArrayBuffer.empty[Row]
    val q = spark.readStream.format("graft-lake")
      .option("path", dir).option("startingVersion", "1")
      .load()
      .writeStream.option("checkpointLocation", cp)
      .foreachBatch { (df: DataFrame, _: Long) =>
        rows.synchronized { rows ++= df.collect() }
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      assert(rows.isEmpty, "history at or below startingVersion is skipped")
      assert(LakeTable.mergePartial(spark, dir,
        full.filter(col("band") === 2)
          .withColumn("n_orders", col("n_orders") + lit(1L)),
        Seq("custkey"), "band")(_ => None) == Right(2L))
      q.processAllAvailable()
      assert(rows.nonEmpty)
      assert(rows.map(_.getAs[Long]("_commit_version")).toSet == Set(2L))
      // the tailing consumer sees band 2's rewrite as retract+add pairs
      val bands = rows.map(_.getAs[Long]("band")).toSet
      assert(bands == Set(2L), "partial merge streams only touched bands")
    } finally q.stop()
  }

  test("readStream.table on a session-catalog lake table (r12, behavior " +
       "46): plain rows, append-only, change commits refuse or skip") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_lakestream_tbl_").toString
    val cp = Files.createTempDirectory("graft_lakestream_tblcp_").toString
    assert(LakeTable.commit(spark, dir,
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v"))(_ => None) == Right(1L))
    val tbl = "lake_stream_tbl_" +
      java.util.UUID.randomUUID().toString.replace("-", "_")
    spark.sql(s"CREATE TABLE $tbl USING `graft-lake` " +
      s"OPTIONS (path '$dir')")
    val batches = mutable.Map.empty[Long, Seq[Row]]
    val q = spark.readStream.table(tbl)
      .writeStream.option("checkpointLocation", cp)
      .foreachBatch { (df: DataFrame, id: Long) =>
        batches.synchronized { batches(id) = df.collect().toSeq }
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      val snap = batches.values.flatten.toSeq
      assert(snap.map(_.schema.fieldNames.toSeq).distinct
        == Seq(Seq("k", "v")),
        "rows mode must deliver the table's own columns, no feed columns")
      assert(snap.map(_.getAs[Long]("k")).sorted == Seq(1L, 2L),
        "the initial snapshot streams through the table name")
      // a live append streams incrementally through the same query
      assert(LakeTable.append(spark, dir,
        Seq((3L, 30L)).toDF("k", "v"))(_ => None) == Right(2L))
      q.processAllAvailable()
      assert(batches.values.flatten.map(_.getAs[Long]("k")).toSeq.sorted
        == Seq(1L, 2L, 3L))
      // a DV delete is unrepresentable in plain rows: the stream refuses
      assert(LakeTable.deleteWhereDv(spark, dir, col("k") === 1L)(_ => None)
        == Right(3L))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(e.getMessage.contains("skipChangeCommits") ||
             Option(e.getCause).exists(_.getMessage
               .contains("skipChangeCommits")),
        s"the refusal must name the escape hatch: ${e.getMessage}")
    } finally q.stop()

    // skipChangeCommits=true drops the change version wholesale and the
    // stream continues past it (fresh checkpoint: replays v1-v3, skips
    // v3's delete, then delivers the post-delete append)
    val cp2 = Files.createTempDirectory("graft_lakestream_tblcp2_").toString
    val rows2 = mutable.ArrayBuffer.empty[Row]
    val q2 = spark.readStream.option("skipChangeCommits", "true").table(tbl)
      .writeStream.option("checkpointLocation", cp2)
      .foreachBatch { (df: DataFrame, _: Long) =>
        rows2.synchronized { rows2 ++= df.collect() }
        ()
      }
      .start()
    try {
      q2.processAllAvailable()
      assert(rows2.map(_.getAs[Long]("k")).sorted == Seq(1L, 2L, 3L),
        "skipChangeCommits must pass append versions and drop the delete")
      assert(LakeTable.append(spark, dir,
        Seq((4L, 40L)).toDF("k", "v"))(_ => None) == Right(4L))
      q2.processAllAvailable()
      assert(rows2.map(_.getAs[Long]("k")).sorted == Seq(1L, 2L, 3L, 4L))
    } finally {
      q2.stop()
      spark.sql(s"DROP TABLE $tbl")
    }
  }

  test("readStream.table through the DSv2 catalog (r12, behavior 47): " +
       "rows-mode micro-batch scan over per-file partitions") {
    import spark.implicits._
    val cat = "graft_lake_streamcat"
    val wh = Files.createTempDirectory("graft_lake_whstream_").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.LakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val dir = java.nio.file.Paths.get(wh, "default", "s1").toString
    val cp = Files.createTempDirectory("graft_lake_streamcat_cp_").toString
    assert(LakeTable.commit(spark, dir,
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v"))(_ => None) == Right(1L))

    val batches = mutable.Map.empty[Long, Seq[Row]]
    val q = spark.readStream.table(s"$cat.default.s1")
      .writeStream.option("checkpointLocation", cp)
      .foreachBatch { (df: DataFrame, id: Long) =>
        batches.synchronized { batches(id) = df.collect().toSeq }
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      val snap = batches.values.flatten.toSeq
      assert(snap.map(_.schema.fieldNames.toSeq).distinct
        == Seq(Seq("k", "v")),
        "the V2 stream delivers the table's own columns")
      assert(snap.map(_.getAs[Long]("k")).sorted == Seq(1L, 2L))
      // a live SQL INSERT streams incrementally (catalog DML + V2 stream
      // composing on one table)
      spark.sql(s"INSERT INTO $cat.default.s1 VALUES (3, 30)")
      q.processAllAvailable()
      assert(batches.values.flatten.map(_.getAs[Long]("k")).toSeq.sorted
        == Seq(1L, 2L, 3L))
      // a delete is unrepresentable in plain rows: the stream refuses
      spark.sql(s"DELETE FROM $cat.default.s1 WHERE k = 1")
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def names(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x =>
          x.getMessage +: names(x.getCause).map(identity))
      assert(names(e).exists(m => m != null &&
               m.contains("skipChangeCommits")),
        s"the refusal must name the escape hatch: ${e.getMessage}")
    } finally q.stop()

    // skipChangeCommits: fresh checkpoint streams past the delete and
    // continues with later appends; exactly-once across a restart
    val cp2 = Files.createTempDirectory("graft_lake_streamcat_cp2_").toString
    val rows2 = mutable.ArrayBuffer.empty[Row]
    def start2() = spark.readStream
      .option("skipChangeCommits", "true").table(s"$cat.default.s1")
      .writeStream.option("checkpointLocation", cp2)
      .foreachBatch { (df: DataFrame, _: Long) =>
        rows2.synchronized { rows2 ++= df.collect() }
        ()
      }
      .start()
    val q2 = start2()
    try {
      q2.processAllAvailable()
      assert(rows2.map(_.getAs[Long]("k")).sorted == Seq(1L, 2L, 3L))
    } finally q2.stop()
    spark.sql(s"INSERT INTO $cat.default.s1 VALUES (4, 40)")
    val q3 = start2()
    try {
      q3.processAllAvailable()
      assert(rows2.map(_.getAs[Long]("k")).sorted == Seq(1L, 2L, 3L, 4L),
        "the restarted stream must deliver exactly the new version")
    } finally {
      q3.stop()
      spark.sql(s"DROP TABLE $cat.default.s1")
    }
  }

  test("change feed through the DSv2 catalog (r13, behavior 49): " +
       "`ns.t.changes` streams _change_type rows exactly-once across " +
       "restart; batch read replays the history") {
    val cat = "graft_lake_cdfcat"
    val wh = Files.createTempDirectory("graft_lake_whcdf_").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.LakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val dir = java.nio.file.Paths.get(wh, "default", "ft").toString
    val cp = Files.createTempDirectory("graft_lake_cdfcp_").toString
    val o = graft.ops.Tables.orders(spark, sf)
    val width = math.max(32L,
      o.agg(max(col("o_custkey"))).head.getLong(0) / 8L + 1L)
    val full = roll(o, width)
    val v1 = full.filter(col("band") =!= 0)
      .unionByName(roll(o.filter(
        col("o_orderdate") < lit("1997-01-01").cast("timestamp")), width)
        .filter(col("band") === 0))
    assert(LakeTable.commit(spark, dir, v1, Some("band"))(_ => None)
      == Right(1L))

    val batches = mutable.Map.empty[Long, Seq[Row]]
    def start() = spark.readStream.table(s"$cat.default.ft.changes")
      .writeStream.option("checkpointLocation", cp)
      .foreachBatch { (df: DataFrame, id: Long) =>
        batches.synchronized { batches(id) = df.collect().toSeq }
        ()
      }
      .start()
    val q = start()
    try {
      q.processAllAvailable()
      val first = batches.values.flatten.toSeq
      assert(first.nonEmpty &&
        first.forall(_.getAs[String]("_change_type") == "insert"),
        "the initial snapshot replays as inserts")
      assert(first.forall(r => !r.isNullAt(
        r.fieldIndex("_commit_timestamp"))),
        "every feed row carries its publish instant")
      assert(fold(batches) == liveKeys(dir), "v1 snapshot folds to live")

      // DV delete mid-stream: retractions, exactly once
      assert(LakeTable.deleteWhereDv(spark, dir,
        col("custkey") % 10 === 7)(_ => None) == Right(2L))
      q.processAllAvailable()
      assert(fold(batches) == liveKeys(dir), "DV delete folds to live")

      // DV merge: retract matched + insert fresh copies
      assert(LakeTable.mergeDv(spark, dir,
        full.filter(col("band") === 0), Seq("custkey"),
        layoutBy = Some("band"))(_ => None) == Right(3L))
      q.processAllAvailable()
      assert(fold(batches) == liveKeys(dir), "DV merge folds to live")

      // OPTIMIZE is silent in the feed
      val before = batches.values.map(_.size).sum
      assert(LakeTable.optimize(spark, dir, Long.MaxValue, Seq.empty,
        layoutBy = Some("band")) == Right(4L))
      q.processAllAvailable()
      assert(batches.values.map(_.size).sum == before,
        "optimize rewrites layout, not rows — the feed stays silent")
    } finally q.stop()

    // exactly-once across a restart: an append lands while the stream is
    // down; the restarted stream delivers exactly the new version
    assert(LakeTable.append(spark, dir,
      v1.limit(1).withColumn("custkey", col("custkey") + 1000000L))(
      _ => None) == Right(5L))
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(fold(batches) == liveKeys(dir),
        "the restarted stream must fold to the live table exactly once")
    } finally q2.stop()

    // the batch spelling of the same surface replays the whole history
    val hist = spark.table(s"$cat.default.ft.changes")
    val histFold = hist.collect()
      .foldLeft(Map.empty[Key, Long]) { (m, r) =>
        val w = if (r.getAs[String]("_change_type") == "delete") -1L else 1L
        m.updated(key(r), m.getOrElse(key(r), 0L) + w)
      }.collect { case (k, m) if m > 0 => k }.toSet
    assert(histFold == liveKeys(dir),
      "batch `.changes` read folds the retained history to the live table")
    spark.sql(s"DROP TABLE $cat.default.ft")
  }

  test("V2 stream rate limiting (r13, behavior 51): maxVersionsPerTrigger " +
       "caps each micro-batch to N commit versions on rows and feed " +
       "streams, exactly-once preserved") {
    import spark.implicits._
    val cat = "graft_lake_ratecat"
    val wh = Files.createTempDirectory("graft_lake_whrate_").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.LakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val dir = java.nio.file.Paths.get(wh, "default", "rt").toString
    for (i <- 1 to 5)
      assert(LakeTable.append(spark, dir,
        Seq((i.toLong, i.toLong * 10L)).toDF("k", "v"))(_ => None)
        == Right(i.toLong))

    // rows mode: 5 pending versions at 1/trigger = exactly 5 batches
    val cp = Files.createTempDirectory("graft_lake_rate_cp_").toString
    val batches = mutable.Map.empty[Long, Seq[Row]]
    val q = spark.readStream.option("maxVersionsPerTrigger", "1")
      .table(s"$cat.default.rt")
      .writeStream.option("checkpointLocation", cp)
      .foreachBatch { (df: DataFrame, id: Long) =>
        batches.synchronized { batches(id) = df.collect().toSeq }
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    val nonEmpty = batches.filter(_._2.nonEmpty)
    assert(nonEmpty.size == 5,
      s"5 versions at 1/trigger must arrive as 5 batches: " +
      s"${batches.view.mapValues(_.size).toMap}")
    assert(nonEmpty.values.forall(_.size == 1),
      "each capped batch carries exactly one version's rows")
    assert(batches.values.flatten.map(_.getAs[Long]("k")).toSeq.sorted
      == (1L to 5L), "exactly-once across the capped batches")

    // feed stream: same cap, same per-version delivery
    val cp2 = Files.createTempDirectory("graft_lake_rate_cp2_").toString
    val batches2 = mutable.Map.empty[Long, Seq[Row]]
    val q2 = spark.readStream.option("maxVersionsPerTrigger", "2")
      .table(s"$cat.default.rt.changes")
      .writeStream.option("checkpointLocation", cp2)
      .foreachBatch { (df: DataFrame, id: Long) =>
        batches2.synchronized { batches2(id) = df.collect().toSeq }
        ()
      }
      .start()
    try q2.processAllAvailable() finally q2.stop()
    val ne2 = batches2.filter(_._2.nonEmpty)
    assert(ne2.size == 3,
      s"5 versions at 2/trigger = 3 feed batches: " +
      s"${batches2.view.mapValues(_.size).toMap}")
    assert(batches2.values.flatten
      .map(_.getAs[Long]("_commit_version")).toSet == (1L to 5L).toSet)
    spark.sql(s"DROP TABLE $cat.default.rt")
  }

  test("V2 stream restart from a vacuumed checkpoint version refuses " +
       "loudly instead of re-emitting carried files (ADVICE r12)") {
    import spark.implicits._
    val cat = "graft_lake_vaccat"
    val wh = Files.createTempDirectory("graft_lake_whvacv2_").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.LakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val dir = java.nio.file.Paths.get(wh, "default", "vt").toString
    val cp = Files.createTempDirectory("graft_lake_vacv2_cp_").toString
    for (i <- 1 to 3)
      assert(LakeTable.append(spark, dir,
        Seq((i.toLong, i.toLong * 10L)).toDF("k", "v"))(_ => None)
        == Right(i.toLong))
    val rows = mutable.ArrayBuffer.empty[Row]
    def start() = spark.readStream.table(s"$cat.default.vt")
      .writeStream.option("checkpointLocation", cp)
      .foreachBatch { (df: DataFrame, _: Long) =>
        rows.synchronized { rows ++= df.collect() }
        ()
      }
      .start()
    val q = start()
    try q.processAllAvailable() finally q.stop()
    assert(rows.map(_.getAs[Long]("k")).sorted == Seq(1L, 2L, 3L))
    // two more appends land while the stream is down, then vacuum
    // reclaims every manifest below the live version — INCLUDING v3,
    // the checkpointed offset. filesOf(v3) would read empty, so v4's
    // carried files (= all of v1..v3's data) would re-emit as "added":
    // silent duplicates. The restart must refuse instead.
    for (i <- 4 to 5)
      assert(LakeTable.append(spark, dir,
        Seq((i.toLong, i.toLong * 10L)).toDF("k", "v"))(_ => None)
        == Right(i.toLong))
    LakeTable.vacuum(dir, 1)
    val q2 = start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    }
    q2.stop()
    def names(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ names(x.getCause))
    assert(names(e).exists(_.contains("vacuumed")),
      s"the refusal must name the vacuumed version: ${e.getMessage}")
    assert(rows.map(_.getAs[Long]("k")).sorted == Seq(1L, 2L, 3L),
      "no duplicate or partial rows may be delivered past the gap")
    spark.sql(s"DROP TABLE $cat.default.vt")
  }

  test("writeStream.toTable through the DSv2 catalog (r12, behavior 48): " +
       "exactly-once epoch appends, Complete overwrites, CHECK gates") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cat = "graft_lake_writecat"
    val wh = Files.createTempDirectory("graft_lake_whwrite_").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.LakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val dir = java.nio.file.Paths.get(wh, "default", "w1").toString
    spark.sql(s"CREATE TABLE $cat.default.w1 (k BIGINT, v BIGINT)")

    // APPEND mode: the first epoch births v1, later epochs are
    // zero-rewrite appends, empty epochs publish nothing
    val mem = MemoryStream[(Long, Long)]
    val cp = Files.createTempDirectory("graft_lake_writecat_cp_").toString
    val q = mem.toDF().toDF("k", "v").writeStream
      .option("checkpointLocation", cp)
      .toTable(s"$cat.default.w1")
    try {
      mem.addData((1L, 10L), (2L, 20L))
      q.processAllAvailable()
      assert(LakeTable.currentVersion(dir).contains(1L),
        "the first streamed epoch must birth v1")
      assert(spark.table(s"$cat.default.w1").collect()
        .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
      val filesV1 = LakeTable.currentFiles(dir).toSet
      mem.addData((3L, 30L))
      q.processAllAvailable()
      assert(LakeTable.currentVersion(dir).contains(2L))
      assert(filesV1.subsetOf(LakeTable.currentFiles(dir).toSet),
        "a streamed epoch append must carry every live file (zero rewrite)")
      assert(spark.table(s"$cat.default.w1").count() == 3L)
      // an empty trigger publishes nothing and consumes nothing
      q.processAllAvailable()
      assert(LakeTable.currentVersion(dir).contains(2L))
      // the epoch watermark rides the manifest under the query's own key
      assert(LakeTable.appliedBatch(dir).isEmpty &&
        spark.sql(s"DESCRIBE HISTORY $cat.default.w1").count() == 2L)
    } finally q.stop()
    // batch reads, SQL DML, and the V2 stream write compose on one table
    spark.sql(s"DELETE FROM $cat.default.w1 WHERE k = 1")
    assert(spark.table(s"$cat.default.w1").count() == 2L)

    // COMPLETE mode: a streaming aggregate overwrites the table per epoch
    spark.sql(s"CREATE TABLE $cat.default.w2 (k BIGINT, n BIGINT)")
    val dir2 = java.nio.file.Paths.get(wh, "default", "w2").toString
    val mem2 = MemoryStream[Long]
    val cp2 = Files.createTempDirectory("graft_lake_writecat_cp2_").toString
    val q2 = mem2.toDF().toDF("k")
      .groupBy("k").agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete")
      .option("checkpointLocation", cp2)
      .toTable(s"$cat.default.w2")
    try {
      mem2.addData(7L, 7L, 8L)
      q2.processAllAvailable()
      assert(spark.table(s"$cat.default.w2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
        == Seq((7L, 2L), (8L, 1L)))
      mem2.addData(7L)
      q2.processAllAvailable()
      assert(spark.table(s"$cat.default.w2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
        == Seq((7L, 3L), (8L, 1L)),
        "Complete mode must replace the table content each epoch")
      assert(LakeTable.opOf(dir2,
        LakeTable.currentVersion(dir2).get) == "overwrite")
    } finally q2.stop()

    // a declared CHECK gates streamed epochs: the violating epoch fails
    // the query and publishes nothing
    spark.sql(s"CREATE TABLE $cat.default.w3 (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('check'='v > 0')")
    val dir3 = java.nio.file.Paths.get(wh, "default", "w3").toString
    val mem3 = MemoryStream[(Long, Long)]
    val cp3 = Files.createTempDirectory("graft_lake_writecat_cp3_").toString
    val q3 = mem3.toDF().toDF("k", "v").writeStream
      .option("checkpointLocation", cp3)
      .toTable(s"$cat.default.w3")
    try {
      mem3.addData((1L, -5L))
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q3.processAllAvailable()
      }
      assert(LakeTable.currentVersion(dir3).isEmpty,
        "a CHECK-violating epoch must publish nothing")
    } finally q3.stop()

    // behavior 50 (r13): a LAYOUT table streams through the V2 write
    // WITH its prune metadata — executor writers stage one file per
    // layout value under `_layout=<value>/` segments, so partial merges
    // prune streamed files exactly like batch-written ones
    spark.sql(s"CREATE TABLE $cat.default.w4 " +
      "(k BIGINT, band BIGINT) PARTITIONED BY (band) " +
      "TBLPROPERTIES ('statsBy'='k')")
    val dir4 = java.nio.file.Paths.get(wh, "default", "w4").toString
    val mem4 = MemoryStream[(Long, Long)]
    val cp4 = Files.createTempDirectory("graft_lake_writecat_cp4_").toString
    val q4 = mem4.toDF().toDF("k", "band").writeStream
      .option("checkpointLocation", cp4)
      .toTable(s"$cat.default.w4")
    try {
      mem4.addData((1L, 0L), (2L, 0L), (3L, 1L), (4L, 2L))
      q4.processAllAvailable()
      mem4.addData((5L, 1L))
      q4.processAllAvailable()
    } finally q4.stop()
    assert(spark.table(s"$cat.default.w4").count() == 5L)
    val files4 = LakeTable.currentFiles(dir4)
    assert(files4.nonEmpty && files4.forall(_.contains("_layout=")),
      s"streamed files must carry layout segments: $files4")
    assert(Seq("0", "1", "2").forall(b =>
      files4.exists(_.contains(s"_layout=$b/"))),
      s"one staged file per touched band per epoch: $files4")
    assert(LakeTable.statsOf(dir4,
      LakeTable.currentVersion(dir4).get).keys.exists(_._2 == "k"),
      "the declared statsBy column must record for streamed files")
    // the prune metadata WORKS: a partial merge touching band 1 carries
    // every band-0/band-2 streamed file verbatim and rewrites band 1
    val untouched = files4.filterNot(_.contains("_layout=1/")).toSet
    val touched = files4.filter(_.contains("_layout=1/")).toSet
    import spark.implicits._
    assert(LakeTable.mergePartial(spark, dir4,
      Seq((5L, 1L)).toDF("k", "band"), Seq("k"), "band")(_ => None).isRight)
    val after4 = LakeTable.currentFiles(dir4).toSet
    assert(untouched.subsetOf(after4),
      "untouched bands' streamed files must carry verbatim")
    assert(touched.forall(f => !after4.contains(f)),
      "the touched band's streamed files must rewrite")
    Seq("w1", "w2", "w3", "w4").foreach(t =>
      spark.sql(s"DROP TABLE $cat.default.$t"))
  }
}
