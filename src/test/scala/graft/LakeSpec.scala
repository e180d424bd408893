package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.LakeTable

/** Crash-replay proof for the write-audit-publish commit protocol
  * (StreamingDurabilitySpec's discipline applied to the batch sink, r6
  * verdict ask #3): kill the protocol between EVERY pair of stages and
  * assert a reader following the manifest never observes anything but
  * the last published version — no partial file lists, no staged data,
  * no half-written pointers. */
class LakeSpec extends SparkTestBase {

  private def snap(keyMax: Int): DataFrame =
    graft.ops.Tables.orders(spark, sf)
      .filter(col("o_custkey") <= keyMax)
      .groupBy(col("o_custkey").as("custkey"))
      .agg(count(lit(1)).cast("long").as("n_orders"))

  private def gate(df: DataFrame): Option[String] =
    if (df.count() == 0L) Some("empty snapshot") else None

  private def readKeys(dir: String): Set[Long] =
    LakeTable.read(spark, dir).collect().map(_.getAs[Long]("custkey")).toSet

  test("column mapping composes with the whole protocol (r13): rename × " +
       "partial merge × DV DML × optimize × clone × feed × restore") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_lake_cmap_").toString
    // v1: laid out by band, stats on k
    val base = (1L to 40L).map(k => (k, k % 4, k * 10L))
      .toDF("k", "band", "v")
    assert(LakeTable.commit(spark, dir, base, Some("band"),
      Seq("k"))(_ => None) == Right(1L))
    assert(LakeTable.renameColumn(dir, "v", "amount") == Right(2L))

    // partial merge on the RENAMED layout table: upserts arrive in the
    // new logical shape, only the touched band rewrites
    val filesPre = LakeTable.currentFiles(dir)
    val untouched = filesPre.filterNot(_.contains("_layout=1")).toSet
    assert(LakeTable.mergePartial(spark, dir,
      Seq((1L, 1L, 9999L)).toDF("k", "band", "amount"),
      Seq("k"), "band")(_ => None) == Right(3L))
    assert(untouched.subsetOf(LakeTable.currentFiles(dir).toSet),
      "partial merge on a renamed table must still prune by band")
    assert(LakeTable.read(spark, dir).filter(col("k") === 1L)
      .head.getAs[Long]("amount") == 9999L)

    // DV update + delete through the logical name
    assert(LakeTable.updateWhereDv(spark, dir, col("k") === 2L,
      Seq("amount" -> lit(7L)))(_ => None) == Right(4L))
    assert(LakeTable.deleteWhereDv(spark, dir,
      col("amount") === 30L)(_ => None) == Right(5L))
    val expect = (1L to 40L).filterNot(_ == 3L).map(k =>
      k -> (if (k == 1L) 9999L else if (k == 2L) 7L else k * 10L)).toMap
    def state(): Map[Long, Long] = LakeTable.read(spark, dir).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[Long]("amount")).toMap
    assert(state() == expect, "DV DML under the renamed column")

    // the change feed replays each version under its own names and
    // folds to the live table on the renamed column
    val feed = LakeTable.changesBetween(spark, dir, 0L, 5L)
    assert(feed.columns.contains("v") && feed.columns.contains("amount"),
      "pre-rename versions keep their era's name in the feed")
    val folded = feed.collect()
      .foldLeft(Map.empty[Long, (Long, Long)]) { (m, r) =>
        val k = r.getAs[Long]("k")
        val a = if (r.isNullAt(r.fieldIndex("amount")))
                  r.getAs[Long]("v") else r.getAs[Long]("amount")
        val w = if (r.getAs[String]("_change_type") == "delete") -1L else 1L
        val (cnt, _) = m.getOrElse(k, (0L, 0L))
        m.updated(k, (cnt + w, a))
      }.collect { case (k, (c, a)) if c > 0 => k -> a }
    assert(folded == expect, "the feed folds to the live renamed state")

    // OPTIMIZE purges the vectors and keeps the display map
    assert(LakeTable.optimize(spark, dir, Long.MaxValue, Seq.empty,
      layoutBy = Some("band")) == Right(6L))
    assert(state() == expect, "optimize conserves the renamed state")
    assert(LakeTable.currentLogicalSchema(dir).exists(_.name == "amount"),
      "the display map survives compaction")
    // stats pruning answers under the LOGICAL name after optimize
    assert(LakeTable.filesWhere(dir, "k", 1L, 1L).nonEmpty)

    // CLONE carries the mapping
    val dst = Files.createTempDirectory("graft_lake_cmapclone_").toString
    assert(LakeTable.cloneTable(dir, dst).isRight)
    assert(LakeTable.read(spark, dst).columns.contains("amount"))

    // RESTORE to the pre-rename era resurrects the old name
    assert(LakeTable.restore(spark, dir, 1L) == Right(7L))
    assert(LakeTable.read(spark, dir).columns.toSeq == Seq("k", "band", "v"))
    assert(LakeTable.read(spark, dir).filter(col("k") === 1L)
      .head.getAs[Long]("v") == 10L, "v1's content returns with its name")
  }

  test("MERGE null-key semantics (r13): null-keyed rows match nothing — " +
       "source nulls insert (duplicates legal), target nulls fall to " +
       "BY SOURCE") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_lake_nullmerge_").toString
    def L(x: Long): java.lang.Long = java.lang.Long.valueOf(x)
    val target = Seq((L(1L), L(10L)), (L(2L), L(20L)),
                     (null.asInstanceOf[java.lang.Long], L(99L)))
      .toDF("k", "v")
    assert(LakeTable.commit(spark, dir, target)(_ => None) == Right(1L))

    // canonical upsert with TWO null-keyed source rows: both are plain
    // inserts (SQL equality never matches them), not a cardinality
    // violation; the non-null key updates
    val src = Seq((L(1L), L(11L)),
                  (null.asInstanceOf[java.lang.Long], L(77L)),
                  (null.asInstanceOf[java.lang.Long], L(88L)))
      .toDF("k", "v")
    assert(LakeTable.mergeDv(spark, dir, src, Seq("k"))(_ => None)
      == Right(2L))
    val vs = LakeTable.read(spark, dir).collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0), r.getLong(1)))
      .toSeq.sorted
    assert(vs == Seq((-1L, 77L), (-1L, 88L), (-1L, 99L),
                     (1L, 11L), (2L, 20L)),
      s"null source rows insert, null target rows survive: $vs")

    // conditional merge: the null-keyed target rows are NOT MATCHED BY
    // SOURCE and age out; duplicate non-null keys still refuse
    assert(LakeTable.mergeConditionalDv(spark, dir,
      Seq((L(1L), L(0L))).toDF("k", "v"), Seq("k"),
      matched = Seq((None, Some(Seq("v" -> "s.`v`")))),
      notMatched = Seq.empty,
      bySource = Seq((Some("t.`k` IS NULL"), None)))(_ => None)
      == Right(3L))
    val vs2 = LakeTable.read(spark, dir).collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0), r.getLong(1)))
      .toSeq.sorted
    assert(vs2 == Seq((1L, 0L), (2L, 20L)),
      s"BY SOURCE must take the null-keyed target rows: $vs2")
    intercept[IllegalArgumentException] {
      LakeTable.mergeConditionalDv(spark, dir,
        Seq((L(1L), L(0L)), (L(1L), L(5L))).toDF("k", "v"), Seq("k"),
        matched = Seq((None, Some(Seq("v" -> "s.`v`")))),
        notMatched = Seq.empty, bySource = Seq.empty)(_ => None)
    }
  }

  test("manifest row counts (r14): every listed file and sidecar has a " +
       "recorded count, the live cardinality is manifest arithmetic, " +
       "and paranoid mode still full-scan-verifies") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_lake_rows14_").toString
    def liveByArithmetic(v: Long): Long = {
      val rows = LakeTable.rowsOf(dir, v)
      val files = LakeTable.filesOf(dir, v)
      val dv = LakeTable.dvOf(dir, v)
      assert((files ++ dv).forall(rows.contains),
        s"v$v must record a row count for every member: " +
        s"missing ${(files ++ dv).filterNot(rows.contains)}")
      files.map(rows).sum - dv.map(rows).sum
    }
    def assertEquation(v: Long): Unit =
      assert(liveByArithmetic(v) == LakeTable.read(spark, dir).count(),
        s"v$v: manifest arithmetic must equal the scanned cardinality")

    assert(LakeTable.commit(spark, dir,
      (1L to 100L).map(k => (k, k * 2L)).toDF("k", "v"))(_ => None)
      == Right(1L))
    assertEquation(1L)
    // DV merge: hidden positions + fresh files, all counted
    assert(LakeTable.mergeDv(spark, dir,
      Seq((1L, 111L), (200L, 400L)).toDF("k", "v"), Seq("k"))(_ => None)
      == Right(2L))
    assertEquation(2L)
    // DV delete: sidecar-only commit
    assert(LakeTable.deleteWhereDv(spark, dir,
      org.apache.spark.sql.functions.col("k") <= 10L)(_ => None)
      == Right(3L))
    assertEquation(3L)
    // DV update: conservation now holds by hidden == staged arithmetic
    assert(LakeTable.updateWhereDv(spark, dir,
      org.apache.spark.sql.functions.col("k") === 50L,
      Seq("v" -> org.apache.spark.sql.functions.lit(0L)))(_ => None)
      == Right(4L))
    assertEquation(4L)
    // general conditional merge
    assert(LakeTable.mergeConditionalDv(spark, dir,
      Seq((60L, 1L), (300L, 3L)).toDF("k", "v"), Seq("k"),
      matched = Seq((Some("s.`v` > 0"), Some(Seq("v" -> "s.`v`")))),
      notMatched = Seq((None, Seq("k" -> "s.`k`", "v" -> "s.`v`"))),
      bySource = Seq.empty)(_ => None) == Right(5L))
    assertEquation(5L)
    assert(LakeTable.read(spark, dir).count() == 92L,
      "100 − 10 deleted + 1 merged insert (200) + 1 merged insert (300)")

    // paranoid mode restores the full-scan equations and still publishes
    spark.conf.set("spark.graft.lake.paranoidAudit", "true")
    try {
      assert(LakeTable.mergeDv(spark, dir,
        Seq((2L, 222L)).toDF("k", "v"), Seq("k"))(_ => None) == Right(6L))
      assert(LakeTable.updateWhereDv(spark, dir,
        org.apache.spark.sql.functions.col("k") === 30L,
        Seq("v" -> org.apache.spark.sql.functions.lit(9L)))(_ => None)
        == Right(7L))
      assertEquation(7L)
    } finally spark.conf.unset("spark.graft.lake.paranoidAudit")

    // OPTIMIZE (purge) and RESTORE keep the counts coherent
    assert(LakeTable.optimize(spark, dir, 1000L, Seq.empty).isRight)
    val v8 = LakeTable.currentVersion(dir).get
    assertEquation(v8)
    assert(LakeTable.restore(spark, dir, 5L) == Right(v8 + 1L))
    assertEquation(v8 + 1L)
  }

  test("incremental OPTIMIZE (r14): already-compact files carry " +
       "verbatim, small and DV-bearing files rewrite, a fully-compacted " +
       "table no-ops, ZORDER still rewrites everything") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_lake_incopt_").toString
    // v1: one BIG file (300 rows, above the 200-row target)
    assert(LakeTable.commit(spark, dir,
      (1L to 300L).map(k => (k, k)).toDF("k", "v").coalesce(1))(_ => None)
      == Right(1L))
    // v2..v4: three small appends (10 rows each)
    for (i <- 0 to 2)
      assert(LakeTable.append(spark, dir,
        (301L + i * 10L until 311L + i * 10L).map(k => (k, k))
          .toDF("k", "v").coalesce(1))(_ => None) == Right(2L + i))
    val big = LakeTable.currentFiles(dir).filter(f =>
      LakeTable.rowsOf(dir, 4L)(f) >= 200L)
    assert(big.size == 1, "exactly one file is already compact")

    assert(LakeTable.optimize(spark, dir, 200L, Seq.empty)
      == Right(5L))
    val after = LakeTable.currentFiles(dir)
    assert(after.contains(big.head),
      "the already-compact file must CARRY verbatim, not rewrite")
    assert(after.size < 4, s"the three small files compact: $after")
    assert(LakeTable.read(spark, dir).count() == 330L)

    // fully compacted now: another OPTIMIZE is a NO-OP returning the
    // live version, publishing nothing
    assert(LakeTable.optimize(spark, dir, 200L, Seq.empty)
      == Right(5L))
    assert(LakeTable.currentVersion(dir).contains(5L))

    // a DV on the big file forces it into the rewrite set (the purge)
    assert(LakeTable.deleteWhereDv(spark, dir,
      org.apache.spark.sql.functions.col("k") === 5L)(_ => None)
      == Right(6L))
    assert(LakeTable.optimize(spark, dir, 200L, Seq.empty)
      == Right(7L))
    assert(!LakeTable.currentFiles(dir).contains(big.head),
      "a vectored file must rewrite (the DV purge)")
    assert(LakeTable.dvOf(dir, 7L).isEmpty, "OPTIMIZE stays the purge")
    assert(LakeTable.read(spark, dir).count() == 329L)

    // ZORDER is a re-clustering: it rewrites EVERYTHING, carried or not
    val pre = LakeTable.currentFiles(dir)
    assert(LakeTable.optimize(spark, dir, 200L, Seq("k")) == Right(8L))
    assert(LakeTable.currentFiles(dir).forall(f => !pre.contains(f)),
      "ZORDER must rewrite every file")
    assert(LakeTable.read(spark, dir).count() == 329L)
  }

  test("a crash at every protocol stage leaves the old version live") {
    val dir = Files.createTempDirectory("graft_lake_spec_").toString
    val v1Keys = snap(50).collect().map(_.getAs[Long]("custkey")).toSet
    assert(LakeTable.commit(spark, dir, snap(50))(gate) == Right(1L))
    assert(LakeTable.currentVersion(dir).contains(1L))
    assert(readKeys(dir) == v1Keys)

    // CRASH 1: after staging, before audit/publish — staged parquet is
    // on disk but the reader (manifest-routed) must not see a byte of it
    val st2 = LakeTable.stage(spark, dir, snap(100))
    assert(st2.files.nonEmpty)
    assert(LakeTable.currentVersion(dir).contains(1L))
    assert(readKeys(dir) == v1Keys, "staged-only data must be invisible")

    // CRASH 2: after the manifest claim is durably on disk, before the
    // pointer flip — the manifest exists under its final name, but
    // visibility is the POINTER's job alone, and the unflipped claim is
    // an ORPHAN: versions() must not report it as published
    val st3 = LakeTable.stage(spark, dir, snap(150))
    val v3 = LakeTable.writeManifest(st3)
    assert(Files.exists(Paths.get(dir, s"manifest-v$v3.json")))
    assert(LakeTable.currentVersion(dir).contains(1L))
    assert(LakeTable.versions(dir) == Seq(1L),
      "a claimed-but-unflipped manifest is not a published version")
    assert(readKeys(dir) == v1Keys, "unflipped manifest must be invisible")

    // CRASH 3: torn pointer tmp write (killed mid-write) — the tmp name
    // is never read by anyone; only a completed ATOMIC_MOVE publishes
    Files.write(Paths.get(dir, "._latest.tmp"),
                "manifest-v9".getBytes("UTF-8"))
    assert(LakeTable.currentVersion(dir).contains(1L))
    assert(readKeys(dir) == v1Keys, "a torn tmp write must be invisible")

    // REPLAY: finishing the interrupted publish flips atomically from
    // entirely-v1 to entirely-v3 — the resume path after crash 2
    LakeTable.markPublished(dir, v3)
    assert(LakeTable.currentVersion(dir).contains(v3))
    assert(readKeys(dir) == snap(150).collect()
      .map(_.getAs[Long]("custkey")).toSet)
  }

  test("two racing committers both survive as distinct versions") {
    // the r7 hole: version was minted at STAGE time, so two concurrent
    // writers computed the same number and the second manifest move
    // silently overwrote the first. Publish-time CAS (atomic create-new
    // on the manifest name) makes the loser re-manifest under the next
    // number — both orders, plus a crash between the loser's claim and
    // its flip.
    for (firstWins <- Seq(true, false)) {
      val dir = Files.createTempDirectory("graft_lake_race_").toString
      assert(LakeTable.commit(spark, dir, snap(20))(gate) == Right(1L))
      // both stage against the SAME live version (both hints say 2)
      val a = LakeTable.stage(spark, dir, snap(50))
      val b = LakeTable.stage(spark, dir, snap(100))
      assert(a.version == 2L && b.version == 2L, "the race precondition")
      val (first, second) = if (firstWins) (a, b) else (b, a)
      val vFirst = LakeTable.publish(first)
      val vSecond = LakeTable.publish(second)
      assert(vFirst == 2L && vSecond == 3L,
        s"the loser must re-manifest under the next version, got " +
        s"($vFirst, $vSecond)")
      // BOTH commits survive: the pointer is on the last flip, the other
      // remains published, time-travel-readable history
      assert(LakeTable.currentVersion(dir).contains(3L))
      assert(LakeTable.versions(dir) == Seq(1L, 2L, 3L))
      def keysOf(v: Long): Set[Long] =
        LakeTable.readVersion(spark, dir, v).collect()
          .map(_.getAs[Long]("custkey")).toSet
      def expect(keyMax: Int): Set[Long] =
        snap(keyMax).collect().map(_.getAs[Long]("custkey")).toSet
      assert(keysOf(2L) == expect(if (firstWins) 50 else 100))
      assert(keysOf(3L) == expect(if (firstWins) 100 else 50))
    }
    // crash-between: the loser claims its manifest but dies before the
    // flip — the winner stays live, the orphan claim is invisible, and
    // REPLAYING the loser's publish completes the commit
    val dir = Files.createTempDirectory("graft_lake_race_").toString
    assert(LakeTable.commit(spark, dir, snap(20))(gate) == Right(1L))
    val a = LakeTable.stage(spark, dir, snap(50))
    val b = LakeTable.stage(spark, dir, snap(100))
    assert(LakeTable.publish(a) == 2L)
    val vB = LakeTable.writeManifest(b) // claim, then CRASH before flip
    assert(vB == 3L)
    assert(LakeTable.currentVersion(dir).contains(2L))
    assert(LakeTable.versions(dir) == Seq(1L, 2L))
    LakeTable.markPublished(dir, vB) // the resume path
    assert(LakeTable.currentVersion(dir).contains(3L))
    assert(LakeTable.versions(dir) == Seq(1L, 2L, 3L))
    // and a STALE flip (a replayed epoch of the older commit) must never
    // move the pointer backwards
    LakeTable.markPublished(dir, 2L)
    assert(LakeTable.currentVersion(dir).contains(3L),
      "the pointer is monotonic: a late flip of an older version is a no-op")
  }

  test("schema evolution: additive columns evolve, drops and type changes are rejected") {
    val dir = Files.createTempDirectory("graft_lake_evo_").toString
    assert(LakeTable.commit(spark, dir, snap(50))(gate) == Right(1L))
    // additive evolution: the backfill adds a column — allowed, recorded
    val widened = snap(80).withColumn("flagged", col("n_orders") > lit(5L))
    assert(LakeTable.commit(spark, dir, widened)(gate) == Right(2L))
    assert(LakeTable.read(spark, dir).columns.toSeq
             == Seq("custkey", "n_orders", "flagged"))
    // time travel reads each version with its OWN schema
    assert(LakeTable.readVersion(spark, dir, 1L).columns.toSeq
             == Seq("custkey", "n_orders"))
    assert(LakeTable.readVersion(spark, dir, 2L)
             .filter(col("flagged")).count() > 0L)
    // dropping a column is rejected before anything publishes
    val dropped = LakeTable.commit(spark, dir, snap(90).drop("n_orders"))(gate)
    assert(dropped.isLeft && dropped.swap.exists(_.contains("drops column")),
      s"column drop must fail the audit: $dropped")
    // changing a column's type is rejected too
    val retyped = LakeTable.commit(spark, dir,
      widened.withColumn("n_orders", col("n_orders").cast("int")))(gate)
    assert(retyped.isLeft && retyped.swap.exists(_.contains("changes column")),
      s"type change must fail the audit: $retyped")
    assert(LakeTable.currentVersion(dir).contains(2L),
      "rejected evolutions leave the live version untouched")
  }

  test("OPTIMIZE compacts through the commit protocol; a crash keeps the old version") {
    val dir = Files.createTempDirectory("graft_lake_opt_").toString
    // ingest as many small files (one per partition)
    val small = snap(200).repartition(16)
    assert(LakeTable.commit(spark, dir, small)(gate) == Right(1L))
    assert(LakeTable.currentFiles(dir).size == 16)
    val before = LakeTable.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val n = before.size.toLong
    // crash mid-optimize: the rewrite stages but dies before publish —
    // the old version stays live and the reader sees every row
    val crashStage = LakeTable.stage(spark, dir,
      LakeTable.read(spark, dir).repartitionByRange(2, col("custkey")))
    assert(crashStage.files.nonEmpty)
    assert(LakeTable.currentVersion(dir).contains(1L))
    assert(LakeTable.read(spark, dir).count() == n,
      "a crash mid-optimize must leave the old version live")
    // the real OPTIMIZE: target ~half the rows per file → 2 files
    val v2 = LakeTable.optimize(spark, dir, (n + 1) / 2, Seq("custkey"))
    assert(v2 == Right(2L), s"optimize commits the next version: $v2")
    assert(LakeTable.currentFiles(dir).size == 2,
      s"16 small files compact to the 2 planned bins: " +
      s"${LakeTable.currentFiles(dir).size}")
    // conservation: identical rows through the manifest read
    val after = LakeTable.read(spark, dir).collect()
      .map(r => (r.getAs[Long]("custkey"), r.getAs[Long]("n_orders"))).toSet
    assert(after == before, "compaction must conserve every row")
    // the pre-compaction version remains time-travel-readable
    assert(LakeTable.readVersion(spark, dir, 1L).count() == n)
  }

  test("a rejected audit publishes nothing") {
    val dir = Files.createTempDirectory("graft_lake_spec_").toString
    assert(LakeTable.commit(spark, dir, snap(50))(gate) == Right(1L))
    val before = readKeys(dir)
    val r = LakeTable.commit(spark, dir, snap(50).filter(lit(false)))(gate)
    assert(r.isLeft, "empty snapshot must fail the gate")
    assert(LakeTable.currentVersion(dir).contains(1L))
    assert(readKeys(dir) == before)
  }

  test("time travel reads any retained version; vacuum reclaims the rest") {
    val dir = Files.createTempDirectory("graft_lake_spec_").toString
    assert(LakeTable.commit(spark, dir, snap(20))(gate) == Right(1L))
    assert(LakeTable.commit(spark, dir, snap(50))(gate) == Right(2L))
    assert(LakeTable.commit(spark, dir, snap(80))(gate) == Right(3L))
    // crash leftovers: a staged-never-manifested dir AND a
    // claimed-never-flipped manifest (the two orphan shapes) — both
    // invisible to readers, both disk waste for vacuum
    LakeTable.stage(spark, dir, snap(10))
    val orphanV = LakeTable.writeManifest(LakeTable.stage(spark, dir, snap(15)))
    assert(orphanV == 4L)
    val v1 = LakeTable.readVersion(spark, dir, 1L).collect()
      .map(_.getAs[Long]("custkey")).toSet
    assert(v1 == snap(20).collect().map(_.getAs[Long]("custkey")).toSet,
      "version 1 must read back exactly as committed")
    assert(LakeTable.versions(dir) == Seq(1L, 2L, 3L),
      "the orphan claim must not count as published")
    val dataDirs = Files.list(Paths.get(dir, "data")).count()
    assert(dataDirs == 5, s"3 published + 2 orphaned stagings, got $dataDirs")
    // a reader HOLDING a retained version across the vacuum never breaks
    val held = LakeTable.readVersion(spark, dir, 2L)
    val (mDropped, fReclaimed) = LakeTable.vacuum(dir, keepVersions = 2)
    // r12: the claim ABOVE the keep floor survives, WITH its staged
    // files — reclaiming an interior/in-flight claim would punch a hole
    // in the dense-claim walk (stream discovery stops short of live
    // versions beyond it) or let a racing committer publish a version
    // whose files were swept; reclaim is DEFERRED until the claim falls
    // below the floor (pinned below). Only v1 drops here.
    assert(mDropped == 1,
      "v1 falls outside keep=2; the orphan claim above the floor is " +
      "retained (deferred reclaim, r12)")
    assert(fReclaimed > 0, "v1's files and the stage-only orphan must go")
    assert(Files.exists(Paths.get(dir, s"manifest-v$orphanV.json")),
      "a claim above the keep floor must survive the vacuum")
    // retained history still time-travels; the live version is untouched
    assert(LakeTable.versions(dir) == Seq(2L, 3L))
    assert(held.count() == snap(50).count(),
      "a held reader of a RETAINED version survives the vacuum")
    assert(LakeTable.readVersion(spark, dir, 2L).count() == snap(50).count())
    assert(readKeys(dir) == snap(80).collect()
      .map(_.getAs[Long]("custkey")).toSet)
    assert(Files.list(Paths.get(dir, "data")).count() == 3,
      "two retained versions' dirs + the retained claim's staging survive")
    intercept[IllegalArgumentException] {
      LakeTable.readVersion(spark, dir, 1L)
    }
    // DEFERRED reclaim: once later publishes move the keep floor past the
    // orphan claim, the next vacuum sweeps its manifest AND staging
    assert(LakeTable.commit(spark, dir, snap(30))(gate) == Right(5L))
    assert(LakeTable.commit(spark, dir, snap(40))(gate) == Right(6L))
    val (mDropped2, _) = LakeTable.vacuum(dir, keepVersions = 2)
    assert(mDropped2 == 3, "v2, v3 and the now-below-floor orphan drop")
    assert(!Files.exists(Paths.get(dir, s"manifest-v$orphanV.json")))
    assert(Files.list(Paths.get(dir, "data")).count() == 2)
  }

  test("partial MERGE rewrites only touched layout values; vacuum keeps carried files") {
    val dir = Files.createTempDirectory("graft_lake_pm_").toString
    // range-bucket layout: 32-key bands, so a key-local batch touches
    // one band and every other band's files must carry over untouched
    def bucketed(keyMax: Int): DataFrame =
      snap(keyMax).withColumn("band", expr("custkey div 32"))
    assert(LakeTable.commit(spark, dir, bucketed(150), Some("band"))(gate)
             == Right(1L))
    val v1Files = LakeTable.currentFiles(dir)
    assert(v1Files.forall(f => LakeTable.layoutValueOf(f).nonEmpty),
      s"layout metadata must ride the file paths: $v1Files")
    assert(v1Files.flatMap(LakeTable.layoutValueOf).distinct.size >= 4,
      "the fixture must spread over several bands")
    // the batch: corrected rows for keys 1..31 — band 0 only
    val upserts = bucketed(31)
      .withColumn("n_orders", col("n_orders") + lit(1000L))
    val v2 = LakeTable.mergePartial(spark, dir, upserts,
                                    Seq("custkey"), "band")(gate)
    assert(v2 == Right(2L), s"partial merge must commit: $v2")
    val v2Files = LakeTable.currentFiles(dir)
    val carried = v2Files.filter(v1Files.contains)
    assert(carried.nonEmpty, "untouched bands must carry over verbatim")
    assert(carried.forall(f => LakeTable.layoutValueOf(f).exists(_ != "0")),
      s"band 0 must NOT carry over: $carried")
    assert(v1Files.filter(f => LakeTable.layoutValueOf(f).contains("0"))
             .forall(!v2Files.contains(_)),
      "every band-0 file must be rewritten")
    // semantics: exactly a full upsert's result
    val got = LakeTable.read(spark, dir).collect()
      .map(r => r.getAs[Long]("custkey") -> r.getAs[Long]("n_orders")).toMap
    val base = bucketed(150).collect()
      .map(r => r.getAs[Long]("custkey") -> r.getAs[Long]("n_orders")).toMap
    val up = upserts.collect()
      .map(r => r.getAs[Long]("custkey") -> r.getAs[Long]("n_orders")).toMap
    assert(got == base ++ up, "partial merge must equal the full upsert")
    // time travel still has the pre-merge table
    assert(LakeTable.readVersion(spark, dir, 1L).count() == base.size)
    // vacuum to keep only v2: reclaim is PER-FILE — v1's band-0 file dies,
    // the carried files (living in v1's staging dir) survive, and the
    // live read still works afterwards
    val (m, f) = LakeTable.vacuum(dir, keepVersions = 1)
    assert(m == 1 && f > 0, s"v1's manifest and its dead band-0 file go ($m, $f)")
    assert(carried.forall(c => Files.exists(Paths.get(dir, c))),
      "carried files must survive their origin version's vacuum")
    val afterVacuum = LakeTable.read(spark, dir).collect()
      .map(r => r.getAs[Long]("custkey") -> r.getAs[Long]("n_orders")).toMap
    assert(afterVacuum == base ++ up, "the live version must survive vacuum intact")
  }

  test("manifest file stats skip files; carried stats survive a partial merge") {
    val dir = Files.createTempDirectory("graft_lake_skip_").toString
    def bucketed(keyMax: Int): DataFrame =
      snap(keyMax).withColumn("band", expr("custkey div 32"))
    assert(LakeTable.commit(spark, dir, bucketed(150), Some("band"),
                            Seq("custkey"))(gate) == Right(1L))
    val all = LakeTable.currentFiles(dir)
    // the skip decision is manifest-metadata-only and must be a superset
    // of the truth: files kept for [10, 20] ⊂ all, and the pruned read
    // returns exactly the filtered table
    val kept = LakeTable.filesWhere(dir, "custkey", 10L, 20L)
    assert(kept.nonEmpty && kept.size < all.size,
      s"stats must skip files: kept ${kept.size} of ${all.size}")
    val pruned = LakeTable.readWhere(spark, dir, "custkey", 10L, 20L)
      .filter(col("custkey").between(10L, 20L))
      .collect().map(_.getAs[Long]("custkey")).toSet
    val full = LakeTable.read(spark, dir)
      .filter(col("custkey").between(10L, 20L))
      .collect().map(_.getAs[Long]("custkey")).toSet
    assert(pruned == full, "pruned read must lose nothing in range")
    // a column with NO stats anywhere prunes nothing (every file kept)
    assert(LakeTable.filesWhere(dir, "no_such_col", 0L, 0L).size == all.size)
    // an UNDECLARED column skips too since r15 — the footer pass
    // records leading-column min/max automatically (verdict ask #5):
    // n_orders ≥ 1 everywhere, so a [0, 0] probe prunes every file
    assert(LakeTable.filesWhere(dir, "n_orders", 0L, 0L).isEmpty,
      "automatic footer stats on an undeclared column must prune")
    // partial merge: rewritten band-0 files get FRESH stats, carried
    // files keep their origin stats — skipping still correct on v2
    val upserts = bucketed(31).withColumn("n_orders", col("n_orders") + 7L)
    assert(LakeTable.mergePartial(spark, dir, upserts, Seq("custkey"),
                                  "band", None, Seq("custkey"))(gate)
             == Right(2L))
    val kept2 = LakeTable.filesWhere(dir, "custkey", 100L, 120L)
    assert(kept2.nonEmpty && kept2.size < LakeTable.currentFiles(dir).size,
      "carried stats must keep skipping after the merge")
    val pruned2 = LakeTable.readWhere(spark, dir, "custkey", 100L, 120L)
      .filter(col("custkey").between(100L, 120L))
      .collect().map(_.getAs[Long]("custkey")).toSet
    val full2 = LakeTable.read(spark, dir)
      .filter(col("custkey").between(100L, 120L))
      .collect().map(_.getAs[Long]("custkey")).toSet
    assert(pruned2 == full2)
    // and the v2 rewrite is visible through the pruned path too
    val low = LakeTable.readWhere(spark, dir, "custkey", 1L, 31L)
      .filter(col("custkey") <= 31L)
      .collect().map(r => r.getAs[Long]("custkey") -> r.getAs[Long]("n_orders"))
      .toMap
    val expectLow = upserts.collect()
      .map(r => r.getAs[Long]("custkey") -> r.getAs[Long]("n_orders")).toMap
    assert(low == expectLow, "fresh stats must route to the rewritten rows")
  }

  test("lake chaos: randomized merge/delete/optimize/vacuum/crash schedules preserve the fold") {
    // the streaming chaos discipline applied to the table protocol: five
    // seeded schedules interleave partial merges, CDC tombstones,
    // layout-preserving compactions, vacuums, and CRASHED writers
    // (staged-only and claimed-but-unflipped), and after every step the
    // manifest-routed read must equal the in-memory fold of the
    // operations that COMPLETED — crashes and admin ops are invisible to
    // the data, versions only move forward
    import spark.implicits._
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      val dir = Files.createTempDirectory(s"graft_lake_chaos$seed" + "_").toString
      def toDf(m: Map[Long, Long]): DataFrame =
        m.toSeq.map { case (k, n) => (k, n, k / 32) }
          .toDF("custkey", "n_orders", "band")
      var expected: Map[Long, Long] =
        (1L to 150L).map(k => k -> (k % 7 + 1)).toMap
      assert(LakeTable.commit(spark, dir, toDf(expected),
                              Some("band"))(gate) == Right(1L))
      var lastVersion = 1L
      // per-published-version content snapshots, so a RESTORE action can
      // assert the fold lands exactly on the restored version's state
      val history = scala.collection.mutable.Map(1L -> expected)
      for (step <- 1 to 8) {
        rnd.nextInt(7) match {
          case 0 | 1 => // partial merge: correct one random band
            val band = rnd.nextInt(5).toLong
            val ups = expected.collect {
              case (k, _) if k / 32 == band => k -> (100L * step + k)
            }
            if (ups.nonEmpty) {
              val r = LakeTable.mergePartial(spark, dir, toDf(ups),
                                             Seq("custkey"), "band")(gate)
              assert(r.isRight, s"seed $seed step $step merge: $r")
              expected = expected ++ ups
            }
          case 2 => // CDC tombstone of one existing key (+ one upsert)
            val k = expected.keys.toSeq.sorted.apply(
              rnd.nextInt(expected.size))
            val up = expected.keys.toSeq.sorted.apply(
              rnd.nextInt(expected.size))
            if (k != up) {
              val changes = Seq(
                (k, 0L, k / 32, "D"),
                (up, 999L * step, up / 32, "U"))
                .toDF("custkey", "n_orders", "band", "op")
              val r = LakeTable.applyCdcPartial(spark, dir, changes,
                                                Seq("custkey"), "band")(gate)
              assert(r.isRight, s"seed $seed step $step cdc: $r")
              expected = expected - k + (up -> (999L * step))
            }
          case 3 => // layout-preserving OPTIMIZE
            val r = LakeTable.optimize(spark, dir, Long.MaxValue, Seq.empty,
                                       Some("band"))
            assert(r.isRight, s"seed $seed step $step optimize: $r")
          case 4 => // retention
            LakeTable.vacuum(dir, keepVersions = 2)
            ()
          case 5 => // a CRASHED writer: staged garbage, maybe a claim
            val st = LakeTable.stage(spark, dir,
              toDf(expected.map { case (k, _) => k -> -1L }), Some("band"))
            if (rnd.nextBoolean()) { LakeTable.writeManifest(st); () }
          case 6 => // RESTORE to a random still-retained version
            val vs = LakeTable.versions(dir)
            val target = vs(rnd.nextInt(vs.size))
            val r = LakeTable.restore(spark, dir, target)
            assert(r.isRight, s"seed $seed step $step restore: $r")
            expected = history(target)
        }
        val got = LakeTable.read(spark, dir)
          .select("custkey", "n_orders").collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == expected,
          s"seed $seed step $step: read diverged from the fold " +
          s"(missing ${expected.keySet -- got.keySet}, " +
          s"extra ${got.keySet -- expected.keySet})")
        val v = LakeTable.currentVersion(dir).get
        assert(v >= lastVersion, s"seed $seed step $step: version went back")
        lastVersion = v
        history(v) = expected
      }
    }
  }

  test("racing partial merges, DISJOINT layout values: both effects land, loser reuses its staging") {
    // the r8 lost update: a mergePartial loser re-manifested a carry list
    // planned against the stale base, shadowing the winner's rewrite at
    // the live version. r9 serializes: the loser detects the conflict at
    // publish, re-plans its carry against the winner's version, and —
    // because its own layout value's input files did not change — reuses
    // its staged output verbatim (no re-stage).
    val dir = Files.createTempDirectory("graft_lake_race_pm_").toString
    def bucketed(keyMax: Int): DataFrame =
      snap(keyMax).withColumn("band", expr("custkey div 32"))
    assert(LakeTable.commit(spark, dir, bucketed(150), Some("band"))(gate)
             == Right(1L))
    val upsX = bucketed(31).withColumn("n_orders", col("n_orders") + 1000L)
    val upsY = bucketed(63).filter(col("band") === 1)
      .withColumn("n_orders", col("n_orders") + 2000L)
    // while Y sits between plan and publish, X commits band 0
    var injected = false
    LakeTable.testAfterPlanHook = { _ =>
      if (!injected) {
        injected = true
        assert(LakeTable.mergePartial(spark, dir, upsX,
                 Seq("custkey"), "band")(gate) == Right(2L))
      }
    }
    val vY =
      try LakeTable.mergePartial(spark, dir, upsY, Seq("custkey"), "band")(gate)
      finally LakeTable.testAfterPlanHook = _ => ()
    assert(injected && vY == Right(3L), s"loser must re-plan and land: $vY")
    // NO lost update: X's band-0 rewrite is carried into Y's version
    val v2Band0 = LakeTable.filesOf(dir, 2L)
      .filter(f => LakeTable.layoutValueOf(f).contains("0"))
    assert(v2Band0.nonEmpty
             && v2Band0.forall(LakeTable.currentFiles(dir).contains),
      "the winner's rewritten band-0 files must survive at the live version")
    val got = LakeTable.read(spark, dir).collect()
      .map(r => r.getAs[Long]("custkey") -> r.getAs[Long]("n_orders")).toMap
    val expect = bucketed(150).collect()
      .map(r => r.getAs[Long]("custkey") -> r.getAs[Long]("n_orders")).toMap ++
      upsX.collect()
        .map(r => r.getAs[Long]("custkey") -> r.getAs[Long]("n_orders")).toMap ++
      upsY.collect()
        .map(r => r.getAs[Long]("custkey") -> r.getAs[Long]("n_orders")).toMap
    assert(got == expect, "both racing merges' effects must be visible")
    // the disjoint loser re-used its staging: exactly 3 staging dirs
    // exist (v1, X, Y) — a re-stage would have minted a fourth
    assert(Files.list(Paths.get(dir, "data")).count() == 3,
      "an unchanged layout value's staged output must be reused on re-plan")
  }

  test("racing partial merges, SAME layout value: the loser re-merges over the winner's rewrite") {
    val dir = Files.createTempDirectory("graft_lake_race_pm2_").toString
    def bucketed(keyMax: Int): DataFrame =
      snap(keyMax).withColumn("band", expr("custkey div 32"))
    assert(LakeTable.commit(spark, dir, bucketed(150), Some("band"))(gate)
             == Right(1L))
    // same band, different keys: X corrects keys 1..15, Y corrects 16..31
    val upsX = bucketed(15).withColumn("n_orders", col("n_orders") + 1000L)
    val upsY = bucketed(31).filter(col("custkey") >= 16L)
      .withColumn("n_orders", col("n_orders") + 2000L)
    var injected = false
    LakeTable.testAfterPlanHook = { _ =>
      if (!injected) {
        injected = true
        assert(LakeTable.mergePartial(spark, dir, upsX,
                 Seq("custkey"), "band")(gate) == Right(2L))
      }
    }
    val vY =
      try LakeTable.mergePartial(spark, dir, upsY, Seq("custkey"), "band")(gate)
      finally LakeTable.testAfterPlanHook = _ => ()
    assert(injected && vY == Right(3L))
    // the overlapping loser RE-STAGED band 0 against the winner's file
    // (4 staging dirs: v1, X, Y's first plan, Y's re-plan), and the
    // winner's band-0 file is gone from the live version (rewritten, not
    // shadowed)
    assert(Files.list(Paths.get(dir, "data")).count() == 4,
      "an overlapping layout value must re-stage on re-plan")
    val v2Band0 = LakeTable.filesOf(dir, 2L)
      .filter(f => LakeTable.layoutValueOf(f).contains("0"))
    assert(v2Band0.forall(!LakeTable.currentFiles(dir).contains(_)),
      "the loser's re-merge must REWRITE the winner's band-0 file")
    val got = LakeTable.read(spark, dir).collect()
      .map(r => r.getAs[Long]("custkey") -> r.getAs[Long]("n_orders")).toMap
    val expect = bucketed(150).collect()
      .map(r => r.getAs[Long]("custkey") -> r.getAs[Long]("n_orders")).toMap ++
      upsX.collect()
        .map(r => r.getAs[Long]("custkey") -> r.getAs[Long]("n_orders")).toMap ++
      upsY.collect()
        .map(r => r.getAs[Long]("custkey") -> r.getAs[Long]("n_orders")).toMap
    assert(got == expect,
      "keys 1..15 keep X's correction, 16..31 take Y's, the rest the base")
  }

  test("concurrent committer threads: every acknowledged merge survives serialization") {
    // real-thread chaos over the serialized publish: T threads each run S
    // sequential partial merges of THEIR OWN key set (bands shared, so
    // carry lists collide constantly); after the dust settles every key
    // must hold its owner's LAST acknowledged value — a single lost
    // update anywhere fails the fold
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_lake_threads_").toString
    val T = 3; val S = 3
    def toDf(m: Map[Long, Long]): DataFrame =
      m.toSeq.map { case (k, n) => (k, n, k / 32) }
        .toDF("custkey", "n_orders", "band")
    val base = (1L to 96L).map(k => k -> 0L).toMap
    assert(LakeTable.commit(spark, dir, toDf(base), Some("band"))(gate)
             == Right(1L))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val threads = (0 until T).map { t =>
      new Thread(() => {
        try {
          for (step <- 1 to S) {
            val mine = base.keys.filter(_ % T == t)
              .map(k => k -> (1000L * t + step)).toMap
            LakeTable.mergePartial(spark, dir, toDf(mine),
                                   Seq("custkey"), "band")(gate) match {
              case Right(_) => ()
              case Left(r) => errs.add(s"thread $t step $step: $r"); ()
            }
          }
        } catch { case e: Throwable => errs.add(s"thread $t: $e"); () }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(300000))
    assert(errs.isEmpty, s"no commit may fail: ${errs.asScala.mkString("; ")}")
    val got = LakeTable.read(spark, dir)
      .select("custkey", "n_orders").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = base.map { case (k, _) => k -> (1000L * (k % T) + S) }
    assert(got == expect,
      s"lost updates: ${expect.toSet -- got.toSet} / extra ${got.toSet -- expect.toSet}")
  }

  test("typed string stats prune files through the standard source API") {
    // r9 ask #2: string/date/double columns are the common prune keys in
    // practice; the manifest records typed per-file min/max for a COLUMN
    // LIST and the graft-lake source prunes equality/range/prefix filters
    // on them before any footer is opened
    import graft.sources.LakeRelation
    val dir = Files.createTempDirectory("graft_lake_str_").toString
    val table = snap(150)
      .withColumn("band", expr("custkey div 32"))
      .withColumn("region", concat(lit("r"), expr("custkey div 32")))
    assert(LakeTable.commit(spark, dir, table, Some("band"),
                            Seq("region", "custkey"))(gate) == Right(1L))
    val all = LakeTable.currentFiles(dir).size
    def scanned(filter: org.apache.spark.sql.Column): (Long, Int) = {
      val df = spark.read.format("graft-lake").option("path", dir).load()
        .filter(filter)
      val n = df.count()
      (n, Option(LakeRelation.lastScanFiles.get()).map(_.size).getOrElse(-1))
    }
    // string equality prunes to one band's files
    val (nEq, fEq) = scanned(col("region") === "r1")
    assert(nEq == table.filter(col("region") === "r1").count() && nEq > 0)
    assert(fEq < all && fEq > 0, s"string equality must prune: $fEq of $all")
    // string range
    val (nGe, fGe) = scanned(col("region") >= "r3")
    assert(nGe == table.filter(col("region") >= "r3").count() && nGe > 0)
    assert(fGe < all, s"string range must prune: $fGe of $all")
    // string prefix (StartsWith) keeps everything that could match
    val (nPre, fPre) = scanned(col("region").startsWith("r0"))
    assert(nPre == table.filter(col("region").startsWith("r0")).count())
    assert(fPre < all, s"prefix must prune: $fPre of $all")
    // the second stats column still prunes independently (multi-column)
    val (nRange, fRange) = scanned(col("custkey").between(10L, 20L))
    assert(nRange == table.filter(col("custkey").between(10L, 20L)).count())
    assert(fRange < all, s"numeric range must keep pruning: $fRange of $all")
    // IN-list pruning
    val (nIn, fIn) = scanned(col("region").isin("r2"))
    assert(nIn == table.filter(col("region") === "r2").count())
    assert(fIn < all, s"IN must prune: $fIn of $all")
  }

  test("the change feed replays manifest history; OPTIMIZE emits no logical changes") {
    // r9 ask #3: per-version manifest diffs as retract/add rows — folding
    // the feed over the starting snapshot reproduces the live version
    // bit-for-bit, across a partial merge, a CDC apply (tombstone), and a
    // compaction (which must contribute NOTHING to the feed)
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_lake_feed_").toString
    def toDf(m: Map[Long, Long]): DataFrame =
      m.toSeq.map { case (k, n) => (k, n, k / 32) }
        .toDF("custkey", "n_orders", "band")
    val base = (1L to 96L).map(k => k -> k).toMap
    assert(LakeTable.commit(spark, dir, toDf(base), Some("band"))(gate)
             == Right(1L))
    assert(LakeTable.mergePartial(spark, dir,
             toDf(Map(5L -> 500L, 40L -> 400L)),
             Seq("custkey"), "band")(gate) == Right(2L))
    val vOpt = LakeTable.optimize(spark, dir, Long.MaxValue, Seq.empty,
                                  Some("band"))
    assert(vOpt == Right(3L))
    val changes = Seq((7L, 0L, 7L / 32, "D"), (50L, 5000L, 50L / 32, "U"))
      .toDF("custkey", "n_orders", "band", "op")
    assert(LakeTable.applyCdcPartial(spark, dir, changes,
             Seq("custkey"), "band")(gate) == Right(4L))
    val feed = LakeTable.changesBetween(spark, dir, 1L, 4L)
      .select("custkey", "n_orders", "band", "_change_type", "_commit_version")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
                 r.getLong(4)))
    assert(!feed.exists(_._5 == 3L),
      "the OPTIMIZE version must emit zero logical changes")
    // fold: per version in order, apply deletes then inserts to the
    // starting snapshot's row multiset
    var state = LakeTable.readVersion(spark, dir, 1L)
      .select("custkey", "n_orders", "band").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    feed.map(_._5).distinct.sorted.foreach { v =>
      val dels = feed.filter(e => e._5 == v && e._4 == "delete")
        .map(e => (e._1, e._2, e._3)).toSet
      val ins = feed.filter(e => e._5 == v && e._4 == "insert")
        .map(e => (e._1, e._2, e._3)).toSet
      state = state -- dels ++ ins
    }
    val live = LakeTable.read(spark, dir)
      .select("custkey", "n_orders", "band").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(state == live, "the folded feed must reproduce the live version")
    assert(!state.exists(_._1 == 7L), "the tombstone must fold as a delete")
    assert(state.contains((50L, 5000L, 1L)), "the CDC upsert must fold in")
    // an empty window yields a zero-row frame with the feed columns
    assert(LakeTable.changesBetween(spark, dir, 4L, 4L).count() == 0L)
  }

  test("the live version is derived from disk alone: no pointer file, fresh views agree") {
    // r9 ask #4: there is no stored _latest — a crash between claim and
    // mark leaves a state ANY fresh process view resolves identically by
    // listing immutable names
    val dir = Files.createTempDirectory("graft_lake_derived_").toString
    assert(LakeTable.commit(spark, dir, snap(50))(gate) == Right(1L))
    assert(LakeTable.commit(spark, dir, snap(80))(gate) == Right(2L))
    assert(!Files.exists(Paths.get(dir, "_latest")),
      "no pointer file may exist: the live version is derived")
    val v3 = LakeTable.writeManifest(LakeTable.stage(spark, dir, snap(100)))
    // CRASH before the marker: a fresh view (the standard source API,
    // which re-derives everything from the directory) still reads v2
    assert(spark.read.format("graft-lake").option("path", dir).load()
             .count() == snap(80).count(),
      "a fresh process view must resolve the last MARKED version")
    assert(LakeTable.versions(dir) == Seq(1L, 2L))
    // resume: marking completes the interrupted publish; a fresh view
    // flips to v3 with no other state
    assert(LakeTable.markPublished(dir, v3))
    assert(spark.read.format("graft-lake").option("path", dir).load()
             .count() == snap(100).count())
  }

  test("vacuum leaves an in-flight claim intact (the racing commit " +
       "completes); a truly-gone manifest still fails the mark loudly") {
    val dir = Files.createTempDirectory("graft_lake_vacrace_").toString
    assert(LakeTable.commit(spark, dir, snap(50))(gate) == Right(1L))
    val claimed = LakeTable.writeManifest(LakeTable.stage(spark, dir, snap(80)))
    // r12: the admin op RETAINS claims at/above the keep floor, files
    // included — the old reclaim either killed the racing committer
    // (manifest swept → mark threw) or, worse, would have let it publish
    // a version whose files were swept; deferred reclaim does neither
    LakeTable.vacuum(dir, keepVersions = 1)
    assert(Files.exists(Paths.get(dir, s"manifest-v$claimed.json")),
      "vacuum must not reclaim an in-flight claim above the floor")
    assert(LakeTable.markPublished(dir, claimed),
      "the racing commit completes normally after the vacuum")
    assert(LakeTable.currentVersion(dir).contains(claimed))
    assert(readKeys(dir) == snap(80).collect()
      .map(_.getAs[Long]("custkey")).toSet,
      "the completed commit must read back intact (files survived)")
    // the fail-loudly guard REMAINS for a manifest that is truly gone
    // (legacy vacuum, manual cleanup): mark refuses rather than pointing
    // readers at a deleted manifest — the r8 hazard
    val c2 = LakeTable.writeManifest(LakeTable.stage(spark, dir, snap(100)))
    Files.delete(Paths.get(dir, s"manifest-v$c2.json"))
    intercept[IllegalStateException] { LakeTable.markPublished(dir, c2) }
    assert(LakeTable.currentVersion(dir).contains(claimed),
      "the table must stay intact after the failed publish")
  }

  test("a CDC delete whose layout value lies is rejected (ghost undelete)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_lake_ghost_").toString
    def bucketed(keyMax: Int): DataFrame =
      snap(keyMax).withColumn("band", expr("custkey div 32"))
    assert(LakeTable.commit(spark, dir, bucketed(150), Some("band"))(gate)
             == Right(1L))
    // key 40 lives under band 1, but the change row CLAIMS band 0: only
    // band 0 rewrites, the stale row survives in a carried band-1 file —
    // the audit must catch the ghost instead of publishing it
    val lying = Seq((40L, 0L, 0L, "D")).toDF("custkey", "n_orders", "band", "op")
    val r = LakeTable.applyCdcPartial(spark, dir, lying,
                                      Seq("custkey"), "band")(gate)
    assert(r.isLeft && r.swap.exists(_.contains("ghost undelete")),
      s"the lying tombstone must fail the audit: $r")
    assert(LakeTable.currentVersion(dir).contains(1L))
    // the honest tombstone (correct band) applies cleanly
    val honest = Seq((40L, 0L, 40L / 32, "D")).toDF("custkey", "n_orders", "band", "op")
    assert(LakeTable.applyCdcPartial(spark, dir, honest,
             Seq("custkey"), "band")(gate) == Right(2L))
    assert(!readKeys(dir).contains(40L))
    // a change set carrying one key as both upsert and delete, on a
    // one-band table: every live file rewrites and nothing carries, and
    // the gate (the only check here) still sees the upserted key
    val one = Files.createTempDirectory("graft_lake_ghost1_").toString
    assert(LakeTable.commit(spark, one,
      Seq((1L, 0L, 10L)).toDF("k", "band", "v"), Some("band"))(_ => None)
      == Right(1L))
    val pair = Seq((2L, 0L, 20L, "U"), (2L, 0L, 20L, "D"))
      .toDF("k", "band", "v", "op")
    val r1 = LakeTable.applyCdcPartial(spark, one, pair, Seq("k"), "band")(
      _ => None)
    assert(r1.left.exists(_.contains("ghost undelete")), r1)
    assert(LakeTable.versions(one) == Seq(1L))
  }

  test("Append evolves the schema deterministically; all-null stats don't crash") {
    val dir = Files.createTempDirectory("graft_lake_appschema_").toString
    snap(50).write.format("graft-lake").option("path", dir).save()
    // the appended batch ADDS a column: the manifest must record the
    // UNION schema deterministically (base order first, new column
    // appended), and every read must null-fill the old files — not
    // depend on which footer the reader happened to open first (the r8
    // nondeterministic-schema bug)
    val widened = snap(80).filter(col("custkey") > 50L)
      .withColumn("flagged", col("n_orders") > lit(5L))
    widened.write.format("graft-lake").option("path", dir)
      .mode("append").save()
    assert(LakeTable.currentSchema(dir).map(_.name)
             == Seq("custkey", "n_orders", "flagged"),
      s"union schema, base order first: ${LakeTable.currentSchema(dir)}")
    val rows = LakeTable.read(spark, dir).collect()
    assert(rows.length == snap(80).count().toInt)
    assert(rows.filter(_.getAs[Long]("custkey") <= 50L)
             .forall(_.isNullAt(2)),
      "pre-evolution rows must null-fill the added column on every read")
    // a type change smuggled through Append is still rejected
    intercept[IllegalStateException] {
      snap(90).withColumn("n_orders", col("n_orders").cast("int"))
        .write.format("graft-lake").option("path", dir).mode("append").save()
    }
    // an all-null stats column records no entry and prunes nothing —
    // and doesn't NPE the stats pass (the r8 crash)
    val dir2 = Files.createTempDirectory("graft_lake_nullstats_").toString
    val withNull = snap(50).withColumn("maybe", lit(null).cast("long"))
    assert(LakeTable.commit(spark, dir2, withNull, None,
                            Seq("maybe", "custkey"))(gate) == Right(1L))
    assert(LakeTable.filesWhere(dir2, "maybe", 0L, 0L).size
             == LakeTable.currentFiles(dir2).size,
      "missing stats must keep every file")
    assert(LakeTable.read(spark, dir2).count() == snap(50).count())
    // a TIMESTAMP layout column declared in statsBy keeps its grouped
    // 'U' stats (r15, ADVICE r14): the path synthesis has no timestamp
    // encoding, so excluding every layout column from the grouped pass
    // unconditionally silently lost data skipping on it
    import org.apache.spark.sql.functions.{expr => sqlExpr}
    val dir3 = Files.createTempDirectory("graft_lake_tslayout_").toString
    val tsDf = snap(20).withColumn("ts",
      sqlExpr("timestamp_seconds(custkey * 3600)"))
    assert(LakeTable.commit(spark, dir3, tsDf, Some("ts"),
                            Seq("ts"))(gate) == Right(1L))
    val tsStats = LakeTable.statsOf(dir3, 1L)
      .collect { case ((_, c), s) if c == "ts" => s.kind }
    assert(tsStats.nonEmpty && tsStats.forall(_ == 'U'),
      s"timestamp layout column must keep grouped 'U' stats: $tsStats")
  }

  test("racing appends both keep both file sets") {
    // the ADVICE medium: two appends race; the loser's manifest must not
    // omit the winner's acknowledged files
    val dir = Files.createTempDirectory("graft_lake_appendrace_").toString
    snap(30).write.format("graft-lake").option("path", dir).save()
    var injected = false
    LakeTable.testAfterPlanHook = { _ =>
      if (!injected) {
        injected = true
        snap(60).filter(col("custkey") > 30L)
          .write.format("graft-lake").option("path", dir).mode("append").save()
      }
    }
    try
      snap(90).filter(col("custkey") > 60L)
        .write.format("graft-lake").option("path", dir).mode("append").save()
    finally LakeTable.testAfterPlanHook = _ => ()
    assert(injected)
    assert(readKeys(dir) == snap(90).collect()
             .map(_.getAs[Long]("custkey")).toSet,
      "no appended batch may vanish under a racing append")
  }

  test("hostile layout values: escaped path characters route rewrites correctly; nulls are refused") {
    // Hive partition paths percent-escape special characters — a layout
    // value like "EUROPE/WEST" or "a=b c" must still match the batch's
    // raw value at plan time (r9: layoutValueOf unescapes), otherwise the
    // stale file is silently carried and the upsert duplicates its keys
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_lake_hostile_").toString
    val hostile = Seq("EUROPE/WEST", "a=b c", "x:y%z", "plain")
    def toDf(rows: Seq[(Long, Long)]): DataFrame =
      rows.map { case (k, n) => (k, n, hostile((k % 4).toInt)) }
        .toDF("custkey", "n_orders", "region")
    val base = (1L to 40L).map(k => k -> k)
    assert(LakeTable.commit(spark, dir, toDf(base), Some("region"))(gate)
             == Right(1L))
    assert(LakeTable.currentFiles(dir)
             .flatMap(LakeTable.layoutValueOf).toSet == hostile.toSet,
      "unescaping must recover the raw column values from the paths")
    // (non-ASCII layout values are environment-dependent: this sandbox's
    // filesystem charset rejects them at WRITE time — Spark's own
    // partitionBy fails first, so the protocol never sees them)
    // upsert ONLY the "EUROPE/WEST" rows (k % 4 == 0)
    val ups = toDf(base.filter(_._1 % 4 == 0).map { case (k, _) => k -> 1000L })
    assert(LakeTable.mergePartial(spark, dir, ups,
             Seq("custkey"), "region")(gate) == Right(2L))
    val got = LakeTable.read(spark, dir).select("custkey", "n_orders")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = base.toMap ++ base.filter(_._1 % 4 == 0)
      .map { case (k, _) => k -> 1000L }.toMap
    assert(got == expect,
      "the escaped-value file must be rewritten, not carried (no dups, " +
      "no stale rows)")
    // untouched hostile values carried verbatim
    val carried = LakeTable.filesOf(dir, 2L)
      .filter(LakeTable.filesOf(dir, 1L).contains)
    assert(carried.flatMap(LakeTable.layoutValueOf).toSet
             == hostile.toSet - "EUROPE/WEST")
    // a NULL layout value is refused loudly, not silently mis-routed
    val withNull = Seq((41L, 5L, null.asInstanceOf[String]))
      .toDF("custkey", "n_orders", "region")
    intercept[IllegalArgumentException] {
      LakeTable.mergePartial(spark, dir, withNull,
                             Seq("custkey"), "region")(gate)
    }
  }

  test("timestamp-typed stats prune through the standard source") {
    import graft.sources.LakeRelation
    val dir = Files.createTempDirectory("graft_lake_tsstats_").toString
    val o = graft.ops.Tables.orders(spark, sf)
    val table = o.select(col("o_orderkey").as("ok"),
                         col("o_orderdate").as("ots"),
                         col("o_totalprice").as("price"))
      .withColumn("yr", year(col("ots")).cast("long"))
    assert(LakeTable.commit(spark, dir, table, Some("yr"),
                            Seq("ots"))(gate) == Right(1L))
    val all = LakeTable.currentFiles(dir).size
    val df = spark.read.format("graft-lake").option("path", dir).load()
      .filter(col("ots") >= lit("1996-01-01").cast("timestamp_ntz")
                && col("ots") < lit("1997-01-01").cast("timestamp_ntz"))
    val n = df.count()
    val scanned = Option(LakeRelation.lastScanFiles.get())
      .map(_.size).getOrElse(-1)
    assert(n == table.filter(col("ots") >= lit("1996-01-01").cast("timestamp_ntz")
             && col("ots") < lit("1997-01-01").cast("timestamp_ntz")).count())
    assert(scanned > 0 && scanned < all,
      s"timestamp range must prune files: $scanned of $all")
  }

  test("RESTORE re-publishes an older version; feed, watermarks, and vacuum compose") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_lake_restore_").toString
    def toDf(m: Map[Long, Long]): DataFrame =
      m.toSeq.map { case (k, n) => (k, n, k / 32) }
        .toDF("custkey", "n_orders", "band")
    val base = (1L to 96L).map(k => k -> k).toMap
    assert(LakeTable.commit(spark, dir, toDf(base), Some("band"))(gate)
             == Right(1L))
    // a stream-epoch merge stamps a sink watermark on v2
    assert(LakeTable.mergePartial(spark, dir, toDf(Map(5L -> 555L)),
             Seq("custkey"), "band", batch = Some(7L), sink = "s")(gate)
             == Right(2L))
    assert(LakeTable.appliedBatch(dir, "s").contains(7L))
    val v3 = LakeTable.restore(spark, dir, 1L)
    assert(v3 == Right(3L), s"restore must publish: $v3")
    // zero data movement; content returns to v1; the corrupted-v2 rows gone
    assert(LakeTable.filesOf(dir, 3L) == LakeTable.filesOf(dir, 1L))
    val got = LakeTable.read(spark, dir).select("custkey", "n_orders")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == base, "restore must return the table to v1's content")
    // the restore must NOT reset stream idempotence: a replay of epoch 7
    // still reads applied
    assert(LakeTable.appliedBatch(dir, "s").contains(7L),
      "restore must carry the live version's sink watermarks forward")
    // the feed replays the restore as the retract/add diff it logically is
    val feed = LakeTable.changesBetween(spark, dir, 2L, 3L)
      .select("custkey", "n_orders", "_change_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(feed.contains((5L, 555L, "delete")) && feed.contains((5L, 5L, "insert")),
      s"the restore diff must retract v2's rewrite and re-add v1's rows")
    // vacuum keep=1 keeps only v3 — which references v1's FILES; per-file
    // reclaim must keep them alive while v1/v2's manifests retire
    LakeTable.vacuum(dir, keepVersions = 1)
    assert(LakeTable.versions(dir) == Seq(3L))
    assert(LakeTable.read(spark, dir).count() == base.size.toLong,
      "the restored version must survive the vacuum of its source version")
    // restoring a vacuumed version is refused
    assert(LakeTable.restore(spark, dir, 2L).isLeft)
  }

  test("the audit reads the staged bytes as written, not the logical plan") {
    val dir = Files.createTempDirectory("graft_lake_spec_").toString
    val st = LakeTable.stage(spark, dir, snap(80))
    var auditedRows = -1L
    val r = LakeTable.audit(spark, st) { df =>
      auditedRows = df.count()
      // the audited frame must be a parquet scan of the staged files,
      // not the upstream orders plan
      val scanned = df.queryExecution.executedPlan.toString
      assert(scanned.contains("Scan parquet") || scanned.contains("FileScan"),
        s"audit must read staged files:\n$scanned")
      None
    }
    assert(r.isRight)
    assert(auditedRows == snap(80).count())
  }

  test("deletion vectors (r11 prototype): zero-rewrite delete, time " +
       "travel, feed retractions, optimize purge, merge guard") {
    val dir = Files.createTempDirectory("graft_lake_dv_").toString
    val table = snap(200).withColumn("band", expr("custkey div 32"))
    assert(LakeTable.commit(spark, dir, table, Some("band"))(_ => None)
      == Right(1L))
    val filesV1 = LakeTable.currentFiles(dir)
    val fullCount = table.count()
    val hit = col("custkey") % 10 === 3

    // the delete publishes a sidecar, not a rewrite: file list identical
    assert(LakeTable.deleteWhereDv(spark, dir, hit)(_ => None) == Right(2L))
    assert(LakeTable.currentFiles(dir) == filesV1,
      "a DV delete must not rewrite or drop any data file")
    assert(LakeTable.dvOf(dir, 2L).size == 1
      && LakeTable.dvOf(dir, 2L).forall(_.endsWith(".dv")))
    val live = LakeTable.read(spark, dir)
    assert(live.filter(hit).isEmpty, "deleted rows must be hidden")
    assert(live.count() == table.filter(!hit).count())
    // PLAN SHAPE at 100 TB: the vector filter is a BROADCAST anti-join
    // on the scan — no shuffle of table data may appear in a plain
    // DV-filtered read
    val plan = live.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"DV filter must plan as a broadcast anti-join:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"a DV-filtered read must not shuffle table data:\n$plan")
    // row-level equality, not just counts
    assert(live.exceptAll(table.filter(!hit)).isEmpty &&
           table.filter(!hit).exceptAll(live).isEmpty)

    // time travel: v1 still reads the FULL pre-delete content
    assert(LakeTable.readVersion(spark, dir, 1L).count() == fullCount)

    // the feed replays the delete as retractions of exactly the DV'd rows
    val feed = LakeTable.changesBetween(spark, dir, 1L, 2L)
    assert(feed.select("_change_type").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("delete"))
    val retracted = feed.select("custkey", "n_orders", "band")
    val expected = table.filter(hit)
    assert(retracted.exceptAll(expected).isEmpty &&
           expected.exceptAll(retracted).isEmpty,
      "feed retractions must equal the deleted rows")

    // a second delete STACKS (already-deleted positions not re-recorded)
    val hit2 = col("custkey") % 10 === 4
    assert(LakeTable.deleteWhereDv(spark, dir, hit2)(_ => None)
      == Right(3L))
    assert(LakeTable.dvOf(dir, 3L).size == 2)
    assert(LakeTable.read(spark, dir).count()
      == table.filter(!hit && !hit2).count())
    // a no-match delete is a NO-OP SUCCESS returning the live version
    // (Delta semantics, r12); strict=true restores the abort
    assert(LakeTable.deleteWhereDv(spark, dir, lit(false))(_ => None)
      == Right(3L), "empty-match delete must be a no-op success")
    assert(LakeTable.currentVersion(dir).contains(3L),
      "a no-op delete must not mint a version")
    assert(LakeTable.deleteWhereDv(spark, dir, lit(false), strict = true)(
      _ => None).swap.exists(_.contains("matched no live rows")))

    // the standard source applies vectors too (with pruning composed)
    val viaSource = spark.read.format("graft-lake").option("path", dir)
      .load()
    assert(viaSource.filter(hit || hit2).isEmpty)
    assert(viaSource.count() == table.filter(!hit && !hit2).count())

    // DV-AWARE partial rewrite (r12, lifts the r11 refusal): merge on the
    // DV-bearing table WITHOUT a purge — the touched band's rewrite must
    // read through the vectors (no resurrection), untouched bands carry
    // their vector entries forward, and time travel through v3 survives
    val up = table.filter(col("custkey") === 1L)
      .withColumn("n_orders", lit(999L))
    assert(LakeTable.mergePartial(spark, dir, up, Seq("custkey"), "band")(
      _ => None) == Right(4L))
    assert(LakeTable.dvOf(dir, 4L).nonEmpty,
      "carried files must keep their vector entries through a merge")
    val afterMerge = LakeTable.read(spark, dir)
    assert(afterMerge.filter(hit || hit2).isEmpty,
      "a DV-aware merge must not resurrect deleted rows")
    val expectedAfter = table.filter(!hit && !hit2)
      .withColumn("n_orders",
        when(col("custkey") === 1L, lit(999L)).otherwise(col("n_orders")))
    assert(afterMerge.exceptAll(expectedAfter).isEmpty &&
           expectedAfter.exceptAll(afterMerge).isEmpty,
      "merge on a DV table: upsert applied, deletes preserved, row-exact")
    assert(LakeTable.readVersion(spark, dir, 3L)
      .filter(col("custkey") === 1L).head.getAs[Long]("n_orders") != 999L,
      "pre-merge version must time-travel to pre-merge content")

    // CDC apply interleaves the same way: tombstone a key on the still
    // DV-bearing table, no purge between
    val tomb = table.filter(col("custkey") === 2L).withColumn("op", lit("D"))
    assert(LakeTable.applyCdcPartial(spark, dir, tomb,
      Seq("custkey"), "band")(_ => None) == Right(5L))
    assert(LakeTable.read(spark, dir).filter(col("custkey") === 2L).isEmpty)
    assert(LakeTable.read(spark, dir).filter(hit || hit2).isEmpty)

    // OPTIMIZE remains the PURGE: snapshot read applies vectors, the
    // rewrite starts DV-free, rows conserve
    assert(LakeTable.optimize(spark, dir, Long.MaxValue, Seq.empty,
      Some("band")) == Right(6L))
    assert(LakeTable.dvOf(dir, 6L).isEmpty, "optimize must purge vectors")
    assert(LakeTable.read(spark, dir).count()
      == expectedAfter.filter(col("custkey") =!= 2L).count())

    // vacuum keeps sidecars referenced by retained DV versions: keep the
    // last 5 (v2..v6) and v2/v3 must still time-travel through their
    // vectors
    LakeTable.vacuum(dir, 5)
    assert(LakeTable.readVersion(spark, dir, 2L).count()
      == table.filter(!hit).count(),
      "a retained DV version must keep its sidecars through vacuum")
    assert(LakeTable.readVersion(spark, dir, 3L).filter(hit2).isEmpty)
  }

  test("DV update (r12): one atomic commit, rows conserved, feed " +
       "replays retract+insert, merges interleave") {
    val dir = Files.createTempDirectory("graft_lake_dvu_").toString
    val table = snap(200).withColumn("band", expr("custkey div 32"))
    assert(LakeTable.commit(spark, dir, table, Some("band"))(_ => None)
      == Right(1L))
    val filesV1 = LakeTable.currentFiles(dir).toSet
    val fullCount = table.count()
    val hit = col("custkey") % 10 === 3

    // ONE commit: matched rows hidden by sidecar + updated copies added
    assert(LakeTable.updateWhereDv(spark, dir, hit,
      Seq("n_orders" -> (col("n_orders") + lit(100L))))(_ => None)
      == Right(2L))
    assert(filesV1.subsetOf(LakeTable.currentFiles(dir).toSet),
      "a DV update must keep every pre-existing file")
    assert(LakeTable.dvOf(dir, 2L).nonEmpty)
    val live = LakeTable.read(spark, dir)
    assert(live.count() == fullCount, "UPDATE conserves rows")
    val expected = table.withColumn("n_orders",
      when(hit, col("n_orders") + lit(100L)).otherwise(col("n_orders")))
    assert(live.exceptAll(expected).isEmpty &&
           expected.exceptAll(live).isEmpty, "row-exact update")
    // time travel: v1 reads the pre-update content
    assert(LakeTable.readVersion(spark, dir, 1L)
      .exceptAll(table).isEmpty)

    // the feed replays the update as retract-old + insert-new, exactly
    val feed = LakeTable.changesBetween(spark, dir, 1L, 2L)
    val dels = feed.filter(col("_change_type") === "delete")
      .select(table.columns.map(col).toIndexedSeq: _*)
    val ins = feed.filter(col("_change_type") === "insert")
      .select(table.columns.map(col).toIndexedSeq: _*)
    assert(dels.exceptAll(table.filter(hit)).isEmpty &&
           table.filter(hit).exceptAll(dels).isEmpty,
      "retractions must be exactly the pre-update matched rows")
    assert(ins.exceptAll(expected.filter(hit)).isEmpty &&
           expected.filter(hit).exceptAll(ins).isEmpty,
      "insertions must be exactly the updated copies")

    // empty match: no-op success; strict aborts
    assert(LakeTable.updateWhereDv(spark, dir, lit(false),
      Seq("n_orders" -> lit(0L)))(_ => None) == Right(2L))
    assert(LakeTable.updateWhereDv(spark, dir, lit(false),
      Seq("n_orders" -> lit(0L)), strict = true)(_ => None)
      .swap.exists(_.contains("matched no live rows")))
    // a type-changing assignment is rejected by the evolution gate
    assert(LakeTable.updateWhereDv(spark, dir, col("custkey") === 1L,
      Seq("n_orders" -> lit("oops")))(_ => None)
      .swap.exists(_.contains("schema evolution rejected")))
    assert(LakeTable.currentVersion(dir).contains(2L))

    // a partial merge interleaves on the DV-bearing updated table
    val up = table.filter(col("custkey") === 2L)
      .withColumn("n_orders", lit(999L))
    assert(LakeTable.mergePartial(spark, dir, up, Seq("custkey"), "band")(
      _ => None) == Right(3L))
    val after = LakeTable.read(spark, dir)
    assert(after.count() == fullCount)
    assert(after.filter(col("custkey") === 2L).head.getAs[Long]("n_orders")
      == 999L)
    assert(after.filter(col("custkey") === 3L).head.getAs[Long]("n_orders")
      == table.filter(col("custkey") === 3L).head.getAs[Long]("n_orders")
         + 100L,
      "the DV update survives a later merge on another key")

    // a second update STACKS on the updated view (no double-apply)
    assert(LakeTable.updateWhereDv(spark, dir, hit,
      Seq("n_orders" -> (col("n_orders") + lit(1L))))(_ => None)
      == Right(4L))
    assert(LakeTable.read(spark, dir)
      .filter(col("custkey") === 3L).head.getAs[Long]("n_orders")
      == table.filter(col("custkey") === 3L).head.getAs[Long]("n_orders")
         + 101L)
    // OPTIMIZE purges; content identical through the purge
    val preOpt = LakeTable.read(spark, dir).collect()
      .map(_.toString).sorted
    assert(LakeTable.optimize(spark, dir, Long.MaxValue, Seq.empty,
      Some("band")) == Right(5L))
    assert(LakeTable.dvOf(dir, 5L).isEmpty)
    assert(LakeTable.read(spark, dir).collect()
      .map(_.toString).sorted.sameElements(preOpt))
  }

  test("DV merge (r12): merge-on-read upsert in one commit — replace, " +
       "insert, count equation, feed, purge") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_lake_dvm_").toString
    val table = snap(200).withColumn("band", expr("custkey div 32"))
    assert(LakeTable.commit(spark, dir, table, Some("band"))(_ => None)
      == Right(1L))
    val filesV1 = LakeTable.currentFiles(dir).toSet
    val n0 = table.count()

    // source: replacement rows for keys %10==3 (scattered across every
    // band — the shape mergePartial would pay whole-file rewrites for)
    // plus two brand-new keys
    val hit = col("custkey") % 10 === 3
    val replaced = table.filter(hit)
      .withColumn("n_orders", col("n_orders") + lit(500L))
    val novel = Seq((9001L, 1L, 9001L / 32), (9002L, 2L, 9002L / 32))
      .toDF("custkey", "n_orders", "band")
    val source = replaced.unionByName(novel)
    assert(LakeTable.mergeDv(spark, dir, source, Seq("custkey"))(_ => None)
      == Right(2L))
    assert(filesV1.subsetOf(LakeTable.currentFiles(dir).toSet),
      "a DV merge must keep every pre-existing file")
    val live = LakeTable.read(spark, dir)
    assert(live.count() == n0 + 2, "count equation: live − matched + |src|")
    val expected = table.filter(!hit).unionByName(source)
    assert(live.exceptAll(expected).isEmpty &&
           expected.exceptAll(live).isEmpty, "row-exact upsert")
    // time travel to the pre-merge content
    assert(LakeTable.readVersion(spark, dir, 1L).exceptAll(table).isEmpty)

    // feed: retract the replaced originals, insert the source rows
    val feed = LakeTable.changesBetween(spark, dir, 1L, 2L)
    val dels = feed.filter(col("_change_type") === "delete")
      .select(table.columns.map(col).toIndexedSeq: _*)
    val ins = feed.filter(col("_change_type") === "insert")
      .select(table.columns.map(col).toIndexedSeq: _*)
    assert(dels.exceptAll(table.filter(hit)).isEmpty &&
           table.filter(hit).exceptAll(dels).isEmpty)
    assert(ins.exceptAll(source).isEmpty && source.exceptAll(ins).isEmpty)

    // a duplicate-key source refuses loudly before anything stages
    intercept[IllegalArgumentException] {
      LakeTable.mergeDv(spark, dir,
        novel.unionByName(novel), Seq("custkey"))(_ => None)
    }
    // empty source: no-op success
    assert(LakeTable.mergeDv(spark, dir, table.filter(lit(false)),
      Seq("custkey"))(_ => None) == Right(2L))
    assert(LakeTable.currentVersion(dir).contains(2L))

    // merges stack: a second DV merge on the DV-bearing result
    val again = live.filter(col("custkey") === 9001L)
      .withColumn("n_orders", lit(77L))
    assert(LakeTable.mergeDv(spark, dir, again, Seq("custkey"))(_ => None)
      == Right(3L))
    assert(LakeTable.read(spark, dir).filter(col("custkey") === 9001L)
      .head.getAs[Long]("n_orders") == 77L)
    assert(LakeTable.read(spark, dir).count() == n0 + 2)
    // OPTIMIZE purges, content identical
    val pre = LakeTable.read(spark, dir).collect().map(_.toString).sorted
    assert(LakeTable.optimize(spark, dir, Long.MaxValue, Seq.empty,
      Some("band")) == Right(4L))
    assert(LakeTable.dvOf(dir, 4L).isEmpty)
    assert(LakeTable.read(spark, dir).collect()
      .map(_.toString).sorted.sameElements(pre))
  }

  test("DV sidecar sharding: a delete spanning many files writes " +
       "sharded sidecars, read-back exact (r12)") {
    val dir = Files.createTempDirectory("graft_lake_dvshard_").toString
    // many small files: band = custkey div 4 → ~50 layout dirs at the
    // 200-key snapshot, files.length/4 ≥ 2 shards requested
    val table = snap(200).withColumn("band", expr("custkey div 4"))
    assert(LakeTable.commit(spark, dir, table, Some("band"))(_ => None)
      == Right(1L))
    val nFiles = LakeTable.currentFiles(dir).size
    assert(nFiles >= 8, s"fixture needs many files, got $nFiles")
    val hit = col("custkey") % 2 === 1
    assert(LakeTable.deleteWhereDv(spark, dir, hit)(_ => None) == Right(2L))
    val dv = LakeTable.dvOf(dir, 2L)
    assert(dv.size > 1 && dv.size <= 16,
      s"a many-file delete must shard its sidecar write: ${dv.size} shards")
    val live = LakeTable.read(spark, dir)
    assert(live.filter(hit).isEmpty)
    assert(live.exceptAll(table.filter(!hit)).isEmpty &&
           table.filter(!hit).exceptAll(live).isEmpty,
      "sharded sidecars must hide exactly the deleted rows")
    // feed replay folds the sharded delete exactly once
    val feed = LakeTable.changesBetween(spark, dir, 1L, 2L)
    assert(feed.count() == table.filter(hit).count())
  }

  test("DV delete + feed replay on a layout value containing '/' and '%' " +
       "(percent-escaped layout dirs, ADVICE r11)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_lake_dvesc_").toString
    val df = Seq(
      (1L, "EUROPE/WEST", 10L), (2L, "EUROPE/WEST", 20L),
      (3L, "AS%IA", 30L), (4L, "AS%IA", 40L))
      .toDF("k", "region", "v")
    assert(LakeTable.commit(spark, dir, df, Some("region"))(_ => None)
      == Right(1L))
    // the layout dirs really are percent-escaped on disk
    assert(LakeTable.currentFiles(dir).exists(_.contains("%")),
      s"fixture must produce escaped layout dirs: ${LakeTable.currentFiles(dir)}")
    assert(LakeTable.deleteWhereDv(spark, dir, col("k") % 2 === 0)(_ => None)
      == Right(2L))
    val live = LakeTable.read(spark, dir)
    assert(live.select("k").collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    // the feed's dvdelete replay resolves sidecar file names back to DISK
    // paths — the percent-escape round trip (URI-form → disk-form)
    val feed = LakeTable.changesBetween(spark, dir, 1L, 2L)
    assert(feed.select("k").collect().map(_.getLong(0)).toSet == Set(2L, 4L),
      "dvdelete replay must read escaped layout dirs")
    assert(feed.select("_change_type").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("delete"))
    // and a DV-aware merge over the escaped layout still round-trips
    val up = Seq((1L, "EUROPE/WEST", 11L)).toDF("k", "region", "v")
    assert(LakeTable.mergePartial(spark, dir, up, Seq("k"), "region")(
      _ => None) == Right(3L))
    val after = LakeTable.read(spark, dir).select("k", "v").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after == Map(1L -> 11L, 3L -> 30L))
  }

  test("commit event time is content-addressed: a copied table keeps " +
       "_commit_timestamp (r12, ADVICE r11)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_lake_ts_").toString
    assert(LakeTable.commit(spark, dir,
      Seq((1L, 10L)).toDF("k", "v"))(_ => None) == Right(1L))
    assert(LakeTable.append(spark, dir,
      Seq((2L, 20L)).toDF("k", "v"))(_ => None) == Right(2L))
    val t1 = LakeTable.commitTimeOf(dir, 1L)
    val t2 = LakeTable.commitTimeOf(dir, 2L)
    // copy the table directory (mtimes change; content does not)
    val copy = Files.createTempDirectory("graft_lake_tscopy_").toString
    java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).forEach { p =>
      val rel = java.nio.file.Paths.get(dir).relativize(p)
      val q = java.nio.file.Paths.get(copy).resolve(rel)
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(q)
      else java.nio.file.Files.copy(p, q,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    assert(LakeTable.commitTimeOf(copy, 1L) == t1 &&
           LakeTable.commitTimeOf(copy, 2L) == t2,
      "event time must survive a directory copy (content-addressed)")
    // the copied table's feed stamps identically
    val feed = LakeTable.changesBetween(spark, copy, 0L, 2L)
    assert(feed.select("_commit_timestamp").distinct().collect()
      .map(_.getTimestamp(0)).toSet == Set(t1, t2))
  }

  test("cloneTable (r12): zero-copy birth, DV carry, time-travel clone, " +
       "and hard-link durability against a source vacuum") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_lake_clone_").toString
    val src = s"$root/src"
    val df = (1L to 30L).map(k => (k, k * 10L)).toDF("k", "v")
    assert(LakeTable.commit(spark, src, df)(_ => None) == Right(1L))
    // a sink watermark on the source — clones must NOT inherit it
    assert(LakeTable.append(spark, src,
      Seq((31L, 310L)).toDF("k", "v"),
      batches = Map("sinkA" -> 7L))(_ => None) == Right(2L))
    assert(LakeTable.deleteWhereDv(spark, src, col("k") <= 3)(_ => None)
      == Right(3L))

    // clone of the LIVE version: byte-exact, DV applied, no watermarks
    val live = s"$root/live"
    assert(LakeTable.cloneTable(src, live) == Right(1L))
    assert(LakeTable.read(spark, live).collect().map(_.getLong(0)).sorted
      .toSeq == (4L to 31L))
    assert(LakeTable.appliedBatch(live, "sinkA").isEmpty,
      "per-sink batch watermarks must not carry into a clone")
    assert(LakeTable.dvOf(live, 1L).nonEmpty,
      "the source's deletion vectors must carry into the clone")

    // clone of a PINNED version (time-travel clone): pre-delete content
    val pinned = s"$root/pinned"
    assert(LakeTable.cloneTable(src, pinned, Some(2L)) == Right(1L))
    assert(LakeTable.read(spark, pinned).count() == 31L)

    // a clone refuses a non-fresh target and an unknown version
    assert(LakeTable.cloneTable(src, live).isLeft)
    assert(LakeTable.cloneTable(src, s"$root/nope", Some(99L)).isLeft)

    // hard-link durability: rewrite the source (orphaning v1-v3's files)
    // then vacuum it to one version — the clones must still read exactly
    assert(LakeTable.commit(spark, src,
      Seq((100L, 1000L)).toDF("k", "v"))(_ => None) == Right(4L))
    LakeTable.vacuum(src, keepVersions = 1)
    assert(LakeTable.read(spark, live).collect().map(_.getLong(0)).sorted
      .toSeq == (4L to 31L),
      "a source vacuum must never break a clone (links hold the inodes)")
    assert(LakeTable.read(spark, pinned).count() == 31L)

    // and the clone's own lifecycle is fully independent: DML + vacuum
    assert(LakeTable.deleteWhereDv(spark, live, col("k") > 29)(_ => None)
      == Right(2L))
    LakeTable.vacuum(live, keepVersions = 1)
    assert(LakeTable.read(spark, live).collect().map(_.getLong(0)).sorted
      .toSeq == (4L to 29L))
    assert(LakeTable.read(spark, src).count() == 1L,
      "clone DML must never reach the source")
  }

  test("incremental manifest log (r15): carry commits write O(touched) " +
       "deltas, resolution reproduces every version exactly, and cold " +
       "reads fold checkpoint + suffix") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_lake_mlog_").toString
    def raw(v: Long): String = new String(
      Files.readAllBytes(Paths.get(dir, s"manifest-v$v.json")), "UTF-8")
    // v1: a many-file layout table (full manifest — nothing to delta
    // against)
    val base = (1L to 400L).map(k => (k, k % 8, k * 10L))
      .toDF("k", "band", "v").repartition(8, col("band"))
    assert(LakeTable.commit(spark, dir, base, Some("band"),
      Seq("k"))(_ => None) == Right(1L))
    assert(!raw(1L).contains("\"delta\":1"), "v1 anchors the chain")
    val v1Files = LakeTable.currentFiles(dir)
    assert(v1Files.size >= 8)

    // appends and a single-band merge write DELTAS that do not re-list
    // the carried files
    assert(LakeTable.append(spark, dir,
      Seq((401L, 1L, 4010L)).toDF("k", "band", "v"))(_ => None)
      == Right(2L))
    assert(raw(2L).contains("\"delta\":1"), "an append is a delta record")
    assert(!raw(2L).contains(v1Files.head),
      "a delta must not re-list carried files")
    assert(raw(2L).length < raw(1L).length / 4,
      s"delta (${raw(2L).length} B) must be far smaller than the " +
      s"snapshot (${raw(1L).length} B)")
    assert(LakeTable.mergePartial(spark, dir,
      Seq((7L, 7L, 777L)).toDF("k", "band", "v"),
      Seq("k"), "band")(_ => None) == Right(3L))
    assert(raw(3L).contains("\"delta\":1"), "a partial merge is a delta")
    // DV delete: sidecar rides the delta
    assert(LakeTable.deleteWhereDv(spark, dir, col("k") === 10L)(_ => None)
      == Right(4L))
    assert(raw(4L).contains("\"delta\":1") && raw(4L).contains(".dv"))

    // resolution reproduces every version byte-for-byte on a COLD cache
    def view(v: Long) =
      (LakeTable.filesOf(dir, v), LakeTable.rowsOf(dir, v),
       LakeTable.dvOf(dir, v), LakeTable.bytesOf(dir, v))
    val warm = (1L to 4L).map(v => v -> view(v)).toMap
    LakeTable.clearResolveCache()
    (1L to 4L).foreach { v =>
      assert(view(v) == warm(v), s"cold resolution of v$v must match")
    }
    assert(LakeTable.read(spark, dir).filter(col("k") === 7L)
      .head.getAs[Long]("v") == 777L)
    assert(LakeTable.read(spark, dir).filter(col("k") === 10L).isEmpty,
      "the DV delete must survive resolution")
    assert(LakeTable.readVersion(spark, dir, 1L).count() == 400L)

    // byte sizes ride every manifest (r15): every member has an entry
    val bytes = LakeTable.bytesOf(dir,
      LakeTable.currentVersion(dir).get)
    val members = LakeTable.currentFiles(dir) ++
      LakeTable.dvOf(dir, LakeTable.currentVersion(dir).get)
    assert(members.forall(bytes.contains),
      "every live member needs a recorded byte size")
    assert(members.forall(f =>
      bytes(f) == Files.size(Paths.get(dir, f))),
      "recorded sizes must match the bytes on disk")

    // an OVERWRITE naturally writes the full form (its removal list
    // would be the whole old file list)
    assert(LakeTable.commit(spark, dir,
      Seq((1L, 0L, 1L)).toDF("k", "band", "v"))(_ => None) == Right(5L))
    assert(!raw(5L).contains("\"delta\":1"),
      "an overwrite re-anchors with a full manifest")
  }

  test("incremental manifest log (r15): checkpoint cadence bounds cold " +
       "resolution, vacuum anchors retained claims before reclaim, and " +
       "an orphan claim over a vacuumed base still publishes readable") {
    import spark.implicits._
    val prev = sys.props.put("graft.lake.checkpointInterval", "3")
    try {
      val dir = Files.createTempDirectory("graft_lake_mckpt_").toString
      assert(LakeTable.commit(spark, dir,
        Seq((1L, 10L)).toDF("k", "v"))(_ => None) == Right(1L))
      for (i <- 2 to 8)
        assert(LakeTable.append(spark, dir,
          Seq((i.toLong, i * 10L)).toDF("k", "v"))(_ => None)
          == Right(i.toLong))
      // chain depths: v1 full(0), v2..v8 deltas — depth hits 3 at v4
      // and re-anchors, then again at v7
      assert(Files.exists(Paths.get(dir, "checkpoint-v4.json")),
        "depth-K chain must write a checkpoint")
      assert(Files.exists(Paths.get(dir, "checkpoint-v7.json")))
      assert(!Files.exists(Paths.get(dir, "checkpoint-v5.json")),
        "checkpoints land every K commits, not every commit")
      LakeTable.clearResolveCache()
      assert(LakeTable.read(spark, dir).count() == 8L)
      assert(LakeTable.readVersion(spark, dir, 6L).count() == 6L)

      // checkpoints are DERIVED data: deleting one (crash between claim
      // and checkpoint write, manual cleanup) must only cost a longer
      // fold — resolution falls back to the intact delta chain
      Files.delete(Paths.get(dir, "checkpoint-v4.json"))
      LakeTable.clearResolveCache()
      assert(LakeTable.read(spark, dir).count() == 8L,
        "a deleted checkpoint must not break resolution")
      assert(LakeTable.readVersion(spark, dir, 5L).count() == 5L)

      // vacuum keep-3 retains v6..v8. Chains walk DOWN through base
      // links: v8 anchors at checkpoint-v7, but v6's chain passes
      // through the dropped v5 — the guard must checkpoint v6 before
      // anything deletes
      val (dropped, _) = LakeTable.vacuum(dir, keepVersions = 3)
      assert(dropped == 5)
      assert(Files.exists(Paths.get(dir, "checkpoint-v6.json")),
        "vacuum must anchor the lowest kept version before reclaim")
      LakeTable.clearResolveCache()
      assert(LakeTable.versions(dir) == Seq(6L, 7L, 8L))
      (6L to 8L).foreach(v =>
        assert(LakeTable.readVersion(spark, dir, v).count() == v,
          s"v$v must stay readable after the vacuum"))

      // ORPHAN CLAIM whose base falls below the floor: stage a carry
      // commit against v6, claim it (crash before mark), then vacuum
      // keep-1 — v6 and v7, the claim's WHOLE resolution chain, drop.
      // The guard must anchor the retained claim so the resumed
      // publish still resolves (the r12 deferred-reclaim promise now
      // extends to the delta chain).
      val st = LakeTable.stageAt(spark, dir, 6L,
        Seq((99L, 990L)).toDF("k", "v"), None,
        LakeTable.filesOf(dir, 6L), Seq.empty, "append")
      val claimed = LakeTable.writeManifest(st)
      LakeTable.vacuum(dir, keepVersions = 1)
      assert(Files.exists(Paths.get(dir, s"manifest-v$claimed.json")),
        "the in-flight claim above the floor survives")
      assert(Files.exists(Paths.get(dir, s"checkpoint-v$claimed.json")),
        "the claim's chain crossed the reclaimed set — it needs an anchor")
      LakeTable.markPublished(dir, claimed)
      LakeTable.clearResolveCache()
      assert(LakeTable.readVersion(spark, dir, claimed)
        .filter(col("k") === 99L).count() == 1L,
        "the resumed publish must read back through its anchor")
    } finally {
      prev match {
        case Some(p) =>
          sys.props.put("graft.lake.checkpointInterval", p); ()
        case None =>
          sys.props.remove("graft.lake.checkpointInterval"); ()
      }
    }
  }

  test("incremental manifest log (r15): a pre-r15 FULL manifest with no " +
       "rowcounts/bytecounts/stats interoperates — reads, sizes fall " +
       "back, and new commits delta against it") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_lake_legacy_").toString
    // hand-write the exact shape the pre-r15 writer produced: a full
    // file list + schema, nothing else
    val staging = Paths.get(dir, "data", "legacy-uuid")
    Files.createDirectories(staging)
    val df = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v")
    val tmpOut = Files.createTempDirectory("graft_legacy_stage_")
      .resolve("out")
    df.coalesce(1).write.parquet(tmpOut.toString)
    val part = Files.list(tmpOut).iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet")).next()
    Files.move(part, staging.resolve("part-legacy.parquet"))
    Files.write(Paths.get(dir, "manifest-v1.json"),
      ("""{"version":1,"base":0,"op":"overwrite",""" +
       """"schema":["k BIGINT","v BIGINT"],""" +
       """"files":["data/legacy-uuid/part-legacy.parquet"]}""")
        .getBytes("UTF-8"))
    Files.write(Paths.get(dir, "commit-v1"),
      String.valueOf(System.currentTimeMillis()).getBytes("UTF-8"))
    // reads fall back to one stat per member for the missing sizes
    assert(readKeys2(dir) == Set(1L, 2L, 3L))
    assert(LakeTable.rowsOf(dir, 1L).isEmpty,
      "no recorded rowcounts on a legacy manifest")
    // a new commit deltas against the legacy base and the mixed chain
    // resolves cold
    assert(LakeTable.append(spark, dir,
      Seq((4L, 40L)).toDF("k", "v"))(_ => None) == Right(2L))
    val raw2 = new String(Files.readAllBytes(
      Paths.get(dir, "manifest-v2.json")), "UTF-8")
    assert(raw2.contains("\"delta\":1"),
      "a commit over a legacy base still writes a delta")
    LakeTable.clearResolveCache()
    assert(readKeys2(dir) == Set(1L, 2L, 3L, 4L))
    assert(LakeTable.readVersion(spark, dir, 1L).count() == 3L)
    // DV DML composes over the mixed-era chain
    assert(LakeTable.deleteWhereDv(spark, dir, col("k") === 2L)(_ => None)
      == Right(3L))
    assert(readKeys2(dir) == Set(1L, 3L, 4L))
  }

  test("hostile names round-trip the manifest: RENAME to z.parquet, " +
       "a\"b and c}d, and DROP of a column named q.parquet, read cold") {
    import spark.implicits._
    Seq("z.parquet", "a\"b", "c}d").foreach { to =>
      val dir = Files.createTempDirectory("graft_lake_hostile_").toString
      assert(LakeTable.commit(spark, dir,
        (1L to 4L).map(k => (k, k * 10L)).toDF("k", "v"))(_ => None)
        == Right(1L))
      assert(LakeTable.renameColumn(dir, "v", to) == Right(2L))
      LakeTable.clearResolveCache()
      assert(LakeTable.renamesOf(dir, 2L) == Map("v" -> to))
      assert(LakeTable.filesOf(dir, 2L) == LakeTable.filesOf(dir, 1L),
        s"RENAME to $to must leave the file list alone")
      val back = LakeTable.read(spark, dir)
      assert(back.columns.toSeq == Seq("k", to), s"RENAME to $to")
      assert(back.orderBy("k").collect().map(_.getLong(1)).toSeq
        == Seq(10L, 20L, 30L, 40L))
    }
    // the tombstone of a physical column named like a data file
    val dir = Files.createTempDirectory("graft_lake_hostile_drop_").toString
    assert(LakeTable.commit(spark, dir,
      (1L to 4L).map(k => (k, k * 10L, k * 100L)).toDF("k", "q.parquet", "w"))(
      _ => None) == Right(1L))
    assert(LakeTable.dropColumn(dir, "q.parquet") == Right(2L))
    LakeTable.clearResolveCache()
    assert(LakeTable.droppedOf(dir, 2L) == Seq("q.parquet"))
    assert(LakeTable.filesOf(dir, 2L) == LakeTable.filesOf(dir, 1L))
    val back = LakeTable.read(spark, dir)
    assert(back.columns.toSeq == Seq("k", "w"))
    assert(back.orderBy("k").collect().map(_.getLong(1)).toSeq
      == Seq(100L, 200L, 300L, 400L))
  }

  test("DV delete, DV update and the change feed on a physical column " +
       "named a.b") {
    import spark.implicits._
    // `col("a.b")` would read field b of a struct a: every DV and feed
    // projection must select the column by its exact name
    val wh = Files.createTempDirectory("graft_lake_dotted_").toString
    val dir = Paths.get(wh, "ns", "t").toString
    val cat = "graft_dotted_cat"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.LakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    assert(LakeTable.commit(spark, dir,
      (1L to 5L).map(k => (k, k * 10L)).toDF("k", "a.b"))(_ => None)
      == Right(1L))
    assert(LakeTable.deleteWhereDv(spark, dir, col("k") === 2L)(_ => None)
      == Right(2L))
    assert(LakeTable.updateWhereDv(spark, dir, col("k") === 3L,
      Seq("a.b" -> (col("`a.b`") + lit(1L))))(_ => None) == Right(3L))
    LakeTable.clearResolveCache()
    val back = LakeTable.read(spark, dir)
    assert(back.columns.toSeq == Seq("k", "a.b"))
    assert(back.orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq == Seq((1L, 10L), (3L, 31L), (4L, 40L), (5L, 50L)))
    val feed = LakeTable.changesBetween(spark, dir, 1L, 3L)
      .select(col("_change_type"), col("_commit_version"), col("k"),
              col("`a.b`"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
                           r.getLong(3))).toSet
    assert(feed == Set(("delete", 2L, 2L, 20L), ("delete", 3L, 3L, 30L),
                       ("insert", 3L, 3L, 31L)), s"feed: $feed")
    // the catalog SELECT and one readStream.format("graft-lake") batch
    assert(spark.table(s"$cat.ns.t").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
      == Seq((1L, 10L), (3L, 31L), (4L, 40L), (5L, 50L)))
    val cp = Files.createTempDirectory("graft_lake_dotted_cp_").toString
    val q = spark.readStream.format("graft-lake").option("path", dir).load()
      .writeStream.format("memory").queryName("graft_dotted_feed")
      .option("checkpointLocation", cp).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("graft_dotted_feed")
      .select(col("_change_type"), col("_commit_version"), col("k"),
              col("`a.b`"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
                           r.getLong(3))).toSet
    assert(streamed == (1L to 5L).map(k => ("insert", 1L, k, k * 10L)).toSet
      ++ feed, s"stream: $streamed")
  }

  test("golden log: manifests and checkpoints written before the typed " +
       "codec resolve to the accessor values recorded with them") {
    import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
    // src/test/resources/lake-golden/<table>/: the log files plus
    // expected.json — what filesOf/rowsOf/dvOf/bytesOf/statsOf/opOf/
    // renamesOf/appliedBatch returned for each version when written —
    // and schemas.json, what schemaOf/logicalSchemaOf returned
    val root = Paths.get(getClass.getResource("/lake-golden").toURI)
    val schemas = new ObjectMapper().readTree(
      root.resolve("schemas.json").toFile)
    def strs(n: JsonNode): Seq[String] = n.elements.asScala.map(_.asText).toSeq
    def longs(n: JsonNode): Map[String, Long] =
      n.fields.asScala.map(e => e.getKey -> e.getValue.asLong).toMap
    Seq("chain", "pre_r14", "pre_r15").foreach { name =>
      val fx = root.resolve(name)
      val logs = Files.list(fx).iterator().asScala.map(_.getFileName.toString)
        .filter(_.matches("(manifest|checkpoint)-v\\d+\\.json")).toSeq
      val expected = new ObjectMapper().readTree(fx.resolve("expected.json")
        .toFile).elements.asScala.toSeq
      val dir = Files.createTempDirectory(s"graft_lake_golden_$name").toString
      val schemaAt = schemas.get(name).elements.asScala
        .map(s => s.get("version").asLong -> s).toMap
      def check(e: JsonNode, live: Boolean): Unit = {
        val v = e.get("version").asLong
        val at = s"$name v$v"
        assert(LakeTable.schemaOf(dir, v).map(_.entry)
          == strs(schemaAt(v).get("schema")), at)
        assert(LakeTable.logicalSchemaOf(dir, v).map(_.entry)
          == strs(schemaAt(v).get("logicalSchema")), at)
        assert(LakeTable.filesOf(dir, v) == strs(e.get("files")), at)
        assert(LakeTable.rowsOf(dir, v) == longs(e.get("rows")), at)
        assert(LakeTable.dvOf(dir, v) == strs(e.get("dv")), at)
        assert(LakeTable.bytesOf(dir, v) == longs(e.get("bytes")), at)
        assert(LakeTable.statsOf(dir, v).toSeq.map { case ((f, c), st) =>
          s"$f|$c|${st.kind}|${st.mn}|${st.mx}" }.sorted
          == strs(e.get("stats")), at)
        assert(LakeTable.opOf(dir, v) == e.get("op").asText, at)
        assert(LakeTable.renamesOf(dir, v) ==
          e.get("renames").fields.asScala.map(f =>
            f.getKey -> f.getValue.asText).toMap, at)
        if (live)
          assert(Seq("", "s1", "s2").flatMap(s =>
            LakeTable.appliedBatch(dir, s).map(s -> _)).toMap
            == longs(e.get("applied")), at)
      }
      // publish the versions one at a time, each resolved cold ...
      expected.foreach { e =>
        val v = e.get("version").asLong
        logs.filter(_.endsWith(s"-v$v.json")).foreach(n =>
          Files.copy(fx.resolve(n), Paths.get(dir, n)))
        Files.write(Paths.get(dir, s"commit-v$v"),
          "1700000000000".getBytes("UTF-8"))
        LakeTable.clearResolveCache()
        check(e, live = true)
      }
      // ... then every version once more against the whole log
      LakeTable.clearResolveCache()
      expected.reverse.foreach(check(_, live = false))
    }
  }

  test("column names with a space: RENAME, ADD COLUMNS, an append and a " +
       "DROP keep the table readable by batch, change-feed and catalog") {
    import spark.implicits._
    import graft.sources.LakeManifest.Column
    val wh = Files.createTempDirectory("graft_lake_space_").toString
    val dir = Paths.get(wh, "ns", "t").toString
    val cat = "graft_space_cat"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.LakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    assert(LakeTable.commit(spark, dir,
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v"))(_ => None) == Right(1L))
    assert(LakeTable.renameColumn(dir, "v", "a b") == Right(2L))
    LakeTable.clearResolveCache()
    def rows(df: DataFrame): Seq[Seq[Any]] =
      df.orderBy("k").collect().map(_.toSeq).toSeq
    val batch = spark.read.format("graft-lake").load(dir)
    assert(batch.columns.toSeq == Seq("k", "a b"))
    assert(rows(batch) == Seq(Seq(1L, 10L), Seq(2L, 20L)))
    val feed = spark.read.format("graft-lake")
      .option("readChangeFeed", "true").load(dir)
      .select("k", "a b", "_change_type")
    assert(rows(feed) == Seq(Seq(1L, 10L, "insert"), Seq(2L, 20L, "insert")))
    assert(rows(spark.sql(s"SELECT k, `a b` FROM $cat.ns.t"))
      == Seq(Seq(1L, 10L), Seq(2L, 20L)))

    assert(LakeTable.addColumns(dir, Seq("c d" -> "STRING")) == Right(3L))
    assert(LakeTable.append(spark, dir,
      Seq((3L, 30L, "x", 7L)).toDF("k", "a b", "c d", "e f"))(_ => None)
      == Right(4L))
    LakeTable.clearResolveCache()
    assert(LakeTable.currentSchema(dir) == Seq(Column("k", "BIGINT"),
      Column("v", "BIGINT"), Column("c d", "STRING"),
      Column("e f", "BIGINT")))
    val all = Seq(Seq(1L, 10L, null, null), Seq(2L, 20L, null, null),
                  Seq(3L, 30L, "x", 7L))
    assert(rows(spark.read.format("graft-lake").load(dir)) == all)
    assert(rows(spark.sql(s"SELECT * FROM $cat.ns.t")) == all)

    assert(LakeTable.dropColumn(dir, "a b") == Right(5L))
    LakeTable.clearResolveCache()
    val dropped = spark.read.format("graft-lake").load(dir)
    assert(dropped.columns.toSeq == Seq("k", "c d", "e f"))
    assert(rows(dropped) == all.map(r => r.head +: r.drop(2)))
    assert(rows(spark.read.format("graft-lake")
      .option("readChangeFeed", "true").load(dir)
      .filter(col("_commit_version") === 4L).select("k", "c d", "e f"))
      == Seq(Seq(3L, "x", 7L)))
  }

  test("merge keys and a layout column with dots in their names: " +
       "mergePartial, mergeDv and a cdc sink epoch keyed on k.x") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_lake_dotkeys_").toString
    def frame(rs: (Long, Long, Long)*): DataFrame =
      rs.toDF("k.x", "b.y", "v")
    def state(): Map[Long, Long] = LakeTable.read(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(LakeTable.commit(spark, dir,
      frame((1L, 0L, 10L), (2L, 1L, 20L), (3L, 0L, 30L)),
      layoutBy = Some("b.y"))(_ => None) == Right(1L))
    assert(LakeTable.mergePartial(spark, dir,
      frame((1L, 0L, 11L), (4L, 1L, 40L)), Seq("k.x"), "b.y")(_ => None)
      == Right(2L))
    assert(state() == Map(1L -> 11L, 2L -> 20L, 3L -> 30L, 4L -> 40L))
    assert(LakeTable.mergeDv(spark, dir,
      frame((2L, 1L, 21L), (5L, 0L, 50L)), Seq("k.x"),
      layoutBy = Some("b.y"))(_ => None) == Right(3L))
    assert(state() ==
      Map(1L -> 11L, 2L -> 21L, 3L -> 30L, 4L -> 40L, 5L -> 50L))
    val sink = new graft.sources.LakeStreamSink(dir, "cdc", Some("b.y"),
      Seq.empty, Seq("k.x"), "dots")
    sink.addBatch(0L, Seq((3L, 0L, 0L, "D"), (4L, 1L, 41L, "U"))
      .toDF("k.x", "b.y", "v", "op"))
    assert(LakeTable.currentVersion(dir).contains(4L))
    assert(state() == Map(1L -> 11L, 2L -> 21L, 4L -> 41L, 5L -> 50L))
  }

  test("an empty change set publishes nothing: mergePartial and " +
       "applyCdcPartial return the live version") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_lake_emptyup_").toString
    val rows = Seq((1L, 0L, 10L), (2L, 1L, 20L)).toDF("k", "band", "v")
    assert(LakeTable.commit(spark, dir, rows, Some("band"))(_ => None)
      == Right(1L))
    val none = rows.filter(col("k") < 0L)
    assert(LakeTable.mergePartial(spark, dir, none, Seq("k"), "band")(
      _ => None) == Right(1L))
    assert(LakeTable.applyCdcPartial(spark, dir,
      none.withColumn("op", lit("U")), Seq("k"), "band")(_ => None)
      == Right(1L))
    assert(LakeTable.versions(dir) == Seq(1L),
      "an empty upsert must not mint a data-identical version")
    assert(LakeTable.mergePartial(spark, dir,
      Seq((2L, 1L, 21L)).toDF("k", "band", "v"), Seq("k"), "band")(
      _ => None) == Right(2L))
    // with no published version there is no live version to answer
    val fresh = Files.createTempDirectory("graft_lake_emptyup0_").toString
    assert(LakeTable.mergePartial(spark, fresh, none, Seq("k"), "band")(
      _ => None).isLeft)
    assert(LakeTable.applyCdcPartial(spark, fresh,
      none.withColumn("op", lit("U")), Seq("k"), "band")(_ => None).isLeft)
    assert(LakeTable.currentVersion(fresh).isEmpty)
  }

  test("a partial rewrite reads its inputs under the recorded schema " +
       "after ADD COLUMNS and after a type widening") {
    import spark.implicits._
    // each table holds, under one layout value, a file written before
    // the evolution and one written after it; the rewrite of that value
    // reads both. Which footer a footer-inferred read would sample
    // depends on the staging uuids, so every case runs on 8 tables.
    for (i <- 1 to 8) {
      val dir = Files.createTempDirectory(s"graft_lake_addcol_$i").toString
      assert(LakeTable.commit(spark, dir,
        Seq((1L, 0L, 10L), (2L, 0L, 20L)).toDF("k", "band", "v"),
        Some("band"))(_ => None) == Right(1L))
      assert(LakeTable.addColumns(dir, Seq("w" -> "BIGINT")) == Right(2L))
      assert(LakeTable.append(spark, dir,
        Seq((3L, 0L, 30L, 300L)).toDF("k", "band", "v", "w"),
        Some("band"))(_ => None) == Right(3L))
      assert(LakeTable.mergePartial(spark, dir,
        Seq((1L, 0L, 11L, 110L)).toDF("k", "band", "v", "w"), Seq("k"),
        "band")(_ => None) == Right(4L), s"table $i")
      val got = LakeTable.read(spark, dir).collect().map(r =>
        (r.getLong(0), r.getLong(2), Option(r.get(3)))).toSet
      assert(got == Set((1L, 11L, Some(110L)), (2L, 20L, None),
                        (3L, 30L, Some(300L))), s"table $i: $got")
    }
    for (i <- 1 to 8) {
      val dir = Files.createTempDirectory(s"graft_lake_widen_$i").toString
      assert(LakeTable.commit(spark, dir,
        Seq((1L, 0L, 10), (2L, 0L, 20)).toDF("k", "band", "v"),
        Some("band"))(_ => None) == Right(1L))
      assert(LakeTable.alterColumnType(dir, "v", "BIGINT") == Right(2L))
      assert(LakeTable.append(spark, dir,
        Seq((3L, 0L, 30L)).toDF("k", "band", "v"),
        Some("band"))(_ => None) == Right(3L))
      assert(LakeTable.mergePartial(spark, dir,
        Seq((1L, 0L, 11L)).toDF("k", "band", "v"), Seq("k"), "band")(
        _ => None) == Right(4L), s"table $i")
      val got = LakeTable.read(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(got == Map(1L -> 11L, 2L -> 20L, 3L -> 30L), s"table $i: $got")
    }
  }

  test("COPY INTO gates on every source file's columns: a column only " +
       "one file carries is refused without mergeSchema and lands with it") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_lake_copyms_").toString
    assert(LakeTable.append(spark, dir, Seq((1L, 10L)).toDF("a", "b"))(
      _ => None) == Right(1L))
    val src = Files.createTempDirectory("graft_copyms_src_").toString
    Seq((2L, 20L)).toDF("a", "b").coalesce(1).write.parquet(s"$src/f1")
    Seq((3L, 30L, 300L)).toDF("a", "b", "c")
      .coalesce(1).write.parquet(s"$src/f2")
    val refused = LakeTable.copyInto(spark, dir, src)(_ => None)
    assert(refused.left.exists(m =>
      m.startsWith("COPY INTO schema mismatch") && m.contains("column(s) c")),
      s"f2's extra column must reach the schema gate: $refused")
    assert(LakeTable.versions(dir) == Seq(1L),
      "the refused copy must publish nothing")
    assert(LakeTable.copyInto(spark, dir, src, mergeSchema = true)(
      _ => None) == Right((2L, 2L, 2L)))
    val t = LakeTable.read(spark, dir)
    assert(t.columns.toSeq == Seq("a", "b", "c"))
    assert(t.orderBy("a").collect().map(r =>
      (r.getLong(0), r.getLong(1), Option(r.get(2)))).toSeq
      == Seq((1L, 10L, None), (2L, 20L, None), (3L, 30L, Some(300L))))
  }

  private def readKeys2(dir: String): Set[Long] =
    LakeTable.read(spark, dir).collect().map(_.getAs[Long]("k")).toSet
}
