package graft

import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Source/sink format coverage (§2.1): CSV and JSON round-trips preserve
  * the data the engine computes on. */
class SourceFormatSpec extends SparkTestBase {

  test("parquet mergeSchema reads evolved schemas as their union") {
    // schema evolution: a v2 writer adds a column; readers must see the
    // union schema with NULLs for v1 rows — the property that lets a
    // 100 TB table evolve without rewriting history
    val dir = Files.createTempDirectory("graft_evolve").toString
    val v1 = graft.ops.Tables.customer(spark, sf)
      .select("c_custkey", "c_name").limit(10)
    v1.write.mode("overwrite").parquet(s"$dir/d=1")
    val v2 = graft.ops.Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_name"),
              lit("gold").as("tier")).limit(5)
    v2.write.mode("overwrite").parquet(s"$dir/d=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet == Set("c_custkey", "c_name", "tier", "d"))
    assert(merged.count() == 15)
    // v1 rows surface with NULL tier; v2 rows keep their value
    assert(merged.filter(col("d") === 1 && col("tier").isNull).count() == 10)
    assert(merged.filter(col("d") === 2 && col("tier") === "gold").count() == 5)
  }

  test("graft-lake data source: standard read API, time travel, stats pruning") {
    import org.apache.spark.sql.functions._
    import graft.sources.{LakeRelation, LakeTable}
    val dir = java.nio.file.Files
      .createTempDirectory("graft_lake_src_").toString
    def snap(keyMax: Int) = graft.ops.Tables.orders(spark, sf)
      .filter(col("o_custkey") <= keyMax)
      .groupBy(col("o_custkey").as("custkey"))
      .agg(count(lit(1)).cast("long").as("n_orders"))
      .withColumn("band", expr("custkey div 32"))
    assert(LakeTable.commit(spark, dir, snap(80), Some("band"),
                            Seq("custkey"))(_ => None) == Right(1L))
    assert(LakeTable.commit(spark, dir, snap(150), Some("band"),
                            Seq("custkey"))(_ => None) == Right(2L))
    // the standard read API sees the live version, by-name schema order
    val live = spark.read.format("graft-lake").option("path", dir).load()
    assert(live.columns.toSeq == Seq("custkey", "n_orders", "band"))
    assert(live.count() == LakeTable.read(spark, dir).count())
    // versionAsOf time-travels
    val v1 = spark.read.format("graft-lake").option("path", dir)
      .option("versionAsOf", "1").load()
    assert(v1.count() == snap(80).count())
    // a range filter prunes FILES through the PrunedFilteredScan push,
    // and the result still equals the unpruned read (superset contract)
    val all = LakeTable.currentFiles(dir)
    val filtered = live.filter(col("custkey").between(10L, 20L))
    val rows = filtered.collect().map(_.getAs[Long]("custkey")).toSet
    val scanned = LakeRelation.lastScanFiles.get()
    assert(scanned != null && scanned.nonEmpty && scanned.size < all.size,
      s"the filter must prune files: ${Option(scanned).map(_.size)} of ${all.size}")
    val expect = LakeTable.read(spark, dir)
      .filter(col("custkey").between(10L, 20L))
      .collect().map(_.getAs[Long]("custkey")).toSet
    assert(rows == expect, "pruned source read must lose nothing in range")
  }

  test("graft-lake write path: overwrite versions, zero-rewrite append, evolution gate") {
    import org.apache.spark.sql.functions._
    import graft.sources.LakeTable
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_lake_w_").toString
    def df(lo: Long, hi: Long) = (lo to hi)
      .map(k => (k, k * 10)).toDF("k", "v")
    // first write publishes v1
    df(1, 50).write.format("graft-lake").option("path", dir).save()
    assert(LakeTable.currentVersion(dir).contains(1L))
    // ErrorIfExists honors the published version
    intercept[IllegalStateException] {
      df(1, 10).write.format("graft-lake").option("path", dir).save()
    }
    // Append = manifest arithmetic: v1's files carry verbatim
    val v1Files = LakeTable.currentFiles(dir)
    df(51, 80).write.format("graft-lake").option("path", dir)
      .mode("append").save()
    assert(LakeTable.currentVersion(dir).contains(2L))
    val v2Files = LakeTable.currentFiles(dir)
    assert(v1Files.forall(v2Files.contains),
      "append must carry every v1 file into v2's manifest")
    assert(spark.read.format("graft-lake").option("path", dir).load()
      .count() == 80)
    // Overwrite replaces the content, history stays
    df(1, 20).write.format("graft-lake").option("path", dir)
      .mode("overwrite").save()
    assert(LakeTable.currentVersion(dir).contains(3L))
    assert(LakeTable.readVersion(spark, dir, 2L).count() == 80,
      "the pre-overwrite version must stay time-travelable")
    // the audit's evolution contract gates the standard write path too
    intercept[IllegalStateException] {
      df(1, 5).withColumn("v", col("v").cast("int"))
        .write.format("graft-lake").option("path", dir)
        .mode("overwrite").save()
    }
    assert(LakeTable.currentVersion(dir).contains(3L))
  }

  test("csv round-trip with explicit schema") {
    val dir = Files.createTempDirectory("graft_csv").toString
    val li = graft.ops.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    li.write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read.schema(li.schema).option("header", "true").csv(dir)
    assert(back.count() == li.count())
    assert(back.agg(sum("l_quantity")).collect().head.getDouble(0) ==
           li.agg(sum("l_quantity")).collect().head.getDouble(0))
  }

  test("HLL sketch partials survive a parquet round-trip and merge exactly") {
    // the incremental-stats production pattern: persist per-sub-group
    // sketch BYTES nightly, re-estimate any rollup later without
    // rescanning — valid only if the binary column round-trips losslessly
    val dir = Files.createTempDirectory("graft_sketch").toString
    val li = graft.ops.Tables.lineitem(spark, sf)
    li.groupBy("l_returnflag", "l_linestatus")
      .agg(expr("hll_sketch_agg(l_partkey, 12)").as("sk"))
      .write.mode("overwrite").parquet(dir)
    val merged = spark.read.parquet(dir)
      .groupBy("l_returnflag")
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk, false))").as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val direct = li.groupBy("l_returnflag")
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(l_partkey, 12))").as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged == direct,
      s"persisted partials must merge to the direct estimate: $merged vs $direct")
  }

  test("graft-lake via SQL DDL: CREATE TABLE USING + time-travel view") {
    import graft.sources.LakeTable
    val dir = java.nio.file.Files.createTempDirectory("graft_lake_sql").toString
    val base = graft.ops.Tables.nation(spark, sf)
      .select(col("n_nationkey").cast("long").as("k"),
              col("n_name").as("name"))
    assert(LakeTable.commit(spark, dir, base)(_ => None) == Right(1L))
    assert(LakeTable.commit(spark, dir, base.limit(10))(_ => None)
      == Right(2L))
    spark.sql("DROP TABLE IF EXISTS lake_sql_t")
    spark.sql(s"CREATE TABLE lake_sql_t USING `graft-lake` " +
      s"OPTIONS (path '$dir')")
    try {
      // the catalog-registered table reads the LIVE version through the
      // same relation as spark.read.format — full SQL surface over it
      assert(spark.sql("SELECT count(*) AS n FROM lake_sql_t")
        .head.getLong(0) == 10L)
      spark.sql("DROP TABLE IF EXISTS lake_sql_v1")
      spark.sql(s"CREATE TABLE lake_sql_v1 USING `graft-lake` " +
        s"OPTIONS (path '$dir', versionAsOf '1')")
      try {
        assert(spark.sql("SELECT count(*) FROM lake_sql_v1").head.getLong(0)
          == base.count())
        assert(spark.sql(
          "SELECT max(k) FROM lake_sql_v1 WHERE name IS NOT NULL")
          .head.getLong(0) ==
          base.agg(max(col("k"))).head.getLong(0))
      } finally spark.sql("DROP TABLE lake_sql_v1")
    } finally spark.sql("DROP TABLE lake_sql_t")
  }

  test("graft-lake SQL DML: INSERT INTO appends a version, " +
       "INSERT OVERWRITE replaces, time travel spans both") {
    import graft.sources.LakeTable
    val dir = java.nio.file.Files.createTempDirectory("graft_lake_dml").toString
    val base = graft.ops.Tables.nation(spark, sf)
      .select(col("n_nationkey").cast("long").as("k"),
              col("n_name").as("name"))
    assert(LakeTable.commit(spark, dir, base)(_ => None) == Right(1L))
    spark.sql("DROP TABLE IF EXISTS lake_dml_t")
    spark.sql(s"CREATE TABLE lake_dml_t USING `graft-lake` " +
      s"OPTIONS (path '$dir')")
    try {
      val n0 = base.count()
      // INSERT INTO → zero-rewrite append: version bumps, prior files carry
      val filesBefore = LakeTable.currentFiles(dir).toSet
      spark.sql("INSERT INTO lake_dml_t VALUES (100, 'ATLANTIS'), " +
                "(101, 'LEMURIA')")
      assert(LakeTable.currentVersion(dir).contains(2L),
        "INSERT INTO must publish a new version")
      assert(filesBefore.subsetOf(LakeTable.currentFiles(dir).toSet),
        "append must carry every prior live file verbatim")
      assert(spark.sql("SELECT count(*) FROM lake_dml_t").head.getLong(0)
        == n0 + 2)
      assert(spark.sql(
        "SELECT name FROM lake_dml_t WHERE k = 100").head.getString(0)
        == "ATLANTIS")
      // INSERT from a SELECT (the realistic shape) appends again
      spark.sql("INSERT INTO lake_dml_t " +
                "SELECT k + 200, name FROM lake_dml_t WHERE k >= 100")
      assert(LakeTable.currentVersion(dir).contains(3L))
      assert(spark.sql("SELECT count(*) FROM lake_dml_t").head.getLong(0)
        == n0 + 4)
      // SQL UPDATE on the V1 session-catalog table (r12): the same
      // extensions rewrite binds it to the merge-on-read DV update
      spark.sql("UPDATE lake_dml_t SET name = upper(name) || '!' " +
                "WHERE k = 100")
      assert(LakeTable.currentVersion(dir).contains(4L))
      assert(spark.sql(
        "SELECT name FROM lake_dml_t WHERE k = 100").head.getString(0)
        == "ATLANTIS!")
      // SQL DELETE on the V1 table (r12): no native V1 DELETE exists in
      // Spark at all — the rewrite binds it to the DV delete
      spark.sql("DELETE FROM lake_dml_t WHERE k >= 300")
      assert(LakeTable.currentVersion(dir).contains(5L))
      assert(spark.sql("SELECT count(*) FROM lake_dml_t").head.getLong(0)
        == n0 + 2)
      // INSERT OVERWRITE → a full overwrite commit; history stays readable
      spark.sql("INSERT OVERWRITE lake_dml_t VALUES (7, 'MU')")
      assert(LakeTable.currentVersion(dir).contains(6L))
      assert(spark.sql("SELECT k, name FROM lake_dml_t").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((7L, "MU")))
      assert(LakeTable.readVersion(spark, dir, 2L).count() == n0 + 2,
        "pre-overwrite versions must stay time-travel-readable")
      // a time-travel relation refuses DML
      spark.sql("DROP TABLE IF EXISTS lake_dml_v2")
      spark.sql(s"CREATE TABLE lake_dml_v2 USING `graft-lake` " +
        s"OPTIONS (path '$dir', versionAsOf '2')")
      try {
        val e = intercept[Exception] {
          spark.sql("INSERT INTO lake_dml_v2 VALUES (999, 'NOPE')")
        }
        assert(e.getMessage.contains("time travel"),
          s"unexpected refusal message: ${e.getMessage}")
      } finally spark.sql("DROP TABLE lake_dml_v2")
    } finally spark.sql("DROP TABLE lake_dml_t")
  }

  test("graft-lake DSv2 catalog: SELECT via spark.table, DELETE FROM " +
       "binds to deletion vectors, un-pushable DELETE refuses (r12)") {
    import graft.sources.LakeTable
    import spark.implicits._
    val cat = "graft_lake_spec"
    val wh = Files.createTempDirectory("graft_lake_whspec_").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.LakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val dir = java.nio.file.Paths.get(wh, "default", "t1").toString
    val df = (1L to 40L).map(k => (k, k % 4, k * 10L))
      .toDF("k", "band", "v")
    assert(LakeTable.commit(spark, dir, df, Some("band"))(_ => None)
      == Right(1L))

    // catalog resolution + the V2 read path (V1Scan shim)
    val viaTable = spark.table(s"$cat.default.t1")
    assert(viaTable.count() == 40L)
    assert(viaTable.schema.fieldNames.toSet == Set("k", "band", "v"))
    assert(spark.sql(s"SELECT sum(v) AS s FROM $cat.default.t1")
      .head.getLong(0) == df.agg(sum("v")).head.getLong(0))

    // INSERT INTO through the catalog (V1Write exit): a zero-rewrite
    // append — v1's files carry verbatim into v2
    val filesV1 = LakeTable.currentFiles(dir)
    spark.sql(s"INSERT INTO $cat.default.t1 VALUES (100, 0, 1000)")
    assert(LakeTable.currentVersion(dir).contains(2L))
    assert(filesV1.toSet.subsetOf(LakeTable.currentFiles(dir).toSet),
      "catalog INSERT INTO must be a zero-rewrite append")
    assert(spark.table(s"$cat.default.t1").count() == 41L)
    val inserted = df.unionByName(
      Seq((100L, 0L, 1000L)).toDF("k", "band", "v"))

    // DELETE FROM → deleteWhereDv: zero rewrite, version bump, exact rows
    val filesV2 = LakeTable.currentFiles(dir)
    spark.sql(s"DELETE FROM $cat.default.t1 WHERE band = 3 OR k <= 4")
    assert(LakeTable.currentVersion(dir).contains(3L))
    assert(LakeTable.currentFiles(dir) == filesV2,
      "SQL DELETE must publish a sidecar, not a rewrite")
    val expect = inserted.filter(!(col("band") === 3 || col("k") <= 4))
    val after = spark.table(s"$cat.default.t1")
    assert(after.exceptAll(expect).isEmpty && expect.exceptAll(after).isEmpty,
      "post-DELETE read-back must be row-exact through the catalog")
    // time travel still reaches the pre-delete content (direct API)
    assert(LakeTable.readVersion(spark, dir, 2L).count() == 41L)

    // empty-match DELETE: no-op success, no version minted (Delta
    // semantics through SQL too)
    spark.sql(s"DELETE FROM $cat.default.t1 WHERE k = -1")
    assert(LakeTable.currentVersion(dir).contains(3L),
      "an empty-match SQL DELETE must not mint a version")

    // an UN-PUSHABLE scalar condition routes through the analyzer-rule
    // rewrite (r12): same DV commit, full predicate power
    spark.sql(s"DELETE FROM $cat.default.t1 WHERE k % 7 = 0")
    assert(LakeTable.currentVersion(dir).contains(4L),
      "an unpushable scalar DELETE must apply via the rewrite")
    assert(spark.table(s"$cat.default.t1").filter(col("k") % 7 === 0)
      .isEmpty)
    assert(LakeTable.currentFiles(dir).toSet.intersect(filesV2.toSet)
      == filesV2.toSet, "the rewrite DELETE is still zero-rewrite")
    // a SUBQUERY condition stays out of scope: falls through to Spark's
    // refusal, nothing half-applies
    val pre4 = spark.table(s"$cat.default.t1").collect().toSeq
    intercept[Exception] {
      spark.sql(s"DELETE FROM $cat.default.t1 WHERE k IN " +
        s"(SELECT k FROM $cat.default.t1 WHERE v > 100)")
    }
    assert(spark.table(s"$cat.default.t1").collect().toSeq == pre4,
      "a refused DELETE must leave the table untouched")
    assert(LakeTable.currentVersion(dir).contains(4L))

    // BETWEEN on the catalog-qualified column: the rewrite strips the
    // qualifier from BETWEEN's original parameters too, for UPDATE and
    // DELETE alike (k = 11 was deleted with band 3 above)
    def between(): Map[Long, Long] = spark.table(s"$cat.default.t1")
      .filter(col("k").between(10L, 12L)).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    spark.sql(s"UPDATE $cat.default.t1 SET v = v + 1 WHERE k BETWEEN 10 AND 12")
    assert(between() == Map(10L -> 101L, 12L -> 121L))
    spark.sql(s"DELETE FROM $cat.default.t1 WHERE k BETWEEN 10 AND 12")
    assert(between().isEmpty)
    assert(LakeTable.currentVersion(dir).contains(6L))

    // TRUNCATE TABLE rides the same surface (SupportsDeleteV2's default
    // truncate = deleteWhere(true)): zero rewrite, all rows hidden
    val filesV3 = LakeTable.currentFiles(dir)
    spark.sql(s"TRUNCATE TABLE $cat.default.t1")
    assert(spark.table(s"$cat.default.t1").count() == 0L)
    assert(LakeTable.currentFiles(dir) == filesV3,
      "TRUNCATE must be a DV publish, not a rewrite")
    assert(LakeTable.readVersion(spark, dir, 3L).count() == expect.count(),
      "pre-truncate versions still time-travel")

    // INSERT OVERWRITE replaces the (now empty) table wholesale
    spark.sql(s"INSERT OVERWRITE $cat.default.t1 VALUES (7, 1, 70)")
    assert(spark.table(s"$cat.default.t1").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      == Seq((7L, 1L, 70L)),
      "catalog INSERT OVERWRITE must replace the live content")

    // SQL UPDATE (the extensions-injected rewrite → merge-on-read DV
    // update): zero pre-existing files rewritten, non-pushable
    // expressions allowed (the rule carries SQL, not source filters)
    val filesPre = LakeTable.currentFiles(dir).toSet
    spark.sql(s"UPDATE $cat.default.t1 SET v = v + k % 3 WHERE k = 7")
    assert(spark.table(s"$cat.default.t1").head.getLong(2) == 71L,
      "SQL UPDATE must apply the assignment")
    assert(filesPre.subsetOf(LakeTable.currentFiles(dir).toSet),
      "SQL UPDATE must keep every pre-existing file (DV path)")
    // an out-of-scope UPDATE (subquery condition) falls through to
    // Spark's own refusal and applies nothing
    val pre = spark.table(s"$cat.default.t1").collect().toSeq
    intercept[Exception] {
      spark.sql(s"UPDATE $cat.default.t1 SET v = 0 WHERE k IN " +
        s"(SELECT k FROM $cat.default.t1)")
    }
    assert(spark.table(s"$cat.default.t1").collect().toSeq == pre,
      "an out-of-scope UPDATE must not half-apply")

    // SQL time travel through the catalog: VERSION AS OF pins the scan
    // to that version's own manifest (DV set included), DML refuses
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.default.t1 " +
      "VERSION AS OF 1").head.getLong(0) == 40L)
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.default.t1 " +
      "VERSION AS OF 3").head.getLong(0) == expect.count())
    // TIMESTAMP AS OF resolves to the newest version published at or
    // before the instant — marker-CONTENT event time, so backdating is
    // a content rewrite (and survives directory copies)
    def backdate(v: Long, minAgo: Long): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, s"commit-v$v"),
        (System.currentTimeMillis() - minAgo * 60000L).toString
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    backdate(1L, 10L); backdate(2L, 5L)
    val mid = java.time.Instant.ofEpochMilli(
      System.currentTimeMillis() - 7L * 60000L)
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.default.t1 " +
      s"TIMESTAMP AS OF '$mid'").head.getLong(0) == 40L,
      "an instant between v1 and v2 must resolve to v1")
    val tooEarly = java.time.Instant.ofEpochMilli(
      System.currentTimeMillis() - 60L * 60000L)
    intercept[Exception] {
      spark.sql(s"SELECT count(*) FROM $cat.default.t1 " +
        s"TIMESTAMP AS OF '$tooEarly'").collect()
    }
    // catalog admin surface: exists / list / rename / drop — and the
    // time-travel table object refuses DML directly
    import org.apache.spark.sql.connector.catalog.Identifier
    val catalog = spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[graft.sources.LakeCatalog]
    assert(catalog.tableExists(Identifier.of(Array("default"), "t1")))
    assert(catalog.listTables(Array("default")).map(_.name()).toSet
      == Set("t1"))
    val pinnedTable = catalog
      .loadTable(Identifier.of(Array("default"), "t1"), "1")
      .asInstanceOf[graft.sources.LakeV2Table]
    intercept[IllegalArgumentException] {
      pinnedTable.newWriteBuilder(null)
    }
    spark.sql(s"DROP TABLE $cat.default.t1")
    assert(!catalog.tableExists(Identifier.of(Array("default"), "t1")))
  }

  test("graft-lake SQL MERGE INTO (r12): canonical upsert binds to the " +
       "merge-on-read DV commit; subquery shapes fall through") {
    import graft.sources.LakeTable
    import spark.implicits._
    val cat = "graft_lake_spec2"
    val wh = Files.createTempDirectory("graft_lake_whspec2_").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.LakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val dir = java.nio.file.Paths.get(wh, "default", "m1").toString
    val df = (1L to 30L).map(k => (k, k % 4, k * 10L)).toDF("k", "band", "v")
    assert(LakeTable.commit(spark, dir, df, Some("band"))(_ => None)
      == Right(1L))
    val filesV1 = LakeTable.currentFiles(dir).toSet

    // source: replacements for even keys ≤ 10, plus two new keys
    Seq((2L, 2L % 4, 999L), (4L, 4L % 4, 999L), (31L, 31L % 4, 310L),
        (32L, 32L % 4, 320L))
      .toDF("k", "band", "v").createOrReplaceTempView("merge_src")
    spark.sql(s"MERGE INTO $cat.default.m1 AS t USING merge_src AS s " +
      "ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *")
    assert(LakeTable.currentVersion(dir).contains(2L))
    assert(filesV1.subsetOf(LakeTable.currentFiles(dir).toSet),
      "SQL MERGE must keep every pre-existing file (merge-on-read)")
    val live = spark.table(s"$cat.default.m1")
    assert(live.count() == 32L)
    assert(live.filter(col("k") === 2L).head.getLong(2) == 999L)
    assert(live.filter(col("k") === 31L).head.getLong(2) == 310L)
    assert(live.filter(col("k") === 3L).head.getLong(2) == 30L,
      "unmatched target rows untouched")

    // WHEN MATCHED THEN DELETE (no other clauses): the anti-join
    // retention delete — matched keys hidden by a sidecar, zero rewrite;
    // the source needs only the key column
    val filesPre = LakeTable.currentFiles(dir)
    Seq(2L, 31L, 999L).toDF("k").createOrReplaceTempView("merge_del_src")
    spark.sql(s"MERGE INTO $cat.default.m1 AS t USING merge_del_src AS s " +
      "ON t.k = s.k WHEN MATCHED THEN DELETE")
    assert(LakeTable.currentVersion(dir).contains(3L))
    assert(LakeTable.currentFiles(dir) == filesPre,
      "MERGE DELETE must publish a sidecar, not a rewrite")
    val afterDel = spark.table(s"$cat.default.m1")
    assert(afterDel.count() == 30L, "keys 2 and 31 deleted; 999 unmatched")
    assert(afterDel.filter(col("k").isin(2L, 31L)).isEmpty)

    // conditional matched clause (r13): now IN scope — routed to the
    // general conditional DV merge. Keys 2 and 31 were deleted above, so
    // they re-enter via the INSERT side; key 4 matches with s.v=999>500
    // and updates; key 32 matches with s.v=320 (clause condition false)
    // and carries unchanged.
    spark.sql(s"MERGE INTO $cat.default.m1 AS t USING merge_src AS s " +
      "ON t.k = s.k " +
      "WHEN MATCHED AND s.v > 500 THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *")
    assert(LakeTable.currentVersion(dir).contains(4L))
    val afterCond = spark.table(s"$cat.default.m1")
    assert(afterCond.count() == 32L)
    assert(afterCond.filter(col("k") === 4L).head.getLong(2) == 999L)
    assert(afterCond.filter(col("k") === 32L).head.getLong(2) == 320L,
      "a matched row whose clause condition is false carries unchanged")
    assert(afterCond.filter(col("k") === 2L).head.getLong(2) == 999L,
      "previously deleted keys re-enter through the INSERT side")

    // still out of scope: a SUBQUERY condition falls through to Spark's
    // own refusal, nothing half-applies
    val pre = afterCond.collect().toSeq
    intercept[Exception] {
      spark.sql(s"MERGE INTO $cat.default.m1 AS t USING merge_src AS s " +
        "ON t.k = s.k " +
        "WHEN MATCHED AND s.v > (SELECT avg(v) FROM merge_src) " +
        "THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *")
    }
    assert(spark.table(s"$cat.default.m1").collect().toSeq == pre,
      "an out-of-scope MERGE must not half-apply")
    assert(LakeTable.currentVersion(dir).contains(4L))
  }

  test("graft-lake DSv2 catalog reads prune columns and push filters " +
       "into the parquet scan (r12)") {
    import graft.sources.{LakeTable, LakeV2ScanShim, LakeV2Table}
    import org.apache.spark.sql.connector.read.{
      SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
    import org.apache.spark.sql.sources
    import org.apache.spark.sql.sources.{BaseRelation, TableScan}
    import org.apache.spark.sql.types.StructType
    import spark.implicits._
    val cat = "graft_lake_spec3"
    val wh = Files.createTempDirectory("graft_lake_whspec3_").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.LakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val dir = java.nio.file.Paths.get(wh, "default", "p1").toString
    val df = (1L to 60L).map(k => (k, k % 5, k * 10L, s"pad_$k"))
      .toDF("k", "band", "v", "pad")
    assert(LakeTable.commit(spark, dir, df)(_ => None) == Right(1L))

    // builder-level pin: prune to k, push band = 3 — the shim's inner
    // frame must compile BOTH into the parquet scan (the plan a 100 TB
    // catalog read actually runs)
    import org.apache.spark.sql.connector.catalog.Identifier
    val tbl = spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[graft.sources.LakeCatalog]
      .loadTable(Identifier.of(Array("default"), "p1"))
      .asInstanceOf[LakeV2Table]
    val sb = tbl.newScanBuilder(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Collections.emptyMap()))
    val residual = sb.asInstanceOf[SupportsPushDownFilters]
      .pushFilters(Array(sources.EqualTo("band", 3L)))
    assert(residual.length == 1,
      "pushdown is conservative: pushed filters stay residual")
    assert(sb.asInstanceOf[SupportsPushDownFilters].pushedFilters()
      .sameElements(Array(sources.EqualTo("band", 3L))))
    sb.asInstanceOf[SupportsPushDownRequiredColumns]
      .pruneColumns(StructType.fromDDL("k BIGINT"))
    val shim = sb.build().asInstanceOf[V1Scan]
      .toV1TableScan[BaseRelation with TableScan](spark.sqlContext)
      .asInstanceOf[LakeV2ScanShim]
    val inner = shim.innerFrame
    val plan = inner.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(band,3"),
      s"pushed filter must reach the inner parquet scan:\n$plan")
    val readSchema = "ReadSchema: [^\n]+".r.findFirstIn(plan).getOrElse("")
    assert(readSchema.contains("k") && readSchema.contains("band") &&
           !readSchema.contains("pad") && !readSchema.contains("v:"),
      s"the inner scan must decode only pruned+filter columns: $readSchema")
    assert(inner.columns.toSeq == Seq("k"))
    assert(inner.collect().map(_.getLong(0)).sorted.toSeq
      == (1L to 60L).filter(_ % 5 == 3))

    // end-to-end: SQL through the catalog returns the same rows, and an
    // un-pushable predicate still answers exactly (residual evaluation)
    assert(spark.sql(s"SELECT k FROM $cat.default.p1 WHERE band = 3")
      .collect().map(_.getLong(0)).sorted.toSeq
      == (1L to 60L).filter(_ % 5 == 3))
    assert(spark.sql(
      s"SELECT k FROM $cat.default.p1 WHERE k % 7 = 0 AND band = 3")
      .collect().map(_.getLong(0)).sorted.toSeq
      == (1L to 60L).filter(k => k % 7 == 0 && k % 5 == 3))
    // zero-column prune: count(*) through the catalog
    assert(spark.sql(s"SELECT count(*) FROM $cat.default.p1")
      .head.getLong(0) == 60L)
    spark.sql(s"DROP TABLE $cat.default.p1")
  }

  test("SQL CREATE TABLE / CTAS through the DSv2 catalog (r12): pending " +
       "birth, first INSERT publishes v1 with declared layout/stats") {
    import graft.sources.LakeTable
    val cat = "graft_lake_spec4"
    val wh = Files.createTempDirectory("graft_lake_whspec4_").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.LakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val dir = java.nio.file.Paths.get(wh, "default", "c1").toString

    // CREATE records the declared schema + write defaults; the table
    // exists, lists, and reads as EMPTY before its first insert
    spark.sql(s"CREATE TABLE $cat.default.c1 " +
      "(k BIGINT, band BIGINT, v BIGINT) PARTITIONED BY (band) " +
      "TBLPROPERTIES ('statsBy'='k')")
    assert(spark.table(s"$cat.default.c1").schema.fieldNames.toSeq
      == Seq("k", "band", "v"))
    assert(spark.sql(s"SELECT count(*) FROM $cat.default.c1")
      .head.getLong(0) == 0L)
    assert(LakeTable.currentVersion(dir).isEmpty,
      "CREATE must not publish a version (schema lives in manifests)")
    // DML against the unborn table: DELETE is a no-op success
    spark.sql(s"DELETE FROM $cat.default.c1 WHERE k = 1")
    assert(LakeTable.currentVersion(dir).isEmpty)
    // a duplicate CREATE refuses
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.default.c1 (x BIGINT)")
    }

    // the first INSERT births v1 CARRYING the declared write defaults:
    // files land under the layout column and per-file k-stats record
    spark.sql(s"INSERT INTO $cat.default.c1 VALUES " +
      "(1, 0, 10), (2, 1, 20), (3, 0, 30), (4, 1, 40)")
    assert(LakeTable.currentVersion(dir).contains(1L))
    val files = LakeTable.currentFiles(dir)
    assert(files.forall(_.contains("_layout=")),
      s"INSERT must honor the CREATE-time layout column: $files")
    assert(LakeTable.statsOf(dir, 1L).keys.exists(_._2 == "k"),
      "INSERT must record the CREATE-time statsBy column")
    assert(spark.table(s"$cat.default.c1").count() == 4L)

    // CTAS: CREATE + first insert in one statement → v1 directly
    spark.sql(s"CREATE TABLE $cat.default.c2 AS " +
      s"SELECT k, v FROM $cat.default.c1 WHERE band = 0")
    val dir2 = java.nio.file.Paths.get(wh, "default", "c2").toString
    assert(LakeTable.currentVersion(dir2).contains(1L))
    assert(spark.table(s"$cat.default.c2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      == Seq((1L, 10L), (3L, 30L)))

    // CTAS with partitioning lays out the files
    spark.sql(s"CREATE TABLE $cat.default.c3 PARTITIONED BY (band) AS " +
      s"SELECT * FROM $cat.default.c1")
    val dir3 = java.nio.file.Paths.get(wh, "default", "c3").toString
    assert(LakeTable.currentFiles(dir3).forall(_.contains("_layout=")))

    // multi-column identity layout is supported since r14; only
    // non-identity transforms (bucket/days/…) refuse at CREATE
    spark.sql(s"CREATE TABLE $cat.default.c4 (k BIGINT, b BIGINT) " +
      "PARTITIONED BY (k, b)")
    spark.sql(s"DROP TABLE $cat.default.c4")
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.default.c4x (k BIGINT, b BIGINT) " +
        "PARTITIONED BY (bucket(4, k))")
    }
    // LOCATION would be silently ignored (tables live in the
    // warehouse) — it refuses instead
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.default.c4b (k BIGINT) " +
        "LOCATION '/tmp/elsewhere'")
    }
    // DROP removes a pending-only table too
    spark.sql(s"CREATE TABLE $cat.default.c5 (k BIGINT)")
    spark.sql(s"DROP TABLE $cat.default.c5")
    intercept[Exception] { spark.table(s"$cat.default.c5").collect() }

    // DML against unborn tables follows empty-table semantics: UPDATE is
    // a no-op, MERGE upsert BIRTHS v1 (merge into empty = insert all),
    // carrying the CREATE-time layout
    import spark.implicits._
    spark.sql(s"CREATE TABLE $cat.default.c6 " +
      "(k BIGINT, band BIGINT, v BIGINT) PARTITIONED BY (band)")
    spark.sql(s"UPDATE $cat.default.c6 SET v = 0 WHERE k = 1")
    val dir6 = java.nio.file.Paths.get(wh, "default", "c6").toString
    assert(LakeTable.currentVersion(dir6).isEmpty,
      "UPDATE on an unborn table must be a no-op")
    Seq((1L, 0L, 10L), (2L, 1L, 20L)).toDF("k", "band", "v")
      .createOrReplaceTempView("unborn_merge_src")
    spark.sql(s"MERGE INTO $cat.default.c6 AS t " +
      "USING unborn_merge_src AS s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert(LakeTable.currentVersion(dir6).contains(1L),
      "MERGE into an unborn table must birth v1")
    assert(LakeTable.currentFiles(dir6).forall(_.contains("_layout=")),
      "the birthing MERGE must honor the CREATE-time layout")
    assert(spark.table(s"$cat.default.c6").count() == 2L)
    Seq("c1", "c2", "c3", "c6").foreach(t =>
      spark.sql(s"DROP TABLE $cat.default.$t"))
  }

  test("SQL ALTER TABLE through the catalog (r12): ADD COLUMNS is a " +
       "metadata-only commit; SET TBLPROPERTIES updates write defaults") {
    import graft.sources.LakeTable
    import spark.implicits._
    val cat = "graft_lake_spec5"
    val wh = Files.createTempDirectory("graft_lake_whspec5_").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.LakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val dir = java.nio.file.Paths.get(wh, "default", "a1").toString
    assert(LakeTable.commit(spark, dir,
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v"))(_ => None) == Right(1L))
    val filesV1 = LakeTable.currentFiles(dir)

    // ADD COLUMNS: version bump, identical files, reads null-fill
    spark.sql(s"ALTER TABLE $cat.default.a1 ADD COLUMNS (w BIGINT)")
    assert(LakeTable.currentVersion(dir).contains(2L))
    assert(LakeTable.currentFiles(dir) == filesV1,
      "ALTER must be metadata-only: same file list")
    val after = spark.table(s"$cat.default.a1")
    assert(after.schema.fieldNames.toSeq == Seq("k", "v", "w"))
    assert(after.collect().forall(_.isNullAt(2)),
      "pre-ALTER rows must null-fill the new column")
    // the feed emits nothing for an ALTER (no row changed)
    assert(LakeTable.changesBetween(spark, dir, 1L, 2L).isEmpty)
    // time travel keeps the old schema
    assert(LakeTable.readVersion(spark, dir, 1L).schema.fieldNames.toSeq
      == Seq("k", "v"))
    // inserts now carry the new column
    spark.sql(s"INSERT INTO $cat.default.a1 VALUES (3, 30, 300)")
    assert(spark.table(s"$cat.default.a1").filter(col("k") === 3L)
      .head.getLong(2) == 300L)
    // a duplicate column and a TYPE CHANGE refuse (DROP COLUMN became
    // legal in r13 — its own column-mapping test covers it)
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.default.a1 ADD COLUMNS (v BIGINT)")
    }
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.default.a1 ALTER COLUMN v TYPE STRING")
    }
    assert(LakeTable.currentVersion(dir).contains(3L),
      "refused ALTERs must not mint versions")

    // unborn table: ALTER extends the declared schema in place
    spark.sql(s"CREATE TABLE $cat.default.a2 (k BIGINT)")
    spark.sql(s"ALTER TABLE $cat.default.a2 ADD COLUMNS (v BIGINT)")
    assert(spark.table(s"$cat.default.a2").schema.fieldNames.toSeq
      == Seq("k", "v"))
    spark.sql(s"INSERT INTO $cat.default.a2 VALUES (1, 2)")
    assert(spark.table(s"$cat.default.a2").head.getLong(1) == 2L)

    // since r15 the footer pass records stats for leading columns
    // AUTOMATICALLY — a declaration is no longer required for skipping
    // — and SET TBLPROPERTIES ('statsBy') still guarantees coverage of
    // the declared column on later inserts
    val dir2 = java.nio.file.Paths.get(wh, "default", "a2").toString
    assert(LakeTable.statsOf(dir2, 1L).keys.exists(_._2 == "k"),
      "automatic footer stats must cover undeclared leading columns")
    spark.sql(s"ALTER TABLE $cat.default.a2 " +
      "SET TBLPROPERTIES ('statsBy'='k')")
    spark.sql(s"INSERT INTO $cat.default.a2 VALUES (9, 9)")
    assert(LakeTable.statsOf(dir2, 2L).keys.exists(_._2 == "k"),
      "post-ALTER inserts must record the new statsBy column")
    Seq("a1", "a2").foreach(t => spark.sql(s"DROP TABLE $cat.default.$t"))
  }

  test("SQL OPTIMIZE / VACUUM via the injected parser (r12): compaction " +
       "purges DVs, vacuum reclaims history, normal SQL is untouched") {
    import graft.sources.LakeTable
    import spark.implicits._
    val cat = "graft_lake_spec6"
    val wh = Files.createTempDirectory("graft_lake_whspec6_").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.LakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val dir = java.nio.file.Paths.get(wh, "default", "o1").toString
    // a catalog-born table with declared layout, grown over several
    // appends + a DV delete: many small files, a live sidecar
    spark.sql(s"CREATE TABLE $cat.default.o1 " +
      "(k BIGINT, band BIGINT, v BIGINT) PARTITIONED BY (band) " +
      "TBLPROPERTIES ('statsBy'='k')")
    (0 until 4).foreach { i =>
      (1L to 10L).map(j => (i * 10L + j, (i * 10L + j) % 3, j))
        .toDF("k", "band", "v")
        .createOrReplaceTempView(s"opt_src_$i")
      spark.sql(s"INSERT INTO $cat.default.o1 SELECT * FROM opt_src_$i")
    }
    spark.sql(s"DELETE FROM $cat.default.o1 WHERE k % 10 = 0")
    val vDel = LakeTable.currentVersion(dir).get
    assert(LakeTable.dvOf(dir, vDel).nonEmpty, "the delete must be a DV")
    val before = spark.table(s"$cat.default.o1").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val filesBefore = LakeTable.currentFiles(dir).size

    // OPTIMIZE: fewer files, rows conserved, vectors purged, layout kept
    val ov = spark.sql(s"OPTIMIZE $cat.default.o1").head.getLong(0)
    assert(LakeTable.currentVersion(dir).contains(ov))
    assert(LakeTable.dvOf(dir, ov).isEmpty,
      "OPTIMIZE is the DV purge: the compacted version carries no vector")
    assert(LakeTable.currentFiles(dir).size < filesBefore,
      "OPTIMIZE must compact the small files")
    assert(LakeTable.currentFiles(dir).forall(_.contains("_layout=")),
      "OPTIMIZE must preserve the declared layout")
    assert(LakeTable.statsOf(dir, ov).keys.exists(_._2 == "k"),
      "OPTIMIZE must re-record the declared stats")
    val after = spark.table(s"$cat.default.o1").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(after == before, "OPTIMIZE must conserve rows exactly")

    // VACUUM RETAIN 1 VERSIONS: history reclaimed, live version intact
    val vac = spark.sql(s"VACUUM $cat.default.o1 RETAIN 1 VERSIONS").head
    assert(vac.getLong(0) > 0L, "vacuum must reclaim old manifests")
    assert(LakeTable.versions(dir) == Seq(ov), "only the live version stays")
    assert(spark.table(s"$cat.default.o1").count() == before.size.toLong)

    // session-catalog (USING graft-lake) tables resolve by name too
    val tbl = "opt_v1_" +
      java.util.UUID.randomUUID().toString.replace("-", "_")
    spark.sql(s"CREATE TABLE $tbl USING `graft-lake` OPTIONS (path '$dir')")
    val ov2 = spark.sql(s"OPTIMIZE $tbl TARGET 1000000 ROWS").head.getLong(0)
    assert(LakeTable.currentVersion(dir).contains(ov2))
    spark.sql(s"DROP TABLE $tbl")

    // ZORDER BY clusters the rewrite instead of the layout default
    val ov3 = spark.sql(s"OPTIMIZE $cat.default.o1 ZORDER BY (k)")
      .head.getLong(0)
    assert(LakeTable.currentVersion(dir).contains(ov3))
    assert(spark.table(s"$cat.default.o1").count() == before.size.toLong)

    // a commented admin statement still matches (leading -- and /* */
    // strip before the anchored regexes; non-matches delegate verbatim)
    val ov4 = spark.sql(
      s"-- nightly maintenance\n/* keep small */ OPTIMIZE $cat.default.o1")
      .head.getLong(0)
    assert(LakeTable.currentVersion(dir).contains(ov4))

    // the injected parser must not disturb normal SQL — including
    // statements that merely CONTAIN the keywords
    assert(spark.sql("SELECT 'OPTIMIZE tbl' AS s").head.getString(0)
      == "OPTIMIZE tbl")
    intercept[Exception] { spark.sql("OPTIMIZE") } // still a syntax error
    intercept[Exception] {
      spark.sql(s"VACUUM $cat.default.nonexistent_t")
    }
    spark.sql(s"DROP TABLE $cat.default.o1")
  }

  test("DESCRIBE HISTORY and CHECK constraints (r12): history is manifest " +
       "arithmetic; catalog writes enforce the declared check") {
    import graft.sources.LakeTable
    val cat = "graft_lake_spec7"
    val wh = Files.createTempDirectory("graft_lake_whspec7_").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.LakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val dir = java.nio.file.Paths.get(wh, "default", "h1").toString
    spark.sql(s"CREATE TABLE $cat.default.h1 (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('check'='v > 0')")
    spark.sql(s"INSERT INTO $cat.default.h1 VALUES (1, 10), (2, 20)")
    assert(LakeTable.currentVersion(dir).contains(1L))

    // a violating INSERT refuses atomically: no version, no rows
    val e = intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.default.h1 VALUES (3, -1)")
    }
    assert(e.getMessage.contains("CHECK") ||
           Option(e.getCause).exists(_.getMessage.contains("CHECK")),
      s"the refusal must name the constraint: ${e.getMessage}")
    assert(LakeTable.currentVersion(dir).contains(1L),
      "a refused INSERT must not mint a version")
    assert(spark.table(s"$cat.default.h1").count() == 2L)

    // NULL passes CHECK (SQL-standard semantics)
    spark.sql(s"INSERT INTO $cat.default.h1 " +
      "VALUES (3, CAST(NULL AS BIGINT))")
    assert(LakeTable.currentVersion(dir).contains(2L))

    // DESCRIBE HISTORY: one row per retained version, newest first,
    // with op and DV counts from pure manifest arithmetic
    spark.sql(s"DELETE FROM $cat.default.h1 WHERE k = 1")
    val hist = spark.sql(s"DESCRIBE HISTORY $cat.default.h1").collect()
    assert(hist.map(_.getLong(0)).toSeq == Seq(3L, 2L, 1L))
    assert(hist.map(_.getString(1)).toSeq
      == Seq("dvdelete", "append", "append"))
    assert(hist.map(_.getLong(3)).toSeq == Seq(1L, 0L, 0L),
      "only the delete version carries a DV sidecar")
    // n_rows (r14): per-version live cardinality by manifest arithmetic
    assert(hist.map(_.getLong(4)).toSeq == Seq(2L, 3L, 2L),
      s"history rows: ${hist.mkString("; ")}")
    assert(hist.forall(_.getTimestamp(5) != null))

    // ADD CONSTRAINT validates existing rows first (refuse), then a
    // satisfiable one applies and gates the next write
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.default.h1 " +
        "SET TBLPROPERTIES ('check'='v > 100')")
    }
    spark.sql(s"ALTER TABLE $cat.default.h1 " +
      "SET TBLPROPERTIES ('check'='k > 0')")
    intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.default.h1 VALUES (-9, 1)")
    }
    spark.sql(s"INSERT INTO $cat.default.h1 VALUES (9, 1)")
    assert(spark.table(s"$cat.default.h1")
      .filter(col("k") === 9L).count() == 1L)

    // UPDATE and MERGE are gated too: content that would violate the
    // constraint refuses before anything stages
    import spark.implicits._
    val preU = LakeTable.currentVersion(dir)
    intercept[Exception] {
      spark.sql(s"UPDATE $cat.default.h1 SET k = -k WHERE k = 9")
    }
    assert(LakeTable.currentVersion(dir) == preU,
      "a check-violating UPDATE must not mint a version")
    Seq((-5L, 1L)).toDF("k", "v").createOrReplaceTempView("chk_merge_src")
    intercept[Exception] {
      spark.sql(s"MERGE INTO $cat.default.h1 AS t USING chk_merge_src " +
        "AS s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    }
    assert(LakeTable.currentVersion(dir) == preU,
      "a check-violating MERGE must not mint a version")
    // and a satisfying UPDATE still applies
    spark.sql(s"UPDATE $cat.default.h1 SET k = k + 100 WHERE k = 9")
    assert(spark.table(s"$cat.default.h1")
      .filter(col("k") === 109L).count() == 1L)

    // DESCRIBE DETAIL (r13): one row of manifest arithmetic — live
    // version, op, counts, bytes, logical schema, publish instant
    val det = spark.sql(s"DESCRIBE DETAIL $cat.default.h1").collect()
    assert(det.length == 1)
    val dRow = det.head
    assert(dRow.getLong(0) == LakeTable.currentVersion(dir).get)
    assert(dRow.getLong(2) > 0L && dRow.getLong(4) > 0L,
      "file count and byte size must be real")
    // n_rows (r14): live cardinality by manifest arithmetic — must
    // equal the scanned count with zero scans behind it
    assert(dRow.getLong(5) == spark.table(s"$cat.default.h1").count(),
      s"n_rows must be the live cardinality: $dRow")
    assert(dRow.getString(7).startsWith("k BIGINT"),
      s"the logical schema rides the detail row: ${dRow.getString(7)}")
    assert(dRow.getTimestamp(8) != null)

    // RESTORE TABLE ... TO VERSION AS OF (r13): SQL spelling of the
    // zero-movement restore — v1's two rows return, history intact
    val preR = spark.table(s"$cat.default.h1").count()
    val rv = spark.sql(s"RESTORE TABLE $cat.default.h1 " +
      "TO VERSION AS OF 1").head.getLong(0)
    assert(rv == LakeTable.currentVersion(dir).get)
    assert(spark.table(s"$cat.default.h1").count() != preR &&
           spark.table(s"$cat.default.h1").count() == 2L,
      "RESTORE must republish v1's content")
    assert(LakeTable.readVersion(spark, dir, 1L).count() == 2L,
      "history stays intact and re-restorable across a SQL RESTORE")
    spark.sql(s"DROP TABLE $cat.default.h1")
  }

  test("INSERT INTO ... REPLACE WHERE / writeTo.overwrite (r12): atomic " +
       "DV-backed range replacement, leak validation") {
    import graft.sources.LakeTable
    import spark.implicits._
    val cat = "graft_lake_spec8"
    val wh = Files.createTempDirectory("graft_lake_whspec8_").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.LakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val dir = java.nio.file.Paths.get(wh, "default", "r1").toString
    (1L to 20L).map(k => (k, k % 4, k * 10L)).toDF("k", "band", "v")
      .createOrReplaceTempView("rw_src")
    spark.sql(s"CREATE TABLE $cat.default.r1 AS SELECT * FROM rw_src")
    val filesV1 = LakeTable.currentFiles(dir).toSet

    // the idempotent backfill: band 2's rows replaced atomically, every
    // pre-existing file carried (DV hides the old range)
    spark.sql(s"INSERT INTO $cat.default.r1 REPLACE WHERE band = 2 " +
      "SELECT k, 2 AS band, k * 1000 AS v FROM rw_src WHERE k % 4 = 2")
    assert(LakeTable.currentVersion(dir).contains(2L))
    assert(filesV1.subsetOf(LakeTable.currentFiles(dir).toSet),
      "REPLACE WHERE must carry every pre-existing file (DV path)")
    val after = spark.table(s"$cat.default.r1")
    assert(after.count() == 20L)
    assert(after.filter(col("band") === 2L).collect()
      .forall(_.getLong(2) >= 1000L),
      "the replaced range must hold exactly the new rows")
    assert(after.filter(col("band") === 1L).collect()
      .forall(_.getLong(2) < 1000L), "other ranges untouched")
    // re-running the same backfill is idempotent in content
    spark.sql(s"INSERT INTO $cat.default.r1 REPLACE WHERE band = 2 " +
      "SELECT k, 2 AS band, k * 1000 AS v FROM rw_src WHERE k % 4 = 2")
    assert(spark.table(s"$cat.default.r1").count() == 20L)

    // leak validation: incoming rows outside the range refuse atomically
    val preV = LakeTable.currentVersion(dir)
    intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.default.r1 REPLACE WHERE band = 2 " +
        "SELECT k, 3 AS band, v FROM rw_src WHERE k % 4 = 3")
    }
    assert(LakeTable.currentVersion(dir) == preV,
      "a leaking REPLACE WHERE must not mint a version")
    assert(spark.table(s"$cat.default.r1").count() == 20L)

    // the DataFrameWriterV2 spelling drives the same commit
    Seq((101L, 1L, 9999L)).toDF("k", "band", "v")
      .writeTo(s"$cat.default.r1").overwrite(col("band") === 1L)
    val b1 = spark.table(s"$cat.default.r1").filter(col("band") === 1L)
    assert(b1.count() == 1L && b1.head.getLong(2) == 9999L,
      "writeTo.overwrite(cond) must replace exactly the range")
    assert(spark.table(s"$cat.default.r1").count() == 16L)
    // history stays time-travel-readable across the replacements
    assert(LakeTable.readVersion(spark, dir, 1L).count() == 20L)
    spark.sql(s"DROP TABLE $cat.default.r1")
  }

  test("catalog namespaces (r12): SHOW/CREATE/DROP NAMESPACE as " +
       "warehouse directories") {
    val cat = "graft_lake_spec9"
    val wh = Files.createTempDirectory("graft_lake_whspec9_").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.LakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.ns2")
    assert(spark.sql(s"SHOW NAMESPACES IN $cat").collect()
      .map(_.getString(0)).contains("ns2"))
    intercept[Exception] { spark.sql(s"CREATE NAMESPACE $cat.ns2") }
    spark.sql(s"CREATE TABLE $cat.ns2.t1 (k BIGINT)")
    spark.sql(s"INSERT INTO $cat.ns2.t1 VALUES (5)")
    assert(spark.table(s"$cat.ns2.t1").head.getLong(0) == 5L)
    assert(spark.sql(s"SHOW TABLES IN $cat.ns2").collect()
      .map(_.getString(1)).contains("t1"))
    // RESTRICT (default) refuses a non-empty namespace; CASCADE drops it
    intercept[Exception] { spark.sql(s"DROP NAMESPACE $cat.ns2") }
    spark.sql(s"DROP NAMESPACE $cat.ns2 CASCADE")
    intercept[Exception] { spark.table(s"$cat.ns2.t1").collect() }
    assert(!spark.sql(s"SHOW NAMESPACES IN $cat").collect()
      .map(_.getString(0)).contains("ns2"))
  }

  test("SQL CREATE TABLE ... CLONE (r12): zero-copy clone through the " +
       "injected parser, version-pinned clones, refusal on existing") {
    import graft.sources.LakeTable
    import spark.implicits._
    val cat = "graft_lake_spec10"
    val wh = Files.createTempDirectory("graft_lake_whspec10_").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.LakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val src = java.nio.file.Paths.get(wh, "default", "c_src").toString
    (1L to 10L).map(k => (k, k * 10L)).toDF("k", "v")
      .createOrReplaceTempView("clone_src_v")
    spark.sql(s"CREATE TABLE $cat.default.c_src AS " +
      "SELECT * FROM clone_src_v")
    spark.sql(s"INSERT INTO $cat.default.c_src VALUES (11, 110)")

    // live clone: byte-exact, independent
    val v = spark.sql(s"CREATE TABLE $cat.default.c_live " +
      s"SHALLOW CLONE $cat.default.c_src").head.getLong(0)
    assert(v == 1L)
    assert(spark.table(s"$cat.default.c_live").count() == 11L)
    val dstDir = java.nio.file.Paths.get(wh, "default", "c_live").toString
    assert(LakeTable.currentFiles(dstDir) == LakeTable.currentFiles(src))
    spark.sql(s"DELETE FROM $cat.default.c_live WHERE k > 9")
    assert(spark.table(s"$cat.default.c_live").count() == 9L)
    assert(spark.table(s"$cat.default.c_src").count() == 11L,
      "clone DML must never reach the source")

    // version-pinned clone (pre-insert content)
    spark.sql(s"CREATE TABLE $cat.default.c_v1 CLONE $cat.default.c_src " +
      "VERSION AS OF 1")
    assert(spark.table(s"$cat.default.c_v1").count() == 10L)

    // timestamp-pinned clone (r14): backdate v1's stamp, pin between
    // the two commits — the batch TIMESTAMP AS OF rule resolves to v1
    val t0 = System.currentTimeMillis()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(src, "commit-v1"),
      (t0 - 7200000L).toString.getBytes("UTF-8"))
    spark.sql(s"CREATE TABLE $cat.default.c_ts CLONE $cat.default.c_src " +
      s"TIMESTAMP AS OF ${t0 - 3600000L}")
    assert(spark.table(s"$cat.default.c_ts").count() == 10L,
      "the timestamp pin must resolve to v1's content")
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.default.c_ts2 CLONE " +
        s"$cat.default.c_src TIMESTAMP AS OF ${t0 - 9999999L}")
    }

    // cloning onto an existing table refuses
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.default.c_live CLONE " +
        s"$cat.default.c_src")
    }
    Seq("c_src", "c_live", "c_v1", "c_ts").foreach(t =>
      spark.sql(s"DROP TABLE $cat.default.$t"))
  }

  test("catalog DDL hardening (ADVICE r12): unborn REPLACE WHERE " +
       "validates, case-insensitive DDL columns, statsBy ALTER " +
       "validation, atomic CREATE, non-deterministic CHECK insert") {
    import graft.sources.{LakeCatalog, LakeTable}
    import spark.implicits._
    val cat = "graft_lake_spec11"
    val wh = Files.createTempDirectory("graft_lake_whspec11_").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.LakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)

    // case-insensitive column references in DDL (Spark analysis default):
    // PARTITIONED BY (BAND) on column `band`, statsBy 'K' on column `k`
    spark.sql(s"CREATE TABLE $cat.default.ci1 (k BIGINT, band BIGINT) " +
      "PARTITIONED BY (BAND) TBLPROPERTIES ('statsBy'='K')")
    spark.sql(s"INSERT INTO $cat.default.ci1 VALUES (1, 2)")
    assert(spark.table(s"$cat.default.ci1").count() == 1L)

    // REPLACE WHERE into an UNBORN table still validates the incoming
    // rows: a leaking backfill refuses BEFORE anything stages
    spark.sql(s"CREATE TABLE $cat.default.u1 (k BIGINT, band BIGINT)")
    val uDir = java.nio.file.Paths.get(wh, "default", "u1").toString
    intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.default.u1 REPLACE WHERE band = 2 " +
        "SELECT 1L AS k, 3L AS band")
    }
    assert(LakeTable.currentVersion(uDir).isEmpty,
      "a leaking unborn-table REPLACE WHERE must not birth a version")
    spark.sql(s"INSERT INTO $cat.default.u1 REPLACE WHERE band = 2 " +
      "SELECT 1L AS k, 2L AS band")
    assert(spark.table(s"$cat.default.u1").count() == 1L)

    // ALTER SET statsBy validates against the LIVE schema: a typo
    // refuses; a column added after CREATE is legal
    spark.sql(s"ALTER TABLE $cat.default.u1 ADD COLUMNS (w BIGINT)")
    spark.sql(s"ALTER TABLE $cat.default.u1 SET TBLPROPERTIES " +
      "('statsBy'='w')")
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.default.u1 SET TBLPROPERTIES " +
        "('statsBy'='no_such_col')")
    }

    // atomic CREATE: the pending record publishes with fail-if-exists
    // semantics, so a racing CREATE cannot silently replace the winner's
    // declared schema
    val rDir = java.nio.file.Paths.get(wh, "default", "race1").toString
    Files.createDirectories(java.nio.file.Paths.get(rDir))
    val p = LakeCatalog.Pending(
      org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"),
      None, Seq.empty)
    LakeCatalog.writePending(rDir, p, failIfExists = true)
    intercept[java.nio.file.FileAlreadyExistsException] {
      LakeCatalog.writePending(rDir, p, failIfExists = true)
    }
    // and the SQL surface maps it to the standard exists error
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.default.race1 (other STRING)")
    }
    assert(spark.table(s"$cat.default.race1").schema.fieldNames.toSeq
      == Seq("k"), "the CREATE loser must not replace the winner's schema")

    // a non-deterministic source with a CHECK constraint: check and
    // write must see the SAME rows (the frame pins via localCheckpoint),
    // so every written row satisfies the constraint
    spark.sql(s"CREATE TABLE $cat.default.nd1 (k BIGINT) " +
      "TBLPROPERTIES ('check'='k >= 0')")
    spark.sql(s"INSERT INTO $cat.default.nd1 " +
      "SELECT CAST(rand() * 100 AS BIGINT) AS k FROM range(50)")
    val nd = spark.table(s"$cat.default.nd1")
    assert(nd.count() == 50L)
    assert(nd.filter(col("k") < 0L).count() == 0L)

    Seq("ci1", "u1", "nd1").foreach(t =>
      spark.sql(s"DROP TABLE $cat.default.$t"))
  }

  test("general MERGE shapes (r13): conditional clauses, partial " +
       "assignments, partial INSERT, NOT MATCHED BY SOURCE — one DV " +
       "commit; subqueries still refuse") {
    import graft.sources.LakeTable
    import spark.implicits._
    val cat = "graft_lake_spec12"
    val wh = Files.createTempDirectory("graft_lake_whspec12_").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.LakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val dir = java.nio.file.Paths.get(wh, "default", "g1").toString
    // target: k 1..8, v = k*10, flag = k%2
    (1L to 8L).map(k => (k, k * 10L, k % 2L)).toDF("k", "v", "flag")
      .createOrReplaceTempView("gm_t_src")
    spark.sql(s"CREATE TABLE $cat.default.g1 AS SELECT * FROM gm_t_src")
    val filesV1 = LakeTable.currentFiles(dir).toSet
    // source: keys 5..12, delta = k*100
    (5L to 12L).map(k => (k, k * 100L)).toDF("k", "delta")
      .createOrReplaceTempView("gm_s")

    // conditional matched clauses (first-applicable-wins), partial
    // assignment mixing t and s, conditional partial-column INSERT
    spark.sql(s"""MERGE INTO $cat.default.g1 AS t USING gm_s AS s
      ON t.k = s.k
      WHEN MATCHED AND t.flag = 1 THEN UPDATE SET v = t.v + s.delta
      WHEN MATCHED THEN DELETE
      WHEN NOT MATCHED AND s.k <= 10 THEN INSERT (k, v) VALUES (s.k, s.delta)""")
    assert(LakeTable.currentVersion(dir).contains(2L))
    assert(filesV1.subsetOf(LakeTable.currentFiles(dir).toSet),
      "general MERGE must keep every pre-existing file (DV path)")
    val after = spark.table(s"$cat.default.g1")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    // k=1..4 untouched; k=5,7 matched flag=1 → v += delta;
    // k=6,8 matched flag=0 → deleted; k=9,10 inserted (flag NULL);
    // k=11,12 filtered out by the insert condition
    assert(after.keySet == Set(1L, 2L, 3L, 4L, 5L, 7L, 9L, 10L),
      s"wrong survivor set: ${after.keySet.toSeq.sorted}")
    assert(after(5L) == (50L + 500L, 1L) && after(7L) == (70L + 700L, 1L))
    assert(after(1L) == (10L, 1L) && after(4L) == (40L, 0L))
    assert(after(9L) == (900L, -1L) && after(10L) == (1000L, -1L),
      "partial INSERT must null-fill unassigned columns")

    // NOT MATCHED BY SOURCE: age out target rows the source no longer
    // carries, update the rest it misses
    (5L to 10L).map(k => (k, 0L)).toDF("k", "delta")
      .createOrReplaceTempView("gm_s2")
    spark.sql(s"""MERGE INTO $cat.default.g1 AS t USING gm_s2 AS s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET v = t.v + 1
      WHEN NOT MATCHED BY SOURCE AND t.k <= 2 THEN DELETE
      WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = 0""")
    val m2 = spark.table(s"$cat.default.g1")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m2.keySet == Set(3L, 4L, 5L, 7L, 9L, 10L),
      s"BY SOURCE delete must age out k=1,2: ${m2.keySet.toSeq.sorted}")
    assert(m2(3L) == 0L && m2(4L) == 0L, "BY SOURCE update sets v = 0")
    assert(m2(5L) == 551L && m2(9L) == 901L, "matched rows increment")

    // cardinality violation: a duplicate-key source refuses atomically
    val preV = LakeTable.currentVersion(dir)
    Seq((5L, 1L), (5L, 2L)).toDF("k", "delta")
      .createOrReplaceTempView("gm_dup")
    intercept[Exception] {
      spark.sql(s"""MERGE INTO $cat.default.g1 AS t USING gm_dup AS s
        ON t.k = s.k WHEN MATCHED THEN UPDATE SET v = s.delta""")
    }
    assert(LakeTable.currentVersion(dir) == preV,
      "a cardinality-violating MERGE must not mint a version")

    // subquery conditions stay out of scope: Spark's own error, nothing
    // half-applies
    val e = intercept[Exception] {
      spark.sql(s"""MERGE INTO $cat.default.g1 AS t USING gm_s2 AS s
        ON t.k = s.k
        WHEN MATCHED AND t.v > (SELECT avg(delta) FROM gm_s2)
        THEN UPDATE SET v = 0""")
    }
    assert(LakeTable.currentVersion(dir) == preV,
      s"a subquery MERGE must not commit: ${e.getMessage}")

    // all-no-op merge (every clause filters everything) publishes nothing
    spark.sql(s"""MERGE INTO $cat.default.g1 AS t USING gm_s2 AS s
      ON t.k = s.k
      WHEN MATCHED AND t.k > 1000 THEN UPDATE SET v = 0""")
    assert(LakeTable.currentVersion(dir) == preV,
      "an all-no-op MERGE must not mint a version")

    // MULTIPLE update clauses route first-applicable-wins through ONE
    // CASE-projected pass (r13): k=3 hits the first clause, k=4 falls
    // to the second, k=5 hits the interleaved DELETE, k=7 matches no
    // clause and carries
    (3L to 7L).map(k => (k, k)).toDF("k", "delta")
      .createOrReplaceTempView("gm_s3")
    spark.sql(s"""MERGE INTO $cat.default.g1 AS t USING gm_s3 AS s
      ON t.k = s.k
      WHEN MATCHED AND t.k = 3 THEN UPDATE SET v = 1000 + s.delta
      WHEN MATCHED AND t.k = 5 THEN DELETE
      WHEN MATCHED AND t.k <= 5 THEN UPDATE SET v = 2000 + s.delta""")
    val m3 = spark.table(s"$cat.default.g1")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m3(3L) == 1003L, "first clause wins for k=3")
    assert(m3(4L) == 2004L, "second update clause catches k=4")
    assert(!m3.contains(5L), "the interleaved DELETE takes k=5")
    assert(m3(7L) == 771L, "no-clause matched rows carry unchanged")

    // unborn table: only the NOT MATCHED clauses act, birthing v1
    spark.sql(s"CREATE TABLE $cat.default.g2 (k BIGINT, v BIGINT)")
    spark.sql(s"""MERGE INTO $cat.default.g2 AS t USING gm_s2 AS s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET v = s.delta
      WHEN NOT MATCHED AND s.k <= 7 THEN INSERT (k) VALUES (s.k)""")
    val g2 = spark.table(s"$cat.default.g2").collect()
    assert(g2.map(_.getLong(0)).sorted.toSeq == Seq(5L, 6L, 7L) &&
           g2.forall(_.isNullAt(1)),
      "unborn MERGE births v1 from the conditional INSERT clause only")

    Seq("g1", "g2").foreach(t => spark.sql(s"DROP TABLE $cat.default.$t"))
  }

  test("RENAME COLUMN via column mapping (r13): metadata-only, DML and " +
       "reads under the new name, time travel, collision refusals") {
    import graft.sources.LakeTable
    import spark.implicits._
    val cat = "graft_lake_spec13"
    val wh = Files.createTempDirectory("graft_lake_whspec13_").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.LakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val dir = java.nio.file.Paths.get(wh, "default", "rn1").toString
    (1L to 8L).map(k => (k, k * 10L)).toDF("k", "v")
      .createOrReplaceTempView("rn_src")
    spark.sql(s"CREATE TABLE $cat.default.rn1 AS SELECT * FROM rn_src")
    val filesV1 = LakeTable.currentFiles(dir)

    spark.sql(s"ALTER TABLE $cat.default.rn1 RENAME COLUMN v TO amount")
    assert(LakeTable.currentFiles(dir) == filesV1,
      "RENAME must be metadata-only: identical file list")
    val t = spark.table(s"$cat.default.rn1")
    assert(t.columns.toSeq == Seq("k", "amount"),
      s"the logical schema renames: ${t.columns.toSeq}")
    assert(t.orderBy("k").collect().map(_.getLong(1)).toSeq
      == (1L to 8L).map(_ * 10L), "pre-rename files read under the new name")
    // time travel shows each version's own names
    assert(LakeTable.readVersion(spark, dir, 1L).columns.toSeq
      == Seq("k", "v"))

    // DML against the NEW name, end to end on the DV paths
    spark.sql(s"UPDATE $cat.default.rn1 SET amount = amount + 1 WHERE k = 1")
    spark.sql(s"DELETE FROM $cat.default.rn1 WHERE amount = 80")
    Seq((2L, 999L), (9L, 90L)).toDF("k", "amount")
      .createOrReplaceTempView("rn_up")
    spark.sql(s"""MERGE INTO $cat.default.rn1 AS t USING rn_up AS s
      ON t.k = s.k
      WHEN MATCHED AND s.amount > t.amount THEN UPDATE SET amount = s.amount
      WHEN NOT MATCHED THEN INSERT (k, amount) VALUES (s.k, s.amount)""")
    spark.sql(s"INSERT INTO $cat.default.rn1 VALUES (10, 100)")
    val m = spark.table(s"$cat.default.rn1").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m == Map(1L -> 11L, 2L -> 999L, 3L -> 30L, 4L -> 40L,
                    5L -> 50L, 6L -> 60L, 7L -> 70L, 9L -> 90L,
                    10L -> 100L), s"post-rename DML state wrong: $m")
    // every data file still physically carries the ORIGINAL name
    assert(LakeTable.currentSchema(dir).exists(_.name == "v"),
      "the manifest's physical schema keeps the original column name")

    // the change feed surfaces the logical name for post-rename versions
    val feed = spark.table(s"$cat.default.rn1.changes")
    assert(feed.columns.contains("amount") &&
           feed.columns.contains("_change_type"))

    // collisions refuse: existing logical, retired physical, and an ADD
    // of the retired physical name (two logicals on one file column)
    intercept[Exception] { spark.sql(
      s"ALTER TABLE $cat.default.rn1 RENAME COLUMN k TO amount") }
    intercept[Exception] { spark.sql(
      s"ALTER TABLE $cat.default.rn1 RENAME COLUMN k TO v") }
    intercept[Exception] { spark.sql(
      s"ALTER TABLE $cat.default.rn1 ADD COLUMNS (v BIGINT)") }

    // unborn table: the declared schema renames in place
    spark.sql(s"CREATE TABLE $cat.default.rn2 (a BIGINT, b BIGINT)")
    spark.sql(s"ALTER TABLE $cat.default.rn2 RENAME COLUMN b TO c")
    assert(spark.table(s"$cat.default.rn2").columns.toSeq == Seq("a", "c"))
    spark.sql(s"INSERT INTO $cat.default.rn2 VALUES (1, 2)")
    assert(spark.table(s"$cat.default.rn2").head.getLong(1) == 2L)

    Seq("rn1", "rn2").foreach(t => spark.sql(s"DROP TABLE $cat.default.$t"))
  }

  test("DROP COLUMN via column mapping (r13): metadata-only, data " +
       "invisible not rewritten, tombstoned against resurrection, " +
       "restore lifts the tombstone") {
    import graft.sources.LakeTable
    import spark.implicits._
    val cat = "graft_lake_spec14"
    val wh = Files.createTempDirectory("graft_lake_whspec14_").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.LakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val dir = java.nio.file.Paths.get(wh, "default", "d1").toString
    (1L to 6L).map(k => (k, k * 10L, k * 100L)).toDF("k", "v", "w")
      .createOrReplaceTempView("dc_src")
    spark.sql(s"CREATE TABLE $cat.default.d1 AS SELECT * FROM dc_src")
    val filesV1 = LakeTable.currentFiles(dir)

    spark.sql(s"ALTER TABLE $cat.default.d1 DROP COLUMN v")
    assert(LakeTable.currentFiles(dir) == filesV1,
      "DROP must be metadata-only: identical file list")
    val t = spark.table(s"$cat.default.d1")
    assert(t.columns.toSeq == Seq("k", "w"))
    assert(t.orderBy("k").collect().map(_.getLong(1)).toSeq
      == (1L to 6L).map(_ * 100L))
    // time travel still shows the dropped column's data
    assert(LakeTable.readVersion(spark, dir, 1L)
      .orderBy("k").collect().map(_.getLong(1)).toSeq
      == (1L to 6L).map(_ * 10L))

    // resurrection refused: re-adding the dropped name fails the
    // evolution gate on BOTH the ALTER and the sneak-append path
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.default.d1 ADD COLUMNS (v BIGINT)")
    }
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.default.d1 RENAME COLUMN w TO v")
    }
    val sneak = Seq((7L, 7L, 700L)).toDF("k", "v", "w")
    assert(LakeTable.append(spark, dir, sneak)(_ => None).isLeft,
      "an append carrying the dropped name must refuse (resurrection)")
    // a NEW name is fine and null-fills
    spark.sql(s"ALTER TABLE $cat.default.d1 ADD COLUMNS (v2 BIGINT)")
    assert(spark.table(s"$cat.default.d1").columns.toSeq
      == Seq("k", "w", "v2"))

    // DML keeps working on the narrowed table
    spark.sql(s"UPDATE $cat.default.d1 SET w = w + 1 WHERE k = 1")
    assert(spark.table(s"$cat.default.d1")
      .filter(col("k") === 1L).head.getLong(1) == 101L)

    // RESTORE to the pre-drop version lifts the tombstone: the column
    // (and its data) comes back deliberately, and appends with it work
    assert(LakeTable.restore(spark, dir, 1L).isRight)
    val back = spark.table(s"$cat.default.d1")
    assert(back.columns.toSeq == Seq("k", "v", "w"))
    assert(back.filter(col("k") === 2L).head.getLong(1) == 20L,
      "restore resurrects the dropped column's data by design")
    assert(LakeTable.append(spark, dir,
      Seq((7L, 70L, 700L)).toDF("k", "v", "w"))(_ => None).isRight,
      "the lifted tombstone admits the column again")

    // guardrails: the layout column and the only column refuse
    spark.sql(s"CREATE TABLE $cat.default.d2 (k BIGINT, band BIGINT) " +
      "PARTITIONED BY (band)")
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.default.d2 DROP COLUMN band")
    }
    // unborn: the declared schema narrows in place
    spark.sql(s"ALTER TABLE $cat.default.d2 DROP COLUMN k")
    assert(spark.table(s"$cat.default.d2").columns.toSeq == Seq("band"))
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.default.d2 DROP COLUMN band")
    }
    Seq("d1", "d2").foreach(t => spark.sql(s"DROP TABLE $cat.default.$t"))
  }

  test("COPY INTO (r14): idempotent file ingestion — re-runs load " +
       "nothing, new files load exactly once, CHECK gates, CSV reads " +
       "under the target schema") {
    import graft.sources.LakeTable
    import spark.implicits._
    val cat = "graft_lake_spec_r14cp"
    val wh = Files.createTempDirectory("graft_lake_whr14cp_").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.LakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val dir = java.nio.file.Paths.get(wh, "default", "cp1").toString
    spark.sql(s"CREATE TABLE $cat.default.cp1 (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('check'='v > 0')")
    // two source parquet files
    val srcDir = Files.createTempDirectory("graft_copy_src_").toString
    (1L to 4L).map(k => (k, k * 10L)).toDF("k", "v")
      .coalesce(1).write.parquet(s"$srcDir/a")
    (5L to 6L).map(k => (k, k * 10L)).toDF("k", "v")
      .coalesce(1).write.parquet(s"$srcDir/b")
    def copy(): (Long, Long) = {
      val r = spark.sql(s"COPY INTO $cat.default.cp1 FROM '$srcDir' " +
        "FILEFORMAT = PARQUET PATTERN = '**.parquet'").head
      (r.getLong(0), r.getLong(1))
    }
    assert(copy() == ((2L, 6L)), "two files, six rows load")
    assert(spark.table(s"$cat.default.cp1").count() == 6L)
    // IDEMPOTENT: the re-run loads nothing and publishes nothing
    val vBefore = LakeTable.currentVersion(dir).get
    assert(copy() == ((0L, 0L)), "a re-run must load nothing")
    assert(LakeTable.currentVersion(dir).contains(vBefore),
      "a no-op COPY INTO must not mint a version")
    // a new file loads exactly once; the old ones stay skipped
    (7L to 7L).map(k => (k, k * 10L)).toDF("k", "v")
      .coalesce(1).write.parquet(s"$srcDir/c")
    assert(copy() == ((1L, 1L)), "only the new file loads")
    assert(spark.table(s"$cat.default.cp1").count() == 7L)
    // CHECK refuses atomically: the violating batch publishes nothing
    Seq((99L, -1L)).toDF("k", "v")
      .coalesce(1).write.parquet(s"$srcDir/bad")
    val e = intercept[Exception] { copy() }
    assert((Option(e.getMessage).toSeq ++
            Option(e.getCause).flatMap(c => Option(c.getMessage)))
      .exists(_.contains("CHECK")), s"the refusal names the check: $e")
    assert(spark.table(s"$cat.default.cp1").count() == 7L)

    // CSV under the target schema (header expected)
    val dir2 = java.nio.file.Paths.get(wh, "default", "cp2").toString
    spark.sql(s"CREATE TABLE $cat.default.cp2 (k BIGINT, v BIGINT)")
    val csvDir = Files.createTempDirectory("graft_copy_csv_").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(csvDir, "x.csv"),
      "k,v\n1,11\n2,22\n".getBytes("UTF-8"))
    val r2 = spark.sql(s"COPY INTO $cat.default.cp2 FROM '$csvDir' " +
      "FILEFORMAT = CSV").head
    assert((r2.getLong(0), r2.getLong(1)) == ((1L, 2L)))
    assert(spark.table(s"$cat.default.cp2").orderBy("k").collect()
      .map(_.getLong(1)).toSeq == Seq(11L, 22L))
    assert(LakeTable.rowsOf(dir2,
      LakeTable.currentVersion(dir2).get).values.sum == 2L)

    // SCHEMA GATE (r15, ADVICE r14): a parquet source file with an
    // extra column must NOT silently evolve the table as a side effect
    // of ingestion — refused without mergeSchema, loaded additively
    // with COPY_OPTIONS ('mergeSchema' = 'true'); a type change never
    // ingests either way
    val extraDir = Files.createTempDirectory("graft_copy_extra_").toString
    Seq((8L, 80L, "x")).toDF("k", "v", "note")
      .coalesce(1).write.parquet(s"$extraDir/a")
    val eSchema = intercept[Exception] {
      spark.sql(s"COPY INTO $cat.default.cp1 FROM '$extraDir' " +
        "FILEFORMAT = PARQUET")
    }
    assert(eSchema.getMessage.contains("mergeSchema"),
      s"the refusal names the opt-in: ${eSchema.getMessage}")
    assert(spark.table(s"$cat.default.cp1").columns.toSeq
      == Seq("k", "v"), "the refused copy must not evolve the schema")
    val rm = spark.sql(s"COPY INTO $cat.default.cp1 FROM '$extraDir' " +
      "FILEFORMAT = PARQUET COPY_OPTIONS ('mergeSchema' = 'true')").head
    assert((rm.getLong(0), rm.getLong(1)) == ((1L, 1L)))
    assert(spark.table(s"$cat.default.cp1").columns.toSeq
      == Seq("k", "v", "note"), "mergeSchema evolves additively")
    val badTypeDir = Files.createTempDirectory("graft_copy_badt_").toString
    Seq(("9", 90L)).toDF("k", "v") // k is STRING, table says BIGINT
      .coalesce(1).write.parquet(s"$badTypeDir/a")
    val eType = intercept[Exception] {
      spark.sql(s"COPY INTO $cat.default.cp1 FROM '$badTypeDir' " +
        "FILEFORMAT = PARQUET COPY_OPTIONS ('mergeSchema' = 'true')")
    }
    assert(eType.getMessage.contains("type"),
      s"type changes never ingest: ${eType.getMessage}")
    Seq("cp1", "cp2").foreach(t => spark.sql(s"DROP TABLE $cat.default.$t"))
  }

  test("batch readChangeFeed (r14): inclusive version/timestamp bounds " +
       "window the feed; defaults replay the full retained history; " +
       "vacuumed bounds refuse") {
    import graft.sources.LakeTable
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_cdf_batch_").toString
    for (i <- 1 to 4)
      assert(LakeTable.append(spark, dir,
        Seq((i.toLong, i.toLong * 10L)).toDF("k", "v"))(_ => None)
        == Right(i.toLong))
    // deterministic stamps: v(i) at t0 + i seconds
    val t0 = System.currentTimeMillis() - 60000L
    for (v <- 1 to 4)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, s"commit-v$v"),
        (t0 + v * 1000L).toString.getBytes("UTF-8"))
    def feed(opts: (String, String)*): Seq[(Long, Long)] = {
      val r = opts.foldLeft(spark.read.format("graft-lake")
          .option("path", dir).option("readChangeFeed", "true")) {
        case (b, (k, vv)) => b.option(k, vv)
      }.load()
      r.orderBy("_commit_version", "k").collect()
        .map(x => (x.getAs[Long]("_commit_version"), x.getAs[Long]("k")))
        .toSeq
    }
    assert(feed() == Seq((1L, 1L), (2L, 2L), (3L, 3L), (4L, 4L)),
      "default = the full retained history")
    // startingVersion=0 — the common Delta spelling for "from the
    // beginning" — must mean the full retained feed, not a confusing
    // "version -1 not published" refusal (r15, ADVICE r14)
    assert(feed("startingVersion" -> "0")
      == Seq((1L, 1L), (2L, 2L), (3L, 3L), (4L, 4L)),
      "startingVersion=0 = full history, same as 1")
    assert(feed("startingVersion" -> "3") == Seq((3L, 3L), (4L, 4L)),
      "startingVersion is INCLUSIVE")
    assert(feed("startingVersion" -> "2", "endingVersion" -> "3")
      == Seq((2L, 2L), (3L, 3L)), "endingVersion is INCLUSIVE")
    // timestamp twins: start = at-or-after, end = at-or-before
    assert(feed("startingTimestamp" -> (t0 + 3000L).toString)
      == Seq((3L, 3L), (4L, 4L)))
    assert(feed("startingTimestamp" -> (t0 + 2500L).toString,
                "endingTimestamp" -> (t0 + 3500L).toString)
      == Seq((3L, 3L)))
    // stamped columns ride along
    val one = spark.read.format("graft-lake").option("path", dir)
      .option("readChangeFeed", "true").option("startingVersion", "4")
      .load().collect().head
    assert(one.getAs[String]("_change_type") == "insert" &&
           one.getAs[java.sql.Timestamp]("_commit_timestamp") != null)
    // option conflicts and vacuumed bounds refuse loudly
    intercept[Exception] { feed("startingVersion" -> "1",
                                "startingTimestamp" -> t0.toString) }
    intercept[Exception] { feed("startingVersion" -> "4",
                                "endingVersion" -> "2") }
    LakeTable.vacuum(dir, 2)
    intercept[Exception] { feed("startingVersion" -> "2") }
    assert(feed("startingVersion" -> "4") == Seq((4L, 4L)),
      "bounds inside the retained window keep working after vacuum")
  }

  test("MERGE WITH SCHEMA EVOLUTION (r14): new source columns evolve " +
       "the target additively, widening evolves the type, plain MERGE " +
       "still refuses unknown columns") {
    import graft.sources.LakeTable
    import spark.implicits._
    val cat = "graft_lake_spec_r14me"
    val wh = Files.createTempDirectory("graft_lake_whr14me_").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.LakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val dir = java.nio.file.Paths.get(wh, "default", "me1").toString
    Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
      .createOrReplaceTempView("me_t")
    spark.sql(s"CREATE TABLE $cat.default.me1 AS SELECT * FROM me_t")
    Seq((2L, 22L, "x"), (3L, 33L, "y")).toDF("k", "v", "tag")
      .createOrReplaceTempView("me_s")

    // WITHOUT the keyword, an unknown column still refuses at analysis
    val e = intercept[Exception] { spark.sql(
      s"""MERGE INTO $cat.default.me1 AS t USING me_s AS s ON t.k = s.k
          WHEN NOT MATCHED THEN INSERT (k, v, tag)
            VALUES (s.k, s.v, s.tag)""") }
    assert(Option(e.getMessage).exists(_.contains("UNRESOLVED_COLUMN")),
      s"plain MERGE must refuse the unknown column: $e")

    // WITH SCHEMA EVOLUTION: Spark's analyzer computes the diff and
    // drives it through the catalog's alterTable — the same
    // metadata-only ADD COLUMNS commit the explicit ALTER uses — then
    // the merge binds as usual; old rows null-fill the new column
    spark.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.default.me1 AS t
          USING me_s AS s ON t.k = s.k
          WHEN MATCHED THEN UPDATE SET v = s.v, tag = s.tag
          WHEN NOT MATCHED THEN INSERT (k, v, tag)
            VALUES (s.k, s.v, s.tag)""")
    val got = spark.table(s"$cat.default.me1").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1),
                 if (r.isNullAt(2)) null else r.getString(2))).toSeq
    assert(got == Seq((1L, 10L, null), (2L, 22L, "x"), (3L, 33L, "y")),
      s"evolved merge state wrong: $got")
    // the evolution rode the metadata-only commit: the pre-merge data
    // files are all still listed (the merge added sidecars + fresh
    // files, rewrote nothing)
    assert(LakeTable.currentLogicalSchema(dir)
      .exists(_.name == "tag"), "the recorded schema evolved")

    // type widening through evolution: a BIGINT source column against
    // an INT target column widens the target in the same statement
    val dir2 = java.nio.file.Paths.get(wh, "default", "me2").toString
    spark.sql(s"CREATE TABLE $cat.default.me2 (k BIGINT, n INT)")
    spark.sql(s"INSERT INTO $cat.default.me2 VALUES (1, 5)")
    Seq((2L, 7L)).toDF("k", "n").createOrReplaceTempView("me_s2")
    spark.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.default.me2 AS t
          USING me_s2 AS s ON t.k = s.k
          WHEN NOT MATCHED THEN INSERT (k, n) VALUES (s.k, s.n)""")
    assert(spark.table(s"$cat.default.me2").schema("n").dataType ==
           org.apache.spark.sql.types.LongType,
      "the INT target column widens to the source's BIGINT")
    assert(spark.table(s"$cat.default.me2").orderBy("k").collect()
      .map(_.getLong(1)).toSeq == Seq(5L, 7L))
    Seq("me1", "me2").foreach(t => spark.sql(s"DROP TABLE $cat.default.$t"))
  }

  test("multi-column PARTITIONED BY (r14): composed _layout segments, " +
       "partial merge carries untouched (v1,v2) bands verbatim, " +
       "streamed epochs land per-tuple") {
    import graft.sources.LakeTable
    import spark.implicits._
    val cat = "graft_lake_spec_r14mc"
    val wh = Files.createTempDirectory("graft_lake_whr14mc_").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.LakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val dir = java.nio.file.Paths.get(wh, "default", "mc1").toString
    (1L to 40L).map(k => (k, k % 4L,
                          if ((k / 4L) % 2L == 0L) "E" else "W",
                          k * 10L))
      .toDF("k", "band", "hemi", "v").createOrReplaceTempView("mc_src")
    spark.sql(s"CREATE TABLE $cat.default.mc1 " +
      "PARTITIONED BY (band, hemi) AS SELECT * FROM mc_src")
    val filesV1 = LakeTable.currentFiles(dir)
    assert(filesV1.nonEmpty && filesV1.forall(f =>
      f.contains("_layout=") && f.contains("_layout2=")),
      s"CTAS composes both layout segments: $filesV1")
    // every (band, hemi) tuple present: 4 bands x 2 hemis
    assert(filesV1.map(LakeTable.layoutValuesOf).map(_.toList).toSet
      .size == 8, "one directory tuple per (band, hemi)")
    assert(spark.table(s"$cat.default.mc1").count() == 40L)

    // partial merge touching ONE tuple: every other (band, hemi)
    // band's files carry VERBATIM
    // k=8 lives at (band 0, hemi E); k=44 is a fresh key claiming the
    // same tuple
    val ups = Seq((8L, 0L, "E", 999L), (44L, 0L, "E", 440L))
      .toDF("k", "band", "hemi", "v")
    assert(LakeTable.mergePartial(spark, dir, ups, Seq("k"),
      "band,hemi")(_ => None) == Right(2L))
    val filesV2 = LakeTable.currentFiles(dir)
    val untouchedV1 = filesV1.filterNot(f =>
      LakeTable.layoutValuesOf(f) == Seq("0", "E"))
    assert(untouchedV1.forall(filesV2.contains),
      "untouched (band, hemi) bands must carry verbatim")
    assert(!filesV2.exists(f => filesV1.contains(f) &&
      LakeTable.layoutValuesOf(f) == Seq("0", "E")),
      "the touched tuple's files must be rewritten, not carried")
    val m = spark.table(s"$cat.default.mc1").collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(m.size == 41 && m(8L) == 999L && m(44L) == 440L &&
           m(4L) == 40L && m(12L) == 120L,
           s"merge routed by the tuple: ${m.toSeq.sorted}")
    // manifest row counts stay complete through the partial merge
    val v2 = LakeTable.currentVersion(dir).get
    val rows2 = LakeTable.rowsOf(dir, v2)
    assert(filesV2.forall(rows2.contains),
      "every carried AND rewritten file keeps a row count")
    assert(filesV2.map(rows2).sum == 41L)

    // layout columns prune READS with zero statsBy declaration (r14):
    // each file's path value is synthesized into the manifest as a
    // typed min = max stats entry, so an equality filter on either
    // layout column drops every other tuple's files before any footer
    // is opened — partition pruning through the stats machinery
    val v2ver = LakeTable.currentVersion(dir).get
    assert(LakeTable.statsOf(dir, v2ver).keys.exists(_._2 == "band") &&
           LakeTable.statsOf(dir, v2ver).keys.exists(_._2 == "hemi"),
      "layout columns carry synthesized per-file stats")
    val pruned = spark.read.format("graft-lake")
      .option("path", dir).load()
      .filter(col("band") === 1L && col("hemi") === "E")
    assert(pruned.collect().map(_.getLong(0)).sorted.toSeq ==
      (1L to 40L).filter(k => k % 4L == 1L && (k / 4L) % 2L == 0L),
      "the pruned read returns exactly the tuple's rows")
    val scanned = graft.sources.LakeRelation.lastScanFiles.get()
    assert(scanned.forall(f =>
      LakeTable.layoutValuesOf(f) == Seq("1", "E")),
      s"only the (1, E) tuple's files may be scanned: $scanned")
    assert(scanned.size < filesV2.size,
      "the prune must actually drop files")

    // a streamed epoch onto the 2-column layout stages per-tuple files
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String, Long)]
    val cp = Files.createTempDirectory("graft_mc_cp_").toString
    val q = mem.toDF().toDF("k", "band", "hemi", "v")
      .writeStream.option("checkpointLocation", cp)
      .toTable(s"$cat.default.mc1")
    mem.addData((100L, 1L, "E", 1L), (101L, 2L, "W", 2L))
    try q.processAllAvailable() finally q.stop()
    val streamed = LakeTable.currentFiles(dir).filterNot(filesV2.contains)
    assert(streamed.nonEmpty && streamed.forall(f =>
      LakeTable.layoutValuesOf(f).length == 2),
      s"streamed files carry both segments: $streamed")
    assert(streamed.map(LakeTable.layoutValuesOf).map(_.toList).toSet ==
      Set(List("1", "E"), List("2", "W")),
      s"one file per streamed (band, hemi) tuple: $streamed")
    assert(spark.table(s"$cat.default.mc1").count() == 43L)
    spark.sql(s"DROP TABLE $cat.default.mc1")
  }

  test("VACUUM RETAIN n HOURS (r14): backdated commit stamps reclaim " +
       "exactly the stale versions; floor hint written; a stream past " +
       "the floor refuses loudly") {
    import graft.sources.LakeTable
    import spark.implicits._
    val cat = "graft_lake_spec_r14vh"
    val wh = Files.createTempDirectory("graft_lake_whr14vh_").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.LakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val dir = java.nio.file.Paths.get(wh, "default", "vh1").toString
    for (i <- 1 to 4)
      assert(LakeTable.append(spark, dir,
        Seq((i.toLong, i.toLong * 10L)).toDF("k", "v"))(_ => None)
        == Right(i.toLong))
    // BACKDATE v1/v2: the commit stamp is content-addressed (it lives
    // INSIDE the marker), so aging history for the test is a
    // deterministic write, not an mtime trick
    val oldMs = System.currentTimeMillis() - 10L * 3600000L
    for (v <- 1 to 2)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, s"commit-v$v"),
        oldMs.toString.getBytes("UTF-8"))

    // RESTORE TO TIMESTAMP AS OF (r14): resolves to the newest version
    // at or before the instant (v2 here, committed at oldMs), restores
    // it as a NEW version, then the content rolls forward again
    val rts = spark.sql(s"RESTORE TABLE $cat.default.vh1 " +
      s"TO TIMESTAMP AS OF ${oldMs + 1L}").head.getLong(0)
    assert(rts == 5L && spark.table(s"$cat.default.vh1").count() == 2L,
      "restore-to-timestamp must republish v2's content")
    val r5 = spark.sql(s"RESTORE TABLE $cat.default.vh1 " +
      "TO VERSION AS OF 4").head.getLong(0)
    assert(r5 == 6L && spark.table(s"$cat.default.vh1").count() == 4L)
    intercept[Exception] { spark.sql(s"RESTORE TABLE $cat.default.vh1 " +
      s"TO TIMESTAMP AS OF ${oldMs - 10L}") }

    // DRY RUN (r14): counts the reclaim, mutates NOTHING — no manifest
    // drops, no floor hint
    val dry = spark.sql(
      s"VACUUM $cat.default.vh1 RETAIN 5 HOURS DRY RUN").head
    assert(dry.getLong(0) == 2L,
      s"DRY RUN counts the two backdated versions: $dry")
    assert(LakeTable.versions(dir) == Seq(1L, 2L, 3L, 4L, 5L, 6L),
      "DRY RUN must not delete manifests")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "vacuum-floor")),
      "DRY RUN must not write the floor hint")

    val vac = spark.sql(s"VACUUM $cat.default.vh1 RETAIN 5 HOURS").head
    assert(vac.getLong(0) == 2L,
      s"exactly the two backdated versions reclaim: $vac")
    assert(LakeTable.versions(dir) == Seq(3L, 4L, 5L, 6L),
      "versions inside the window survive")
    // kept history still time-travels; reclaimed history refuses
    assert(LakeTable.readVersion(spark, dir, 3L).count() == 3L)
    intercept[Exception] { LakeTable.readVersion(spark, dir, 2L).count() }
    // the vacuum-floor hint records the kept window's lower bound
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "vacuum-floor")), "UTF-8").trim == "3",
      "the floor hint must be written exactly as the version vacuum does")
    // RETAIN 0 HOURS keeps at least the live version (v6 = the v4
    // restore, 4 rows)
    val vac2 = spark.sql(s"VACUUM $cat.default.vh1 RETAIN 0 HOURS").head
    assert(LakeTable.versions(dir) == Seq(6L),
      s"RETAIN 0 HOURS reduces to keep-live-only: $vac2")
    assert(spark.table(s"$cat.default.vh1").count() == 4L)

    // a stream whose checkpointed offset fell below the floor refuses
    // loudly — same contract as the version-count vacuum
    val dir2 = java.nio.file.Paths.get(wh, "default", "vh2").toString
    val cp = Files.createTempDirectory("graft_vh2_cp_").toString
    for (i <- 1 to 2)
      assert(LakeTable.append(spark, dir2,
        Seq((i.toLong, i.toLong)).toDF("k", "v"))(_ => None)
        == Right(i.toLong))
    def start() = spark.readStream.table(s"$cat.default.vh2")
      .writeStream.option("checkpointLocation", cp)
      .foreachBatch((_: org.apache.spark.sql.DataFrame, _: Long) => ())
      .start()
    val q = start()
    try q.processAllAvailable() finally q.stop()
    for (i <- 3 to 4)
      assert(LakeTable.append(spark, dir2,
        Seq((i.toLong, i.toLong)).toDF("k", "v"))(_ => None)
        == Right(i.toLong))
    for (v <- 1 to 3)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir2, s"commit-v$v"),
        oldMs.toString.getBytes("UTF-8"))
    assert(LakeTable.vacuumRetainHours(dir2, 5L)._1 == 3)
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

    // SUFFIX FORCE (r15, ADVICE r14): a commit stamp that REGRESSED
    // (NTP step-back, or the mtime fallback after a table copy) must
    // never let the retention filter drop an INTERIOR version — that
    // would truncate the dense-claim walk and hide every newer live
    // version. Backdate v2 of a 3-version table below the window while
    // v1 and v3 stay inside: the kept set is forced to the suffix from
    // the OLDEST in-window version, so nothing drops.
    val dir3 = java.nio.file.Paths.get(wh, "default", "vh3").toString
    spark.sql(s"CREATE TABLE $cat.default.vh3 (k BIGINT, v BIGINT)")
    for (i <- 1 to 3)
      assert(LakeTable.append(spark, dir3,
        Seq((i.toLong, i.toLong)).toDF("k", "v"))(_ => None)
        == Right(i.toLong))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir3, "commit-v2"),
      oldMs.toString.getBytes("UTF-8"))
    assert(LakeTable.vacuumRetainHours(dir3, 5L) == ((0, 0)),
      "a regressed interior stamp must not drop the interior version")
    assert(LakeTable.versions(dir3) == Seq(1L, 2L, 3L))
    assert(LakeTable.readVersion(spark, dir3, 2L).count() == 2L,
      "the interior version stays readable (two appended rows)")
    Seq("vh1", "vh2", "vh3").foreach(t =>
      spark.sql(s"DROP TABLE $cat.default.$t"))
  }

  test("ALTER COLUMN TYPE widening (r14): metadata-only, carried files " +
       "keep the narrow encoding and up-cast at read, time travel shows " +
       "each version's own type, narrowing refuses") {
    import graft.sources.LakeTable
    import spark.implicits._
    val cat = "graft_lake_spec_r14w"
    val wh = Files.createTempDirectory("graft_lake_whr14w_").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.LakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val dir = java.nio.file.Paths.get(wh, "default", "w1").toString
    (1 to 6).map(k => (k, k.toFloat / 2.0f)).toDF("k", "r")
      .createOrReplaceTempView("w_src")
    spark.sql(s"CREATE TABLE $cat.default.w1 AS SELECT * FROM w_src")
    val filesV1 = LakeTable.currentFiles(dir)

    spark.sql(s"ALTER TABLE $cat.default.w1 ALTER COLUMN k TYPE BIGINT")
    spark.sql(s"ALTER TABLE $cat.default.w1 ALTER COLUMN r TYPE DOUBLE")
    assert(LakeTable.currentFiles(dir) == filesV1,
      "widening must be metadata-only: identical file list")
    val t = spark.table(s"$cat.default.w1")
    assert(t.schema("k").dataType ==
           org.apache.spark.sql.types.LongType)
    assert(t.schema("r").dataType ==
           org.apache.spark.sql.types.DoubleType)
    // the INT32/FLOAT files up-cast at read
    assert(t.orderBy("k").collect().map(_.getLong(0)).toSeq
      == (1L to 6L), "carried int32 values read back as longs")
    assert(math.abs(t.orderBy("k").collect().map(_.getDouble(1)).sum
      - (1 to 6).map(_ / 2.0).sum) < 1e-9)
    // time travel shows each version's own type
    assert(LakeTable.readVersion(spark, dir, 1L).schema("k").dataType ==
           org.apache.spark.sql.types.IntegerType)
    assert(LakeTable.readVersion(spark, dir, 3L).schema("k").dataType ==
           org.apache.spark.sql.types.LongType)
    // DESCRIBE DETAIL reports the widened logical type
    val detail = spark.sql(s"DESCRIBE DETAIL $cat.default.w1").collect()
    assert(detail.exists(_.toString.contains("BIGINT")),
      s"DESCRIBE DETAIL must report the widened type: " +
      detail.mkString("; "))

    // DML across mixed-width files: new rows land wide, merges read
    // both generations through one plan
    spark.sql(s"INSERT INTO $cat.default.w1 VALUES " +
      s"(${Long.MaxValue}, 9.5)")
    spark.sql(s"UPDATE $cat.default.w1 SET r = r + 1.0 WHERE k = 2")
    val got = spark.table(s"$cat.default.w1").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(Long.MaxValue) == 9.5 && got(2L) == 2.0,
      s"post-widening DML over mixed-width files: $got")

    // narrowing refuses at ANALYSIS (Spark's own up-cast gate fires
    // before the catalog — the same pre-gate Delta rides)
    val e = intercept[Exception] { spark.sql(
      s"ALTER TABLE $cat.default.w1 ALTER COLUMN k TYPE INT") }
    assert(Option(e.getMessage)
      .exists(_.contains("NOT_SUPPORTED_CHANGE_COLUMN")),
      s"narrowing must refuse at analysis: $e")
    intercept[Exception] { spark.sql(
      s"ALTER TABLE $cat.default.w1 ALTER COLUMN r TYPE BIGINT") }
    // a lossless-but-cross-family up-cast passes Spark's gate and must
    // refuse at OUR gate (files keep the physical encoding; only the
    // in-family widenings the parquet readers up-cast are legal)
    val e2 = intercept[Exception] { spark.sql(
      s"ALTER TABLE $cat.default.w1 ALTER COLUMN k TYPE STRING") }
    assert((Option(e2.getMessage).toSeq ++
            Option(e2.getCause).flatMap(c => Option(c.getMessage)))
      .exists(_.contains("widening")), s"refusal names the rule: $e2")

    // the lossless cross-family widening: INT -> DOUBLE (sub-64-bit
    // integrals fit a double exactly; the parquet readers up-cast
    // INT32 natively). BIGINT -> DOUBLE stays refused (lossy past 2^53).
    spark.sql(s"CREATE TABLE $cat.default.w3 (a INT, b BIGINT)")
    spark.sql(s"INSERT INTO $cat.default.w3 VALUES (7, 9)")
    spark.sql(s"ALTER TABLE $cat.default.w3 ALTER COLUMN a TYPE DOUBLE")
    assert(spark.table(s"$cat.default.w3").head.getDouble(0) == 7.0)
    intercept[Exception] { spark.sql(
      s"ALTER TABLE $cat.default.w3 ALTER COLUMN b TYPE DOUBLE") }
    spark.sql(s"DROP TABLE $cat.default.w3")

    // widening a RENAMED column resolves through the display map
    spark.sql(s"CREATE TABLE $cat.default.w2 (a INT, b INT) ")
    spark.sql(s"INSERT INTO $cat.default.w2 VALUES (1, 2)")
    spark.sql(s"ALTER TABLE $cat.default.w2 RENAME COLUMN b TO c")
    spark.sql(s"ALTER TABLE $cat.default.w2 ALTER COLUMN c TYPE BIGINT")
    val w2 = spark.table(s"$cat.default.w2")
    assert(w2.schema("c").dataType ==
           org.apache.spark.sql.types.LongType)
    assert(w2.head.getLong(1) == 2L)
    Seq("w1", "w2").foreach(t => spark.sql(s"DROP TABLE $cat.default.$t"))
  }

  test("column mapping r14: rename round-trips back to the physical " +
       "name; CHECK gates a general MERGE through the logical names") {
    import graft.sources.LakeTable
    import spark.implicits._
    val cat = "graft_lake_spec_r14rn"
    val wh = Files.createTempDirectory("graft_lake_whr14rn_").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.LakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val dir = java.nio.file.Paths.get(wh, "default", "rb1").toString
    (1L to 4L).map(k => (k, k * 10L)).toDF("k", "v")
      .createOrReplaceTempView("rb_src")
    spark.sql(s"CREATE TABLE $cat.default.rb1 AS SELECT * FROM rb_src")

    // rename v -> amount, then BACK amount -> v: legal (it just clears
    // the mapping entry — Delta semantics; ADVICE r13), and the display
    // map is empty again afterwards
    spark.sql(s"ALTER TABLE $cat.default.rb1 RENAME COLUMN v TO amount")
    spark.sql(s"ALTER TABLE $cat.default.rb1 RENAME COLUMN amount TO v")
    assert(spark.table(s"$cat.default.rb1").columns.toSeq == Seq("k", "v"))
    assert(LakeTable.currentRenames(dir).isEmpty,
      "rename-back must clear the mapping entry, not stack a new one")
    assert(spark.table(s"$cat.default.rb1").orderBy("k").collect()
      .map(_.getLong(1)).toSeq == Seq(10L, 20L, 30L, 40L))
    // a rename to a DIFFERENT column's physical name still refuses
    intercept[Exception] { spark.sql(
      s"ALTER TABLE $cat.default.rb1 RENAME COLUMN k TO v") }

    // CHECK through a general conditional MERGE on a renamed table: the
    // staged fresh files carry PHYSICAL names, the constraint is written
    // against LOGICAL ones — the gate must evaluate through the display
    // map (ADVICE r13 medium). Declared AFTER the rename so the
    // constraint names the logical-only name.
    spark.sql(s"ALTER TABLE $cat.default.rb1 RENAME COLUMN v TO amount")
    spark.sql(s"ALTER TABLE $cat.default.rb1 " +
      "SET TBLPROPERTIES ('check'='amount > 0')")
    Seq((1L, -5L), (9L, 90L)).toDF("k", "amount")
      .createOrReplaceTempView("rb_up")
    val e = intercept[Exception] { spark.sql(
      s"""MERGE INTO $cat.default.rb1 AS t USING rb_up AS s
          ON t.k = s.k
          WHEN MATCHED AND s.amount < t.amount THEN UPDATE
            SET amount = s.amount
          WHEN NOT MATCHED THEN INSERT (k, amount)
            VALUES (s.k, s.amount)""") }
    assert(e.getMessage.contains("CHECK") ||
           Option(e.getCause).exists(_.getMessage.contains("CHECK")),
      s"the refusal must name the constraint, not an unresolved " +
      s"column: ${e.getMessage}")
    assert(spark.table(s"$cat.default.rb1").count() == 4L,
      "a refused MERGE publishes nothing")
    // the non-violating shape of the same merge commits
    Seq((1L, 111L), (9L, 90L)).toDF("k", "amount")
      .createOrReplaceTempView("rb_up2")
    spark.sql(s"""MERGE INTO $cat.default.rb1 AS t USING rb_up2 AS s
        ON t.k = s.k
        WHEN MATCHED AND s.amount > t.amount THEN UPDATE
          SET amount = s.amount
        WHEN NOT MATCHED THEN INSERT (k, amount)
          VALUES (s.k, s.amount)""")
    val got = spark.table(s"$cat.default.rb1").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 111L, 2L -> 20L, 3L -> 30L, 4L -> 40L,
                      9L -> 90L), s"post-merge state wrong: $got")
    spark.sql(s"DROP TABLE $cat.default.rb1")
  }

  test("orc round-trip preserves schema and values") {
    val dir = java.nio.file.Files.createTempDirectory("graft_orc").toString
    val src = graft.ops.Tables.customer(spark, sf)
    src.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.schema == src.schema, s"schema drift: ${back.schema}")
    assert(back.count() == src.count())
    val a = src.orderBy("c_custkey").collect().map(_.toString)
    val b = back.orderBy("c_custkey").collect().map(_.toString)
    assert(a.sameElements(b), "ORC round-trip must be lossless")
  }

  test("json lines round-trip") {
    val dir = Files.createTempDirectory("graft_json").toString
    val ev = graft.ops.Tables.events(spark, sf)
      .select("event_id", "user_id", "event_type", "value")
    ev.write.mode("overwrite").json(dir)
    val back = spark.read.schema(ev.schema).json(dir)
    assert(back.count() == ev.count())
    assert(back.select(sum("event_id")).collect().head.getLong(0) ==
           ev.select(sum("event_id")).collect().head.getLong(0))
  }
}
