package graft

import graft.ops.LlmOps

/** Scale-growth benchmark: measures the banded dedup/similarity family on
  * Synth corpora at 1×/3×/10× a base size and prints one JSON line per
  * operator with (rows, sec) per scale — the empirical backing for the
  * "survives 100×" claims BASELINE.md records (GrowthSpec asserts the
  * same curves on smaller corpora inside `sbt test`).
  *
  * The exact all-pairs baseline (cosineDupPairs) runs only at 1× and 3×:
  * its point here is the CONTRAST — ~9× work growth for 3× data — and at
  * 10× it would dominate the whole run, which is exactly the claim.
  *
  * Env: SPARK_GRAFT_GROWTH_DOCS (base docs, default 5000),
  * SPARK_GRAFT_GROWTH_VECS (base vectors, default 2000),
  * SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_GROWTH_DIR
  * (default /tmp/graft_growth). */
object GrowthBench {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val baseDocs = sys.env.getOrElse("SPARK_GRAFT_GROWTH_DOCS", "5000").toLong
    val baseVecs = sys.env.getOrElse("SPARK_GRAFT_GROWTH_VECS", "2000").toLong
    val outDir = sys.env.getOrElse("SPARK_GRAFT_GROWTH_DIR", "/tmp/graft_growth")
    val spark = Sessions.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")

    // iteration switch: measure only the lake live-file axis (the doc
    // dedup curves take ~15 min and are independent)
    val lakeOnly = sys.env.contains("SPARK_GRAFT_GROWTH_LAKE_ONLY")

    val scales = Seq(1L, 3L, 10L)
    // the three flagship banded shapes additionally run at 30x/100x: the
    // 2x-vs-baseline bound is a claim about 100x, and a super-linear tail
    // (bucket-cap erosion, band skew) would first appear past 10x where
    // the 1x/3x/10x curves cannot see it (r6 verdict ask #5)
    val deepScales = Seq(1L, 3L, 10L, 30L, 100L)
    for (k <- if (lakeOnly) Seq.empty[Long] else deepScales)
      Synth.write(spark, s"$outDir/x$k", baseDocs * k,
                  // embeddings are only consumed at 1x/3x (the exact
                  // cosine contrast) — skip the 30x/100x vector volumes
                  if (k <= 10L) baseVecs * k else 0L, dims = 256)

    def docs(k: Long) = spark.read.parquet(s"$outDir/x$k/documents.parquet")
    def embs(k: Long) = spark.read.parquet(s"$outDir/x$k/embeddings.parquet")

    // warm codegen/JVM once so x1 isn't charged the startup cost
    if (!lakeOnly) {
      LlmOps.lshDedupPairs(docs(1), 0.5).count()
      spark.catalog.clearCache()
    }

    val ops: Seq[(String, Seq[Long], Long => Long)] = if (lakeOnly) Seq.empty else Seq(
      ("lsh_candidates", scales, k => LlmOps.lshDedupPairs(docs(k), 0.0).count()),
      ("lsh_dedup", deepScales, k => LlmOps.lshDedupPairs(docs(k), 0.5).count()),
      ("minhash_pairs", deepScales, k => LlmOps.minhashPairs(docs(k)).count()),
      ("containment", deepScales,
        k => LlmOps.containmentPairs(docs(k), 0.5).count()),
      ("jaccard_near", scales, k => LlmOps.jaccardPairs(docs(k), 0.5).count()),
      // CDC chunking is aggregate-only (no pair generation), so its work
      // is Σ chars by construction — measured to keep the claim honest
      ("cdc_chunks", scales,
        k => LlmOps.cdcChunkDedup(docs(k), 8, 64).count()),
      ("cdc_chunks_fast", scales,
        k => LlmOps.cdcChunkDedupFast(docs(k), 8, 64).count()),
      ("cosine_dup_exact", Seq(1L, 3L),
        k => LlmOps.cosineDupPairs(embs(k), 0.45).count()),
    )
    def r3(v: Double): Double = math.round(v * 1000.0) / 1000.0
    val lines = ops.map { case (name, ks, f) =>
      val cells = ks.map { k =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val n = f(k)
        val sec = r3((System.nanoTime() - t0) / 1e9)
        s""""x$k":{"rows":$n,"sec":$sec}"""
      }
      s""""$name":{${cells.mkString(",")}}"""
    }

    // LIVE-FILE-COUNT axis (r15, verdict ask #1): per-MERGE commit
    // latency and manifest BYTES at 1x/10x/100x live files with FIXED
    // total rows AND a FIXED touched set — the empirical backing for
    // the incremental manifest log. Before r15 every commit serialized
    // the full live file list (O(live files) metadata per commit);
    // with ADD/REMOVE delta manifests + periodic checkpoints, a
    // band-local merge's manifest must stay O(touched) no matter how
    // many files the table holds. The fixture holds ~5 files per band
    // and scales the BAND COUNT, so a one-band merge touches ~5 files
    // at every scale while the live set grows 100x. Three single-band
    // merges per scale; median commit latency + median DELTA manifest
    // size (checkpoint commits are full by design — that is the
    // amortization — and land on their own cadence).
    import graft.sources.LakeTable
    import org.apache.spark.sql.functions.col
    val fileCells = Seq(50, 500, 5000).map { f =>
      val dir = s"$outDir/lakefiles_$f"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val rows = 200000L
      val bands = math.max(10, f / 5)
      // round-robin repartition: every partition holds every band, so
      // the layout write stages ~5 files per band ≈ f files total
      val df = spark.range(rows)
        .withColumn("band", col("id") % bands)
        .withColumn("v", col("id") * 2L)
        .repartition(5)
      require(LakeTable.commit(spark, dir, df, Some("band"),
        Seq("id"))(_ => None) == Right(1L))
      val nFiles = LakeTable.currentFiles(dir).size
      val merges = (1 to 3).map { i =>
        val upsert = spark.range(0L, rows)
          .withColumn("band", col("id") % bands)
          .withColumn("v", col("id") * 3L)
          .filter(col("band") === i).limit(50)
          .coalesce(1)
        val t0 = System.nanoTime()
        val r = LakeTable.mergePartial(spark, dir, upsert,
          Seq("id"), "band")(_ => None)
        val sec = r3((System.nanoTime() - t0) / 1e9)
        val v = r.toOption.get
        val mBytes = java.nio.file.Files.size(
          java.nio.file.Paths.get(dir, s"manifest-v$v.json"))
        (sec, mBytes)
      }
      val medSec = merges.map(_._1).sorted.apply(1)
      val medBytes = merges.map(_._2).sorted.apply(1)
      s""""f$f":{"files":$nFiles,"merge_sec":$medSec,""" +
        s""""manifest_bytes":$medBytes}"""
    }

    println(s"""{"metric":"growth","base_docs":$baseDocs,"base_vecs":$baseVecs,""" +
      s""""ops":{${lines.mkString(",")}},""" +
      s""""lake_files":{${fileCells.mkString(",")}}}""")
    spark.stop()
  }
}
