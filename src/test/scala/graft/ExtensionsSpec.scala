package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{NioLocalFileSystem, NioLocalFs}
import graft.streaming.StreamOps

/** GraftExtensions injection: a session built with `.withExtensions(new
  * GraftExtensions)` (≡ spark.sql.extensions=graft.GraftExtensions) can
  * call graft_dot from SQL, and the native expression agrees with the
  * higher-order-function formulation it replaced. */
class ExtensionsSpec extends AnyFunSuite {

  test("graft_dot is injected and matches the HOF formulation") {
    // getOrCreate only applies extensions when it actually creates a
    // session, so detach any active one first; the SparkContext is shared
    // and must NOT be stopped (sibling suites use it)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    val viaNative = spark.sql(
      "SELECT graft_dot(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D))")
      .collect().head.getDouble(0)
    assert(viaNative == 32.0)
    // agreement with the HOF chain it replaced
    val rows = spark.sql(
      """SELECT graft_dot(a, b) AS nat,
        |  aggregate(zip_with(a, b, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x) AS hof
        |FROM (SELECT array(0.5D, -1.25D, 3.0D, 2.0D) AS a,
        |             array(1.5D, 2.0D, -0.5D, 0.25D) AS b)""".stripMargin)
      .collect().head
    assert(rows.getDouble(0) == rows.getDouble(1), "native vs HOF drift")
    // null safety
    val n = spark.sql("SELECT graft_dot(CAST(NULL AS ARRAY<DOUBLE>), array(1.0D))")
      .collect().head
    assert(n.isNullAt(0))
  }

  test("graft_topk SpaceSaving sketch honors the heavy-hitter guarantees") {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-topk-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    import spark.implicits._
    // zipf-ish stream: item i appears ~1000/i times, forced through
    // multiple partitions so partial buffers really merge
    val rows = (1 to 50).flatMap(i => Seq.fill(1000 / i)(s"item_$i"))
    val df = rows.toDF("tok").repartition(4)
    df.createOrReplaceTempView("toks")
    val exact = rows.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val n = rows.size.toLong
    val capacity = 16
    val sketch = spark.sql(
      s"SELECT inline(graft_topk(tok, $capacity, $capacity)) FROM toks")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // every item with true frequency > N/capacity must be reported
    val mandatory = exact.filter(_._2 > n / capacity).keySet
    val reported = sketch.map(_._1).toSet
    assert(mandatory.subsetOf(reported),
           s"missing guaranteed heavy hitters: ${mandatory -- reported}")
    // est >= true >= est - err for every reported item
    sketch.foreach { case (item, est, err) =>
      val t = exact.getOrElse(item, 0L)
      assert(est >= t && t >= est - err, s"$item: est=$est err=$err true=$t")
    }
    // and the top-3 by estimate are the true top-3 (well separated here)
    val top3 = sketch.sortBy(-_._2).take(3).map(_._1).toSeq
    assert(top3 == Seq("item_1", "item_2", "item_3"), s"got $top3")

    // items beyond the 64 KiB modified-UTF-8 limit must round-trip the
    // shuffle serializer (writeUTF would throw UTFDataFormatException)
    val big = "x" * 100000
    val bigDf = (Seq.fill(8)(big) ++ Seq.fill(3)("small")).toDF("tok").repartition(4)
    bigDf.createOrReplaceTempView("bigtoks")
    val bigSketch = spark.sql("SELECT inline(graft_topk(tok, 4, 2)) FROM bigtoks")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(bigSketch.toMap.get(big).contains(8L),
           s"oversized token lost in serialization: ${bigSketch.map(t => (t._1.take(10), t._2)).toSeq}")
  }

  test("graft_topk state merges across streaming micro-batches (complete mode)") {
    // the heavy-hitters sketch as STREAMING state: a TypedImperativeAggregate
    // buffer must serialize into the state store at each micro-batch boundary
    // and merge with the next batch's partials — the shape a continuous
    // trending-items pipeline runs. Capacity (16) > distinct items (4) keeps
    // SpaceSaving exact here, so the streamed result must EQUAL the exact
    // totals across both batches, proving no state was lost or double-counted.
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-topk-stream-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ms = MemoryStream[String]
    val q = ms.toDF().toDF("tok")
      .groupBy()
      .agg(org.apache.spark.sql.functions.expr("graft_topk(tok, 16, 4)").as("tk"))
      .writeStream.format("memory").queryName("graft_topk_stream")
      .outputMode("complete").start()
    try {
      ms.addData(Seq.fill(5)("alpha") ++ Seq.fill(3)("beta") ++ Seq("gamma"): _*)
      q.processAllAvailable()
      ms.addData(Seq.fill(4)("beta") ++ Seq.fill(2)("delta") ++ Seq("alpha"): _*)
      q.processAllAvailable()
      val got = spark.sql("SELECT inline(tk) FROM graft_topk_stream")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == Map("beta" -> 7L, "alpha" -> 6L, "delta" -> 2L, "gamma" -> 1L),
             s"streamed sketch diverged from exact cross-batch totals: $got")
    } finally q.stop()
  }

  test("graft_exact_pct is bit-identical to Spark's percentile") {
    // r16: the primitive-buffer exact percentile replaced Spark's boxed
    // value→count map in q_agg_mad / q_agg_eqdepth / q_agg_percentile /
    // q_dq_psi — this pin holds the swap to BIT-equality (same sort,
    // same interpolation, same NULL-on-empty), across duplicates, ties,
    // negative values, nulls, group keys, and both scalar and array
    // percentage forms, on an adversarial value set (n and n-1 both
    // non-divisible by common percentage denominators so interpolation
    // actually fires).
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-exact-pct-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    val rnd = new scala.util.Random(41)
    val rows = (1 to 9973).map { i =>
      val g = i % 3
      val v: java.lang.Double =
        if (i % 97 == 0) null
        else if (i % 11 == 0) math.floor(rnd.nextDouble() * 10) // ties
        else rnd.nextDouble() * 2000.0 - 1000.0
      (g, v)
    } :+ ((3, null: java.lang.Double)) // an all-null group → NULL out
    val df = spark.createDataFrame(rows).toDF("g", "v")
    df.createOrReplaceTempView("pct_probe")
    val q =
      """SELECT g,
        |  percentile(v, 0.5) AS sp_med,
        |  graft_exact_pct(v, 0.5) AS gr_med,
        |  percentile(v, array(0.1, 0.25, 0.333, 0.5, 0.77, 0.9, 1.0)) AS sp_arr,
        |  graft_exact_pct(v, array(0.1D, 0.25D, 0.333D, 0.5D, 0.77D, 0.9D, 1.0D)) AS gr_arr,
        |  percentile(v, 0.0) AS sp_min, graft_exact_pct(v, 0.0D) AS gr_min
        |FROM pct_probe GROUP BY g""".stripMargin
    spark.sql(q).collect().foreach { r =>
      val g = r.getInt(0)
      assert(java.util.Objects.equals(r.get(1), r.get(2)),
        s"scalar median diverged for group $g: ${r.get(1)} vs ${r.get(2)}")
      assert(java.util.Objects.equals(r.get(3), r.get(4)),
        s"array percentiles diverged for group $g: ${r.get(3)} vs ${r.get(4)}")
      assert(java.util.Objects.equals(r.get(5), r.get(6)),
        s"p0 diverged for group $g: ${r.get(5)} vs ${r.get(6)}")
      if (g == 3) assert(r.get(2) == null,
        "all-null group must evaluate to NULL, like percentile")
    }
  }

  test("graft_l2 is bit-identical to the aggregate(sequence(...)) HOF") {
    // r16: the native range-L2 replaced the interpreted HOF fold in
    // q_vec_pq / q_sim_ivfpq — this pin holds the swap to BIT-equality
    // (same left-to-right FP op order) on random vectors, including
    // expression-valued subspace bounds and null propagation.
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-l2-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    val rnd = new scala.util.Random(43)
    val rows = (1 to 500).map { i =>
      (i % 8, Array.fill(64)(rnd.nextDouble() * 2 - 1),
              Array.fill(64)(rnd.nextDouble() * 2 - 1))
    }
    spark.createDataFrame(rows).toDF("s", "a", "b")
      .createOrReplaceTempView("l2_probe")
    val q =
      """SELECT
        |  graft_l2(a, b, 1, 64) AS nat_full,
        |  aggregate(sequence(1, 64), CAST(0.0 AS DOUBLE), (acc, i) ->
        |    acc + (element_at(a, i) - element_at(b, i))
        |        * (element_at(a, i) - element_at(b, i))) AS hof_full,
        |  graft_l2(a, b, s*8 + 1, s*8 + 8) AS nat_sub,
        |  aggregate(sequence(s*8 + 1, s*8 + 8), CAST(0.0 AS DOUBLE), (acc, i) ->
        |    acc + (element_at(a, i) - element_at(b, i))
        |        * (element_at(a, i) - element_at(b, i))) AS hof_sub
        |FROM l2_probe""".stripMargin
    spark.sql(q).collect().foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1),
        s"full-range L2 drift: ${r.getDouble(0)} vs ${r.getDouble(1)}")
      assert(r.getDouble(2) == r.getDouble(3),
        s"subspace L2 drift: ${r.getDouble(2)} vs ${r.getDouble(3)}")
    }
    // hi < lo ≡ empty sequence ≡ 0.0; null array → NULL
    val edge = spark.sql(
      """SELECT graft_l2(array(1.0D), array(2.0D), 2, 1),
        |  graft_l2(CAST(NULL AS ARRAY<DOUBLE>), array(1.0D), 1, 1)"""
        .stripMargin).collect().head
    assert(edge.getDouble(0) == 0.0)
    assert(edge.isNullAt(1))
  }

  test("the installed local file system forks no chmod, readlink or ls " +
       "across stream epochs into a lake table and a change-feed read") {
    import jdk.jfr.consumer.RecordingStream
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-localfs-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    assert(FileSystem.get(URI.create("file:///"),
      spark.sparkContext.hadoopConfiguration).isInstanceOf[NioLocalFileSystem])
    val dir = Files.createTempDirectory("graft_localfs_lake_").toString
    val cpW = Files.createTempDirectory("graft_localfs_cpw_").toString
    val cpR = Files.createTempDirectory("graft_localfs_cpr_").toString
    def ev(id: Long, hour: Int, user: Long, kind: String) = StreamOps.Event(
      id, java.sql.Timestamp.valueOf(f"2024-01-01 $hour%02d:10:00"), user,
      kind, 1.0, "")

    val commands = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val recording = new RecordingStream()
    recording.enable("jdk.ProcessStart")
    recording.onEvent("jdk.ProcessStart",
      e => commands.add(e.getString("command")))
    recording.startAsync()
    try {
      val ms = MemoryStream[StreamOps.Event]
      val w = StreamOps.purchaseAfterClick(ms.toDF())
        .writeStream.format("graft-lake")
        .option("path", dir).option("checkpointLocation", cpW).start()
      try (0 until 3).foreach { b =>
        ms.addData(ev(2L * b, 10 + b, b.toLong, "click"),
                   ev(2L * b + 1, 10 + b, b.toLong, "purchase"))
        w.processAllAvailable()
      } finally w.stop()
      val r = spark.readStream.format("graft-lake").option("path", dir).load()
        .writeStream.format("memory").queryName("graft_localfs_feed")
        .option("checkpointLocation", cpR).start()
      try r.processAllAvailable() finally r.stop()
      assert(spark.table("graft_localfs_feed")
        .filter($"_change_type" === "insert").count() == 3L)
      // a marker start of this test's own: once its event is delivered,
      // the events of every earlier start have been too
      new ProcessBuilder("true").start().waitFor()
      val end = System.currentTimeMillis() + 30000L
      while (!commands.contains("true") && System.currentTimeMillis() < end)
        Thread.sleep(20)
    } finally recording.close()
    assert(commands.contains("true"), "the recording missed the marker")
    val forks = commands.asScala.toSeq.filter(c =>
      Set("chmod", "readlink", "ls")(c.split(" ")(0).split("/").last))
    assert(forks.isEmpty, s"${forks.size} forks, e.g. ${forks.take(3)}")
  }

  test("the local file system behaves as stock Hadoop: modes after " +
       "create and mkdirs, rename over a file and its .crc, missing paths, " +
       "symlinks") {
    assert(NioLocalFs.install())
    assert(new Configuration().get("fs.file.impl")
      == classOf[NioLocalFileSystem].getName)
    assert(new Configuration().get("fs.AbstractFileSystem.file.impl")
      == classOf[NioLocalFs].getName)
    // explicit values win over the installed default resource
    def conf(fs: Class[_], afs: Class[_]): Configuration = {
      val c = new Configuration()
      c.set("fs.file.impl", fs.getName)
      c.set("fs.AbstractFileSystem.file.impl", afs.getName)
      c
    }
    val root = Files.createTempDirectory("graft_localfs_sem_")
    /** Runs every probe on one side and describes what it saw, with the
      * side's own directory written as `<d>`. */
    def probe(side: String, c: Configuration): Seq[String] = {
      val d = root.resolve(side)
      Files.createDirectories(d)
      val fs = FileSystem.newInstance(URI.create("file:///"), c)
      val fc = FileContext.getFileContext(URI.create("file:///"), c)
      val expect = if (side == "stock") (classOf[LocalFileSystem],
        classOf[LocalFs]) else (classOf[NioLocalFileSystem], classOf[NioLocalFs])
      assert(fs.getClass == expect._1)
      assert(fc.getDefaultFileSystem.getClass == expect._2)
      def p(n: String) = new Path(d.resolve(n).toString)
      def mode(n: String) = n + " " + PosixFilePermissions.toString(
        Files.getPosixFilePermissions(d.resolve(n)))
      def write(n: String, body: String): Unit = {
        val out = fc.create(p(n), java.util.EnumSet.of(CreateFlag.CREATE,
          CreateFlag.OVERWRITE), Options.CreateOpts.createParent())
        try out.write(body.getBytes(UTF_8)) finally out.close()
      }
      def read(in: java.io.InputStream): String =
        try new String(in.readAllBytes(), UTF_8) finally in.close()
      def status(s: FileStatus): String =
        Seq(s.getPath.toUri.getPath, s.isFile, s.isDirectory, s.isSymlink,
            s.getLen, if (s.isSymlink) s.getSymlink.toUri.getPath else "")
          .mkString(" ").replace(d.toString, "<d>")
      try {
        fs.create(p("a")).close()
        fs.mkdirs(p("b/c"))
        fs.mkdirs(p("e"), new FsPermission("750"))
        fs.setPermission(p("a"), new FsPermission("604"))
        write("f", "ff")
        fc.mkdir(p("g/h"), FsPermission.getDirDefault, true)
        val modes = Seq("a", ".a.crc", "b", "b/c", "e", "f", ".f.crc", "g",
                        "g/h").map(mode)
        // rename(OVERWRITE) replaces the target and moves its sidecar
        write("old", "the old and longer body")
        write("new", "new")
        fc.rename(p("new"), p("old"), Options.Rename.OVERWRITE)
        val renamed = Seq(read(fc.open(p("old")))) ++ Seq("new", ".new.crc",
          "old", ".old.crc").map(n => s"$n ${Files.exists(d.resolve(n))}")
        // the moved sidecar is still verified on a FileSystem-API read
        // (a FileContext read of this short file is not, in stock Hadoop
        // too: its outcome is compared, not asserted)
        Files.write(d.resolve("old"), "NEW".getBytes(UTF_8))
        intercept[ChecksumException](read(fs.open(p("old"))))
        val corrupt = scala.util.Try(read(fc.open(p("old")))).toString
          .replace(d.toString, "<d>")
        val missing = p("missing")
        intercept[FileNotFoundException](fs.getFileStatus(missing))
        intercept[FileNotFoundException](fs.getFileLinkStatus(missing))
        intercept[FileNotFoundException](fc.getFileStatus(missing))
        intercept[FileNotFoundException](fc.getFileLinkStatus(missing))
        intercept[FileNotFoundException](fs.open(missing))
        Files.createSymbolicLink(d.resolve("link"), d.resolve("f"))
        Files.createSymbolicLink(d.resolve("dangling"), d.resolve("nothing"))
        val links = Seq("f", "b", "link", "dangling").flatMap { n =>
          Seq(status(fs.getFileLinkStatus(p(n))),
              status(fc.getFileLinkStatus(p(n))))
        }
        modes ++ renamed ++ Seq(corrupt) ++ links
      } finally fs.close()
    }
    val stock = probe("stock", conf(classOf[LocalFileSystem], classOf[LocalFs]))
    val nio = probe("nio", conf(classOf[NioLocalFileSystem], classOf[NioLocalFs]))
    assert(nio == stock)
    assert(stock.contains("e rwxr-x---") && stock.contains("a rw----r--"))
    assert(stock.contains("new") && stock.contains(".old.crc true") &&
           stock.contains(".new.crc false"))
    Seq("link", "dangling").foreach { n =>
      assert(stock.count(l => l.startsWith(s"<d>/$n false false true ")) == 2,
             stock.mkString("\n"))
    }
  }
}
