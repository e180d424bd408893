package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** ScalaCheck-generated inputs (fixed seed → reproducible) evaluated in one
  * DataFrame pass, pinning the exact arithmetic identities the oracle
  * parity relies on: the codegen'd graft_dot vs a left-to-right reference
  * fold, the Det rounding helper vs its scalar spelling, and the
  * little-endian md5-nibble fold used by q_dedup_simhash. */
class PropertySpec extends SparkTestBase {

  private def samples[A](g: Gen[A], n: Int): List[A] =
    Gen.listOfN(n, g).apply(Gen.Parameters.default, Seed(42L))
      .getOrElse(sys.error("gen failure"))

  test("graft_dot == left-to-right fold on 200 scalacheck vectors (exact)") {
    import spark.implicits._
    graft.GraftFunctions.register(spark)
    val genVec = Gen.listOfN(64, Gen.choose(-10.0, 10.0))
    val pairs = samples(Gen.zip(genVec, genVec), 200)
    val rows = pairs.toDF("a", "b").selectExpr("graft_dot(a, b)").collect()
    rows.zip(pairs).foreach { case (r, (a, b)) =>
      val expect = a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
      assert(r.getDouble(0) == expect, s"dot drift on a=$a b=$b")
    }
  }

  test("Det rounding == floor(x*10^n + 0.5)/10^n scalar spelling (exact)") {
    import spark.implicits._
    val xs = samples(Gen.choose(-1e6, 1e6), 500)
    val got = xs.toDF("x")
      .select(graft.ops.Det.r4(col("x")).as("r4"),
              graft.ops.Det.r6(col("x")).as("r6"))
      .collect()
    got.zip(xs).foreach { case (r, x) =>
      assert(r.getDouble(0) == math.floor(x * 1e4 + 0.5) / 1e4, s"r4($x)")
      assert(r.getDouble(1) == math.floor(x * 1e6 + 0.5) / 1e6, s"r6($x)")
    }
  }

  test("packSequences: scalacheck docs pack gaplessly with in-bounds offsets") {
    import spark.implicits._
    import graft.ops.LlmOps
    val ctx = 64
    val genDoc = for {
      lang <- Gen.oneOf("en", "de", "fr")
      n <- Gen.choose(1, 40) // some docs longer than... shorter than ctx
      toks <- Gen.listOfN(n, Gen.alphaLowerStr.map(s => if (s.isEmpty) "x" else s.take(3)))
    } yield (lang, toks.mkString(" "))
    val docs = samples(genDoc, 300).zipWithIndex
      .map { case ((lang, text), i) => (i.toLong, lang, text) }
      .toDF("doc_id", "lang", "text")
    val out = LlmOps.packSequences(docs, ctx).collect()
      .map(r => (r.getString(1), r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    out.groupBy(_._1).foreach { case (lang, rows) =>
      val ordered = rows.sortBy(_._2)
      var cum = 0L
      ordered.foreach { case (_, id, n, bin, off) =>
        assert(bin == cum / ctx && off == cum % ctx,
          s"$lang/$id: expected start $cum -> (${cum / ctx}, ${cum % ctx}), got ($bin, $off)")
        assert(off >= 0 && off < ctx, s"$lang/$id: offset $off out of bounds")
        cum += n
      }
    }
  }

  test("chunkDocs: scalacheck docs — full coverage, exact overlap, reassembly") {
    import spark.implicits._
    import graft.ops.LlmOps
    val (window, stride) = (16, 12)
    val genDoc = for {
      n <- Gen.choose(1, 80)
      toks <- Gen.listOfN(n, Gen.choose(0, 999).map(i => s"w$i"))
    } yield toks.mkString(" ")
    val docs = samples(genDoc, 150).zipWithIndex
      .map { case (text, i) => (i.toLong, text) }
    val out = LlmOps.chunkDocs(docs.toDF("doc_id", "text"), window, stride)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .groupBy(_._1)
    docs.foreach { case (id, text) =>
      val toks = text.split(" ", -1)
      val chunks = out(id).sortBy(_._2)
      // stride-th token of each chunk starts the next: reassembling the
      // first `stride` tokens of every chunk plus the tail reproduces the
      // doc exactly (full coverage, exact window-stride overlap)
      val rebuilt = chunks.flatMap { case (_, _, _, c) =>
        c.split(" ", -1).take(stride) }.take(toks.length) ++
        chunks.last._4.split(" ", -1).drop(stride)
      assert(rebuilt.toSeq == toks.toSeq, s"doc $id: coverage gap")
      chunks.foreach { case (_, _, n, c) =>
        assert(c.split(" ", -1).length == n && n <= window,
          s"doc $id: chunk size drift")
      }
    }
  }

  test("LSH estimate family: q_dedup_lsh pairs ⊆ band candidates, est in [0,1]") {
    import graft.ops.LlmOps
    val docs = graft.ops.Tables.documents(spark, sf)
    val cand = LlmOps.minhashPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val est = LlmOps.lshDedupPairs(docs, 0.5).collect()
    est.foreach { r =>
      val pair = (r.getLong(0), r.getLong(1))
      assert(cand.contains(pair), s"$pair estimated but never banded")
      val e = r.getDouble(2)
      // banding admits the pair via one agreeing band (4 of 16 sigs), the
      // 0.5 filter then requires at least 8
      assert(e >= 0.5 && e <= 1.0, s"$pair est $e out of range")
    }
  }

  test("z-order interleave: exact de-interleave round-trip and monotonicity") {
    import spark.implicits._
    val gen = Gen.zip(Gen.choose(0L, 65535L), Gen.choose(0L, 65535L))
    val pts = samples(gen, 300)
    // round-trip: unpicking even/odd bits reconstructs both inputs exactly
    // (the key property file-skipping relies on: the curve is a BIJECTION,
    // so footer min/max z-ranges correspond to real key-plane rectangles)
    val rows = pts.toDF("x", "y")
      .withColumn("z", graft.ops.Layout.zval("x", "y"))
      .selectExpr("x", "y", "z",
        "aggregate(sequence(0, 15), 0L, (acc, i) -> acc + " +
          "shiftleft(shiftright(z, 2 * i) & 1, i)) AS x2",
        "aggregate(sequence(0, 15), 0L, (acc, i) -> acc + " +
          "shiftleft(shiftright(z, 2 * i + 1) & 1, i)) AS y2")
      .collect()
    rows.foreach { r =>
      assert(r.getLong(3) == r.getLong(0) && r.getLong(4) == r.getLong(1),
        s"de-interleave drift at (${r.getLong(0)}, ${r.getLong(1)})")
    }
    // monotone in the dominance order: growing either coordinate (the
    // other fixed or growing) never decreases z
    val zs = rows.map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    for (((x1, y1), z1) <- zs; ((x2, y2), z2) <- zs
         if x1 <= x2 && y1 <= y2)
      assert(z1 <= z2, s"z not monotone: ($x1,$y1)->$z1 vs ($x2,$y2)->$z2")
  }

  test("conv(reverse(md5 prefix)) == little-endian nibble fold (simhash h)") {
    import spark.implicits._
    val toks = samples(Gen.alphaNumStr.suchThat(_.nonEmpty), 300)
    val rows = toks.toDF("tok").selectExpr(
      "CAST(conv(reverse(substring(md5(tok), 1, 8)), 16, 10) AS BIGINT) AS folded",
      // the per-digit spelling the oracle uses
      "aggregate(sequence(1, 8), 0L, (acc, j) -> acc + " +
        "CAST((instr('0123456789abcdef', substring(md5(tok), j, 1)) - 1) AS BIGINT)" +
        " * shiftleft(1L, CAST(4 * (j - 1) AS INT)))  AS digits").collect()
    rows.zip(toks).foreach { case (r, t) =>
      assert(r.getLong(0) == r.getLong(1), s"nibble-fold drift on '$t'")
    }
  }

  test("equal-depth bins partition the value range: disjoint, ordered, complete") {
    val bins = SparkEntry.queries("q_agg_eqdepth")(spark, sf).collect()
    val n = bins.map(_.getLong(1)).sum
    val total = graft.ops.Tables.lineitem(spark, sf).count()
    assert(n == total, "every row must land in exactly one bin")
    assert(bins.map(_.getLong(0)).toSeq == bins.indices.map(_.toLong),
      "bins must be 0..k dense")
    // value ranges must be ordered and non-overlapping across bins
    bins.sliding(2).foreach { case Array(lo, hi) =>
      assert(lo.getDouble(3) <= hi.getDouble(2),
        s"bin ranges overlap: ${lo.getDouble(3)} > ${hi.getDouble(2)}")
    case _ => ()
    }
    // roughly equal depth: no bin more than 2x the ideal share (ties and
    // boundary rounding cause drift, not imbalance)
    assert(bins.map(_.getLong(1)).max <= 2 * total / 10 + 1)
  }

  test("int8 quantizer is monotone per dimension and exact at the grid edges") {
    // monotone: x <= y per-dimension implies code(x) <= code(y) — the
    // property that makes quantized comparisons order-safe. Exact edges:
    // the per-dimension min maps to code 0 and the max to 255, so the
    // code range is fully used.
    val e = graft.ops.Tables.embeddings(spark, sf)
      .select(col("vec_id"),
              transform(col("embedding"), x => x.cast("double")).as("v"))
    val st = e.select(posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("pos").agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
      .collect().map(r => (r.getInt(0), (r.getDouble(1), r.getDouble(2))))
      .toMap
    def code(x: Double, lo: Double, hi: Double): Long =
      math.max(0L, math.min(255L,
        math.floor((x - lo) / (hi - lo) * 255.0 + 0.5).toLong))
    st.foreach { case (_, (lo, hi)) =>
      assert(code(lo, lo, hi) == 0L && code(hi, lo, hi) == 255L)
      val xs = (0 to 50).map(i => lo + (hi - lo) * i / 50.0)
      xs.sliding(2).foreach { case Seq(a, b) =>
        assert(code(a, lo, hi) <= code(b, lo, hi), "quantizer must be monotone")
      case _ => ()
      }
    }
  }

  test("sweepline == brute-force max overlap on scalacheck interval sets") {
    import spark.implicits._
    val genIv = for {
      k <- Gen.choose(0, 3)
      s <- Gen.choose(0L, 100L)
      len <- Gen.choose(1L, 30L)
    } yield (k, s, s + len)
    val ivs = samples(genIv, 300).zipWithIndex
      .map { case ((k, s, e), id) => (k, id.toLong, s, e) }
    val got = graft.ops.Windows.sweepline(
        ivs.toDF("k", "id", "s", "e"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    // brute force: half-open [s,e) concurrency evaluated at every start
    ivs.groupBy(_._1).foreach { case (k, xs) =>
      val peaks = xs.map { case (_, _, t, _) =>
        (t, xs.count { case (_, _, s, e) => s <= t && t < e })
      }
      val bfPeak = peaks.map(_._2).max
      val bfAt = peaks.filter(_._2 == bfPeak).map(_._1).min
      val (gp, gat) = got(k)
      assert(gp == bfPeak, s"key $k: peak $gp != brute $bfPeak")
      assert(gat == bfAt, s"key $k: peak_at $gat != brute $bfAt")
    }
  }

  test("KMV below capacity keeps every distinct item (estimate turns exact)") {
    import spark.implicits._
    val gen = for {
      g <- Gen.oneOf("a", "b")
      item <- Gen.choose(0L, 40L) // <= 41 distinct per group, under k=64
    } yield (g, item)
    val rows = samples(gen, 400)
    val dv = rows.toDF("grp_", "item_").distinct()
    val kept = graft.ops.Approx.kmvKept(dv, 64)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val truth = rows.distinct.toSet
    assert(kept == truth,
      "below k the sketch must retain the exact distinct set")
  }

  test("CdcChunkWalk == scalar reference on scalacheck unicode docs") {
    // the expression walks BYTE offsets while the SQL spelling (and the
    // DuckDB oracle) speak CHARACTER positions — random multibyte text
    // is exactly where a char→byte mapping slip would show. Reference:
    // a direct String-based reimplementation of the normalized walk.
    import spark.implicits._
    graft.GraftFunctions.register(spark)
    val (w, m, mn, mx) = (4, 8, 6, 24) // small params → dense walks
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def reference(t: String): Seq[(String, Long)] = {
      val n = t.codePointCount(0, t.length)
      def sub(from: Int, len: Int): String = { // 1-based char pos
        val s = t.offsetByCodePoints(0, from - 1)
        val e = t.offsetByCodePoints(s, math.min(len, n - from + 1))
        t.substring(s, e)
      }
      if (n < w) return Seq.empty
      def isCut(i: Int): Boolean =
        java.lang.Long.parseLong(md5hex(sub(i, w)).take(8), 16) % m == 0
      val cuts = scala.collection.mutable.ArrayBuffer(1)
      var done = false
      while (!done) {
        val b = cuts.last
        val cand = (math.max(b + mn, 2) to math.min(b + mx, n - w + 1))
          .find(isCut)
        val nxt = cand.getOrElse(b + mx)
        if (nxt <= n) cuts += nxt else done = true
      }
      cuts.toSeq.zip(cuts.toSeq.drop(1) :+ (n + 1)).map { case (s, e) =>
        (md5hex(sub(s, e - s)), (e - s).toLong)
      }
    }
    // ASCII, CJK, emoji (surrogate pairs), combining marks, mixed
    val genChar = Gen.frequency(
      6 -> Gen.alphaNumChar.map(_.toString),
      2 -> Gen.oneOf("日", "本", "語", "中", "文").map(identity[String]),
      1 -> Gen.oneOf("🎉", "🎊", "✓", "é", "é"),
      1 -> Gen.const(" "))
    val genDoc = Gen.choose(0, 120)
      .flatMap(k => Gen.listOfN(k, genChar).map(_.mkString))
    val docs = samples(genDoc, 150).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val got = docs.toDF("doc_id", "text")
      .filter(length(col("text")) >= w)
      .select(col("doc_id"),
        explode(expr(s"graft_cdc_chunks(text, $w, $m, $mn, $mx, false)"))
          .as("z"))
      .select(col("doc_id"), col("z.ch"), col("z.cl"))
      .collect()
      .groupBy(_.getLong(0))
      .map { case (k, rs) =>
        k -> rs.map(r => (r.getString(1), r.getLong(2))).toSeq }
    docs.foreach { case (id, t) =>
      val exp = reference(t)
      if (exp.nonEmpty) {
        assert(got.getOrElse(id, Seq.empty) == exp,
          s"doc $id mismatch on text ${t.take(60)}…:\n" +
          s" got ${got.getOrElse(id, Seq.empty)}\n exp $exp")
        assert(exp.map(_._2).sum == t.codePointCount(0, t.length).toLong,
          s"doc $id: chunks must tile the text exactly")
      } else assert(!got.contains(id))
    }
  }

  test("typed file pruning is SOUND on scalacheck value sets (never drops a match)") {
    // the data-skipping contract: a file whose recorded [min, max] stat
    // rejects a filter must contain NO row satisfying it. Generate a
    // value SET (= the file's contents), derive its true min/max stat
    // exactly as statsEntries encodes them, generate random filter trees,
    // and assert the contrapositive: some value matches ⇒ mightMatch.
    import org.apache.spark.sql.sources._
    import graft.sources.{LakeRelation, LakeTable}

    def genFilter[A](genV: Gen[A]): Gen[Filter] = {
      val leaf = for {
        v <- genV
        k <- Gen.choose(0, 5)
      } yield (k: @unchecked) match {
        case 0 => EqualTo("c", v)
        case 1 => GreaterThan("c", v)
        case 2 => GreaterThanOrEqual("c", v)
        case 3 => LessThan("c", v)
        case 4 => LessThanOrEqual("c", v)
        case 5 => In("c", Array[Any](v))
      }
      for {
        a <- leaf; b <- leaf; k <- Gen.choose(0, 3)
      } yield (k: @unchecked) match {
        case 0 => a
        case 1 => And(a, b)
        case 2 => Or(a, b)
        case 3 => a
      }
    }
    def evalL(f: Filter, v: Long): Boolean = f match {
      case EqualTo(_, x) => v == x.asInstanceOf[Number].longValue
      case GreaterThan(_, x) => v > x.asInstanceOf[Number].longValue
      case GreaterThanOrEqual(_, x) => v >= x.asInstanceOf[Number].longValue
      case LessThan(_, x) => v < x.asInstanceOf[Number].longValue
      case LessThanOrEqual(_, x) => v <= x.asInstanceOf[Number].longValue
      case In(_, xs) => xs.exists(x => v == x.asInstanceOf[Number].longValue)
      case And(a, b) => evalL(a, v) && evalL(b, v)
      case Or(a, b) => evalL(a, v) || evalL(b, v)
      case _ => true
    }
    def evalS(f: Filter, v: String): Boolean = f match {
      case EqualTo(_, x) => v == x.asInstanceOf[String]
      case GreaterThan(_, x) => v > x.asInstanceOf[String]
      case GreaterThanOrEqual(_, x) => v >= x.asInstanceOf[String]
      case LessThan(_, x) => v < x.asInstanceOf[String]
      case LessThanOrEqual(_, x) => v <= x.asInstanceOf[String]
      case In(_, xs) => xs.exists(x => v == x.asInstanceOf[String])
      case StringStartsWith(_, p) => v.startsWith(p)
      case And(a, b) => evalS(a, v) && evalS(b, v)
      case Or(a, b) => evalS(a, v) || evalS(b, v)
      case _ => true
    }

    // LONG domain: values and filter constants from an overlapping range
    val genLongSet = Gen.nonEmptyListOf(Gen.choose(-50L, 50L))
    val longCases = samples(Gen.zip(genLongSet, genFilter(Gen.choose(-60L, 60L))), 400)
    longCases.foreach { case (vs, f) =>
      val stat = LakeTable.ColStat('L', vs.min.toString, vs.max.toString)
      val pruned = !LakeRelation.mightMatch(f, "c", stat)
      if (pruned)
        assert(!vs.exists(evalL(f, _)),
          s"UNSOUND prune: $f dropped a file containing " +
          s"${vs.filter(evalL(f, _))} (stat $stat)")
    }

    // STRING domain: short strings over a 3-letter alphabet (forces
    // prefix relations and ties), incl. the StartsWith shape; stats are
    // URL-ENCODED exactly as the manifest records them
    val genStr = for {
      n <- Gen.choose(0, 4)
      cs <- Gen.listOfN(n, Gen.oneOf('a', 'b', '.'))
    } yield cs.mkString
    val genSFilter = Gen.oneOf(
      genFilter[Any](genStr.map(identity)),
      genStr.map(p => StringStartsWith("c", p): Filter))
    val strCases = samples(
      Gen.zip(Gen.nonEmptyListOf(genStr), genSFilter), 400)
    strCases.foreach { case (vs, f) =>
      val stat = LakeTable.ColStat('S',
        LakeTable.encodeStatString(vs.min),
        LakeTable.encodeStatString(vs.max))
      val pruned = !LakeRelation.mightMatch(f, "c", stat)
      if (pruned)
        assert(!vs.exists(evalS(f, _)),
          s"UNSOUND prune: $f dropped a file containing " +
          s"${vs.filter(evalS(f, _))} (stat $stat)")
    }

    // DOUBLE domain
    def evalD(f: Filter, v: Double): Boolean = f match {
      case EqualTo(_, x) => v == x.asInstanceOf[Number].doubleValue
      case GreaterThan(_, x) => v > x.asInstanceOf[Number].doubleValue
      case GreaterThanOrEqual(_, x) => v >= x.asInstanceOf[Number].doubleValue
      case LessThan(_, x) => v < x.asInstanceOf[Number].doubleValue
      case LessThanOrEqual(_, x) => v <= x.asInstanceOf[Number].doubleValue
      case In(_, xs) => xs.exists(x => v == x.asInstanceOf[Number].doubleValue)
      case And(a, b) => evalD(a, v) && evalD(b, v)
      case Or(a, b) => evalD(a, v) || evalD(b, v)
      case _ => true
    }
    val dblCases = samples(
      Gen.zip(Gen.nonEmptyListOf(Gen.choose(-5.0, 5.0)),
              genFilter(Gen.choose(-6.0, 6.0))), 400)
    dblCases.foreach { case (vs, f) =>
      val stat = LakeTable.ColStat('D', vs.min.toString, vs.max.toString)
      val pruned = !LakeRelation.mightMatch(f, "c", stat)
      if (pruned)
        assert(!vs.exists(evalD(f, _)),
          s"UNSOUND prune: $f dropped a file containing " +
          s"${vs.filter(evalD(f, _))} (stat $stat)")
    }

    // DATE domain rides the long ('A' = epoch days) path with
    // java.sql.Date filter values — pin the conversion itself
    val genDay = Gen.choose(18000L, 18100L)
    val dateCases = samples(Gen.zip(
      Gen.nonEmptyListOf(genDay),
      genFilter(genDay.map(d =>
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d))))), 200)
    def evalA(f: Filter, day: Long): Boolean = f match {
      case EqualTo(_, x) => day == x.asInstanceOf[java.sql.Date].toLocalDate.toEpochDay
      case GreaterThan(_, x) => day > x.asInstanceOf[java.sql.Date].toLocalDate.toEpochDay
      case GreaterThanOrEqual(_, x) => day >= x.asInstanceOf[java.sql.Date].toLocalDate.toEpochDay
      case LessThan(_, x) => day < x.asInstanceOf[java.sql.Date].toLocalDate.toEpochDay
      case LessThanOrEqual(_, x) => day <= x.asInstanceOf[java.sql.Date].toLocalDate.toEpochDay
      case In(_, xs) => xs.exists(x => day == x.asInstanceOf[java.sql.Date].toLocalDate.toEpochDay)
      case And(a, b) => evalA(a, day) && evalA(b, day)
      case Or(a, b) => evalA(a, day) || evalA(b, day)
      case _ => true
    }
    dateCases.foreach { case (vs, f) =>
      val stat = LakeTable.ColStat('A', vs.min.toString, vs.max.toString)
      val pruned = !LakeRelation.mightMatch(f, "c", stat)
      if (pruned)
        assert(!vs.exists(evalA(f, _)),
          s"UNSOUND prune: $f dropped a file containing a match (stat $stat)")
    }
  }

  /** Strings built from the characters a hand-rolled JSON grammar gets
    * wrong: quotes, backslashes, braces, brackets, `|`, `.parquet`
    * suffixes and non-ASCII. */
  private val hostile: Gen[String] =
    Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, Gen.oneOf(
      "\"", "\\", "{", "}", "[", "]", "|", ".parquet", ":", ",", "`",
      "é", "中", "a", "7")).map(_.mkString))

  /** Column names as well: the hostile strings, plus names with spaces
    * and with leading or doubled backticks — the spellings a recorded
    * `name TYPE` entry has to quote. */
  private val hostileName: Gen[String] = Gen.oneOf(hostile,
    Gen.zip(hostile, hostile).map { case (a, b) => s"$a $b" },
    hostile.map("`" + _),
    Gen.zip(hostile, hostile).map { case (a, b) => s"`$a `` $b " })

  test("lake manifest codec: decode∘encode is the identity and a rendered " +
       "delta folds over its base to the staged state, on hostile strings") {
    import graft.sources.LakeManifest
    import graft.sources.LakeTable.Staged
    val strs = Gen.choose(0, 5).flatMap(Gen.listOfN(_, hostile))
    val cols = Gen.choose(0, 5).flatMap(Gen.listOfN(_, Gen.zip(hostileName,
      Gen.oneOf("BIGINT", "STRING", "DECIMAL(10,2)", "ARRAY<STRING>",
        "STRUCT<`a b`: INT, c: DOUBLE>", "MAP<STRING, BIGINT>"))
      .map { case (n, t) => LakeManifest.Column(n, t) }))
    val counts = Gen.choose(0, 4).flatMap(Gen.mapOfN(_,
      Gen.zip(hostile, Gen.choose(0L, 1L << 40))))
    val genStaged = for {
      files <- strs; stats <- strs; dv <- strs; schema <- cols
      dropped <- strs; batches <- counts; rows <- counts; hidden <- counts
      bytes <- counts; op <- hostile; base <- Gen.choose(0L, 99L)
      renames <- Gen.choose(0, 3).flatMap(Gen.mapOfN(_,
        Gen.zip(hostile, hostile)))
    } yield Staged("d", base + 1L, files, batches, schema, stats, base, op,
                   dv, renames, dropped, rows, hidden, bytes)
    val states = samples(genStaged, 300)
    states.foreach { s0 =>
      val s = LakeManifest.canonical(s0, s0.version)
      assert(LakeManifest.decode("d", LakeManifest.encode(s)) == Right(s),
        s"full round trip of $s")
    }
    // a commit on top of each state: carried members kept in order,
    // fresh members appended, counts and watermarks moved
    val deltas = states.zip(states.reverse).flatMap { case (b0, x) =>
      val b = LakeManifest.canonical(b0, b0.version)
      val staged = LakeManifest.canonical(b.copy(
        files = b.files.drop(1) ++ x.files.map(_ + "+"),
        stats = b.stats ++ x.stats.map(_ + "+"),
        dv = b.dv ++ x.dv.map(_ + "+"),
        schema = x.schema, renames = x.renames, dropped = x.dropped,
        rows = b.rows.drop(1) ++ x.rows, hidden = b.hidden ++ x.hidden,
        bytes = b.bytes ++ x.bytes, batches = b.batches ++ x.batches,
        baseVersion = b.version, op = x.op), b.version + 1L)
      LakeManifest.diff(b, staged).map(d => (b, staged, d))
    }
    assert(deltas.size > states.size / 4, s"only ${deltas.size} deltas")
    deltas.foreach { case (b, staged, d) =>
      LakeManifest.decode("d", LakeManifest.encode(d)) match {
        case Left(back) =>
          assert(back == d, s"delta round trip of $d")
          assert(LakeManifest.fold(b, back) == staged, s"fold of $d")
        case Right(full) => fail(s"a delta decoded as a full record: $full")
      }
    }
  }

  test("lake end to end: hostile rename targets and sink ids commit, " +
       "resolve cold and read back") {
    import spark.implicits._
    import graft.sources.LakeTable
    (samples(Gen.zip(hostile, hostile), 4) ++
     samples(Gen.zip(hostileName, hostile), 8).filter(_._1.contains(' '))
       .take(2)).foreach { case (name, sink) =>
      val dir = java.nio.file.Files.createTempDirectory("graft_prop_lake_")
        .toString
      assert(LakeTable.commit(spark, dir,
        Seq((1L, 10L), (2L, 20L)).toDF("k", "v"))(_ => None) == Right(1L))
      assert(LakeTable.renameColumn(dir, "v", name) == Right(2L))
      assert(LakeTable.append(spark, dir, Seq((3L, 30L)).toDF("k", name),
        batches = Map(sink -> 5L))(_ => None) == Right(3L))
      LakeTable.clearResolveCache()
      assert(LakeTable.appliedBatch(dir, sink).contains(5L), s"sink $sink")
      val back = LakeTable.read(spark, dir)
      assert(back.columns.toSeq == Seq("k", name), s"rename to $name")
      assert(back.orderBy("k").collect().map(_.getLong(1)).toSeq
        == Seq(10L, 20L, 30L), s"rename to $name")
    }
  }
}
