package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** §2.9 — LLM-training-data pipeline operators over `documents` /
  * `embeddings`: exact + near dedup (3-gram Jaccard, MinHash banding,
  * SimHash), similarity search, text analysis (language-ID, quality
  * scoring, token counting, fingerprinting), multimodal column assembly.
  *
  * Everything here is pure DataFrame algebra over built-ins — no UDFs, no
  * driver-side loops — so each op is a shuffle-bounded distributed plan:
  *  - shingling explodes per-doc n-grams (rows ∝ corpus tokens, partition
  *    by doc), candidate generation joins on gram/band/bucket keys (the
  *    only quadratic step is *within* a bucket, never the corpus);
  *  - hashing is md5 (identical in Spark and DuckDB → oracle-checkable,
  *    unlike murmur3/xxhash which differ per engine).
  *
  * At 100 TB: n-gram keys are high-cardinality (vocab³), so the
  * candidate join stays near-linear; MinHash banding is the designed
  * sub-quadratic path (band buckets shard the join key space); SimHash
  * pair scan is the one intentionally quadratic op and is documented as
  * sf-bounded (use banding on hash prefixes to scale it).
  */
object LlmOps {
  import Tables._

  /** The distinct word-3-gram shingle array of a token-array column —
    * the single source of truth for shingle construction: [[grams]]
    * explodes it, [[minhashSigs]] consumes it in-row. Any change here
    * (delimiter, distinctness, gram width) must also land in the
    * `gramsSql` oracle CTE or the jaccard and minhash families drift. */
  private def shingles(toks: Column): Column =
    array_distinct(transform(
      sequence(lit(1), size(toks) - 2),
      i => concat_ws(" ", element_at(toks, i),
                          element_at(toks, i + 1),
                          element_at(toks, i + 2))))

  /** word 3-gram shingles, distinct per doc: (doc_id, g).
    * `docs` needs (doc_id, text) — any table shaped like that works. */
  def grams(docs: DataFrame): DataFrame =
    // doc fan-out before the tokenize + 3-gram shingle explode (r16,
    // guide §2.5): the corpus arrives as one scan task and the gram
    // blow-up is ~L× the input rows; the shuffle moves only the raw
    // doc rows once
    docs.repartition(docs.sparkSession.sessionState.conf.numShufflePartitions)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(shingles(col("toks"))).as("g"))

  /** The DuckDB spelling of [[grams]] as a CTE body. */
  private val gramsSql: String =
    """docs AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |grams AS (
      |  SELECT DISTINCT doc_id, g FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
      |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g
      |    FROM docs WHERE len(toks) >= 3))""".stripMargin

  /** Hot-gram cap: grams present in more than min(hotGramFrac × n_docs,
    * hotGramAbs) documents carry no discriminative near-dup signal
    * (standard MinHash/shingling practice) and are exactly the keys that
    * blow up the gram-bucket equi-join. The threshold must go ABSOLUTE at
    * scale: a fraction alone still admits a 10⁹-doc bucket at 100 TB
    * (≈10¹⁸ candidate pairs from one stopword shingle); the absolute cap
    * bounds any bucket's pair count at C(1000,2) regardless of corpus
    * size, while the fractional term keeps the filter proportionate on
    * small fixtures. The hotGramMin floor keeps the cap inert on tiny
    * tables (10% of a 5-doc table is 0.5 — without the floor EVERY gram
    * would be "hot" and the whole shingle set dropped). */
  private[graft] val hotGramFrac = 0.1
  private[graft] val hotGramAbs = 1000.0
  private[graft] val hotGramMin = 5.0

  /** [[grams]] minus hot grams. Once the absolute cap binds (n_docs >
    * hotGramAbs/hotGramFrac) the hot set is every gram with df above a
    * fixed constant — a corpus-derived, Zipf-growing set — so it is NOT
    * broadcast-hinted: the anti-join shuffles on `g` and AQE demotes to
    * broadcast only when the set is measured small at runtime. */
  def gramsCapped(docs: DataFrame): DataFrame = {
    val g = grams(docs)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val hot = g.groupBy("g").agg(count(lit(1)).as("df_g"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df_g") >
        greatest(least(col("n_docs") * hotGramFrac, lit(hotGramAbs)),
                 lit(hotGramMin)))
      .select("g")
    g.join(hot, Seq("g"), "left_anti")
  }

  /** The DuckDB spelling of [[gramsCapped]] (extends [[gramsSql]]). */
  private val gramsCappedSql: String =
    s"""$gramsSql,
      |hotg AS (
      |  SELECT g FROM grams GROUP BY g
      |  HAVING count(*) >
      |    (SELECT greatest(least(count(*) * $hotGramFrac, $hotGramAbs),
      |                     $hotGramMin) FROM documents)),
      |gramsf AS (
      |  SELECT doc_id, g FROM grams WHERE g NOT IN (SELECT g FROM hotg))""".stripMargin

  /** Native codegen'd dot product (graft.functions.DotProduct); summation
    * order matches the DuckDB oracle's list_sum(list_transform(...)), so
    * results are bit-identical to the HOF formulation it replaced. */
  private def dot64(s: SparkSession, a: String, b: String): Column = {
    graft.GraftFunctions.register(s)
    expr(s"graft_dot($a, $b)")
  }

  // -------------------------------------------------------------------
  // Public DataFrame-parameterized API. Every operator works on ANY
  // table with the documented column shape — the OpDef entries in `ops`
  // below are thin bindings of these functions to the driver fixtures
  // (mirroring graft.streaming.StreamOps, whose transforms are already
  // source-agnostic). Shapes: docs = (doc_id: long, text: string
  // [, n_chars: long — derived as length(text) when absent]); emb =
  // (vec_id: long, embedding: array<float>). corpusStats additionally
  // needs (lang, source); languageId and topTokensPerLang need (lang).
  //
  // Caching contract: the self-join operators cache their shingle/
  // signature intermediates (the plan references them 2–4 times).
  // Caches scoped to an operator's internal loop are unpersisted before
  // return; caches the *returned* plan still references cannot be —
  // call spark.catalog.clearCache() (or .unpersist() the input) between
  // repeated library calls, as Bench does between queries.
  // -------------------------------------------------------------------

  /** `n_chars` is documented optional: pass it through when present,
    * derive it as length(text) when absent. */
  private def withNChars(docs: DataFrame): DataFrame =
    if (docs.columns.contains("n_chars")) docs
    else docs.withColumn("n_chars", length(col("text")).cast("long"))

  /** Exact dedup: survivor = min(doc_id) per identical text — NOT
    * dropDuplicates, whose survivor choice is partition-order-dependent. */
  def exactDedup(docs: DataFrame): DataFrame =
    withNChars(docs)
      .groupBy("text")
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"),
           min(col("n_chars")).as("n_chars"))
      .select("keep_id", "n_copies", "n_chars")
      .orderBy("keep_id")

  /** MinHash-banded near-dup candidate pairs: 16 minhash permutations
    * banded 4×4 — docs agreeing on any full band become candidates.
    * Sub-quadratic: the join key is (band, sig), only same-bucket docs
    * ever meet.
    *
    * Permutation family: 4 seeded md5s per gram, each split into four
    * independent 32-bit hex chunks → 16 independent permutations from 4
    * hashes (NOT ha+i·hb double hashing — its minima are attained by the
    * same gram across seeds, which correlates bands and multiplies
    * false-positive candidates ~5× on this corpus). (32-bit chunks: fine
    * up to ~10⁸ distinct grams; widen to 12-hex/48-bit chunks over 8 md5s
    * past that.) */
  /** Per-doc 16-permutation minhash signature: (doc_id, minh_0..minh_15).
    * The shared signature stage of [[minhashPairs]], [[lshDedupPairs]] and
    * [[incrementalDedupPairs]].
    *
    * Map-only: each doc's shingle set is derived from its own text, so the
    * per-seed minimum is an `array_min(transform(...))` over an in-row
    * array — no explode, no groupBy. The earlier formulation exploded
    * every gram and shuffled a 16-aggregate groupBy(doc_id); partial
    * aggregation made that shuffle small, but the extra stage (and its
    * task-scheduling barrier) was the single most load-fragile point in
    * the driver bench. min over the same distinct gram set is
    * order-independent, so values — and the DuckDB oracle, which keeps
    * the grouped spelling — are unchanged. The md5 arrays c0..c3 live in
    * their own projection; Catalyst's CollapseProject keeps multiply-
    * referenced non-cheap aliases un-inlined, so each md5 is computed
    * once per (gram, seed-group), exactly as before. */
  def minhashSigs(docs: DataFrame): DataFrame = {
    docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), shingles(col("toks")).as("gs"))
      .select(col("doc_id") +:
        (0 to 3).map(j => transform(col("gs"),
          g => md5(concat(lit(s"$j:"), g))).as(s"c$j")): _*)
      .select(col("doc_id") +:
        (0 to 15).map(s => array_min(transform(col(s"c${s / 4}"),
          h => conv(h.substr(lit(1 + 8 * (s % 4)), lit(8)), 16, 10)
                 .cast("long"))).as(s"minh_$s")): _*)
  }

  /** Banded candidate rows from a signature table: (doc_id, band, sig)
    * where sig = the band's 4 member minhashes joined in seed order (the
    * same string the oracle's string_agg ... ORDER BY seed builds), plus
    * any extra columns the caller carried on `sigs`. */
  private[graft] def minhashBands(sigs: DataFrame, carry: Column*): DataFrame = {
    def sig(b: Int) = concat_ws(",",
      (0 until 4).map(i => col(s"minh_${4 * b + i}").cast("string")): _*)
    sigs.select(col("doc_id") +: carry :+
      posexplode(array(sig(0), sig(1), sig(2), sig(3))).as(Seq("band", "sig")): _*)
  }

  /** Band-bucket hard cap, same reasoning as [[editBlockCap]]: the
    * bucket-groupBy materializes a whole (band, sig) bucket in ONE
    * aggregation-buffer row, which (unlike a join build side) cannot spill
    * and is hard-capped at 2 GB per row — an uncapped bucket (a 10⁵-copy
    * boilerplate cluster agrees on every band) would OOM the executor.
    * A bucket that big is boilerplate, not near-dup signal; the cap is
    * mirrored in every consuming oracle so parity holds by construction. */
  private[graft] val bandBucketCap = 1000L

  /** Drop over-cap buckets BEFORE any collect_list touches payloads: the
    * count pass aggregates to tiny (keys, c) partials map-side, the
    * oversized key set stays small (≤ #buckets over cap) so AQE broadcasts
    * the anti-join — the banded rows themselves still shuffle exactly once,
    * in the caller's groupBy. Callers cache the signature table feeding
    * `banded` so the count pass re-reads the cache, not the md5 lineage. */
  private[graft] def dropHotBuckets(banded: DataFrame, keys: Seq[String]): DataFrame = {
    val oversized = banded.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("c"))
      .filter(col("c") > bandBucketCap)
      .select(keys.map(col): _*)
    banded.join(oversized, keys, "left_anti")
  }

  /** Pin a bucket table's shuffle to an explicit width (r16, guide §2.5):
    * the bucket groupBys feeding [[pairsWithin]] emit Σ bucket² pairs in
    * their REDUCE stage — work orders of magnitude larger than the
    * shuffled bytes — so AQE's byte-based partition coalescing (correct
    * for byte-bound stages) collapses them to 1-2 tasks (measured:
    * q_dedup_near ran its whole pair explosion in one 0.9 s task). A user
    * repartition with an EXPLICIT partition count on the same keys
    * provides the aggregation's required distribution (no second
    * exchange) and is exempt from AQE coalescing. Map-side partial
    * aggregation loses nothing: collect_list does not reduce map-side.
    *
    * Width is INPUT-AWARE since r17 (verdict ask #4): the r16 spelling
    * always used the full session width, which over-shards tiny stages —
    * the driver's 8-vs-32-core scaling block showed exactly these ops
    * running FASTER at 8 cores (ratios ≤ 0.7: pure task overhead).
    * Callers pass the bucket table's row count (cheap: every site
    * derives it from an already-cached/memoized upstream the query
    * materializes anyway), and the width is rows/[[fanRowsPerTask]]
    * clamped to [1, session width]. Any real corpus holds ≫ width ×
    * rowsPerTask bucket rows, so at scale the clamp keeps the full
    * session width — the 100 TB behavior is unchanged; only fixture-
    * sized inputs stop paying 32 tasks for 4 tasks of work. */
  private def fanWide(df: DataFrame, keys: Seq[String],
                      rows: Long = -1L): DataFrame =
    df.repartition(fanWidth(df.sparkSession, rows), keys.map(col): _*)

  /** Rows-per-task target for [[fanWide]]: with the [[bandBucketCap]]
    * bounding per-row downstream work, ~4k bucket rows amortize a task's
    * fixed overhead while keeping dozens of tasks per core at any
    * realistic corpus size. */
  private[graft] val fanRowsPerTask: Long = 4096L

  private[graft] def fanWidth(s: org.apache.spark.sql.SparkSession,
                              rows: Long): Int = {
    val conf = s.sessionState.conf.numShufflePartitions
    if (rows < 0) conf
    else math.max(1L, math.min(conf.toLong,
      (rows + fanRowsPerTask - 1) / fanRowsPerTask)).toInt
  }

  /** Emit all ordered pairs (i < j) from a sorted id-array column,
    * map-side: posexplode picks the left element, slice takes everything
    * after it. The caller's groupBy already paid the only shuffle. */
  private def pairsWithin(buckets: DataFrame, ids: String): DataFrame =
    buckets
      .select(col(ids), posexplode(col(ids)).as(Seq("i", "a")))
      .select(col("a"),
              explode(slice(col(ids), col("i") + lit(2), size(col(ids)))).as("b"))

  def minhashPairs(docs: DataFrame): DataFrame =
    // bucket-groupBy, not a self-join: docs sharing (band, sig) land in
    // one bucket (a single shuffle — the join formulation shuffles the
    // band table twice), and the pair list is generated map-side. Each
    // doc appears once per band, so collect_list needs no dedup; the
    // cross-band duplicate pairs collapse in the same distinct the
    // self-join needed anyway. Bucket size is HARD-capped by
    // [[dropHotBuckets]] (a mega exact-dup cluster agrees on every band);
    // running exactDedup first (as curateCorpus does) keeps genuine
    // near-dup clusters well under the cap.
    minhashPairsFromSigs(minhashSigs(docs).cache())

  /** [[minhashPairs]] from an already-built signature table — the seam
    * the memoized [[DocCore.sigs]] artifact plugs into. The width count
    * reads the cached/memoized sigs (×4 bands per sig row). */
  private[graft] def minhashPairsFromSigs(sigs: DataFrame): DataFrame =
    pairsWithin(
      fanWide(dropHotBuckets(minhashBands(sigs), Seq("band", "sig")),
              Seq("band", "sig"), rows = sigs.count() * 4)
        .groupBy("band", "sig")
        .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
        .filter(size(col("ids")) >= 2),
      "ids")
      .select(col("a").as("doc_a"), col("b").as("doc_b"))
      .distinct()
      .orderBy("doc_a", "doc_b")

  /** xxhash64 signature twin of [[minhashSigs]] — the hash-cost operating
    * point for 100 TB: each of the 16 permutations is one call to Spark's
    * native codegen'd xxhash64(seed, gram) instead of a cryptographic md5
    * + hex-substring + base-conversion chain (md5 work is the md5 family's
    * documented per-gram cost floor; xxhash64 mixes equally well for
    * banding at a fraction of the cost). A different hash family gives
    * different — equally valid — permutations, so candidate sets differ
    * in the borderline region; DuckDB has no xxhash64, making the
    * consuming op the dedup family's one no-oracle member (recall vs the
    * md5 operator and the planted-dup floor are pinned in ApproxSpec). */
  def minhashSigsFast(docs: DataFrame): DataFrame =
    // fan the doc rows out before the 16-permutation shingle hashing
    // (r16, guide §2.5): the corpus arrives as one scan task and the sig
    // build is the dominant per-doc work of the fast twins
    docs.repartition(docs.sparkSession.sessionState.conf.numShufflePartitions)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), shingles(col("toks")).as("gs"))
      .select(col("doc_id") +:
        (0 to 15).map(s => array_min(transform(col("gs"),
          g => xxhash64(lit(s), g))).as(s"minh_$s")): _*)

  /** [[minhashPairs]] over the xxhash64 signatures — identical banding,
    * capping and pair generation; only the hash family changes. */
  def minhashPairsFast(docs: DataFrame): DataFrame = {
    val sigsF = minhashSigsFast(docs).cache()
    pairsWithin(
      fanWide(dropHotBuckets(minhashBands(sigsF), Seq("band", "sig")),
              Seq("band", "sig"), rows = sigsF.count() * 4)
        .groupBy("band", "sig")
        .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
        .filter(size(col("ids")) >= 2),
      "ids")
      .select(col("a").as("doc_a"), col("b").as("doc_b"))
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  /** The full LSH dedup pipeline — the designated 100 TB near-dup path:
    * banded minhash candidates (sub-quadratic: only same-bucket docs ever
    * meet) + signature-agreement Jaccard estimate (E[agree/16] = J), kept
    * when the estimate clears `threshold`. Per-candidate cost is a
    * 16-element signature compare — constant, independent of document
    * length — where a verify-on-text design would re-read both gram sets
    * per pair. Deterministic (md5 permutations), so unlike randomized-LSH
    * formulations it is oracle-checkable; recall vs the exact operator is
    * additionally property-tested (ApproxSpec). */
  def lshDedupPairs(docs: DataFrame, threshold: Double): DataFrame =
    lshDedupFromSigs(minhashSigs(docs), threshold)

  /** [[lshDedupPairs]] from an already-built md5 signature table — the
    * [[DocCore.sigs]] seam. */
  private[graft] def lshDedupPairsFromSigs(sigs: DataFrame,
                                           threshold: Double): DataFrame =
    lshDedupFromSigs(sigs, threshold)

  /** [[lshDedupPairs]] over the xxhash64 signatures — the same estimate
    * pipeline at the [[minhashSigsFast]] hash cost (the designated scale
    * path minus its md5 floor). No-oracle like the other fast twin. */
  def lshDedupPairsFast(docs: DataFrame, threshold: Double): DataFrame =
    lshDedupFromSigs(minhashSigsFast(docs), threshold)

  /** The signature-family-independent half of the LSH dedup pipeline:
    * banding, hot-bucket capping, map-side pair + agreement estimate. */
  private def lshDedupFromSigs(sigs: DataFrame, threshold: Double): DataFrame = {
    val sigArr = array((0 to 15).map(i => col(s"minh_$i")): _*)
    // bucket-groupBy like [[minhashPairs]]: one shuffle carries each
    // doc's 16-long signature once (the self-join formulation shuffled
    // it on BOTH sides), pair generation and the agreement estimate run
    // map-side, and the duplicate-collapsing distinct then moves three
    // scalars per row — sig arrays never shuffle again.
    val s16 = sigs.withColumn("sig16", sigArr).cache()
    val buckets = fanWide(dropHotBuckets(
        minhashBands(s16, col("sig16")),
        Seq("band", "sig")), Seq("band", "sig"), rows = s16.count() * 4)
      .groupBy("band", "sig")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("sig16")))).as("ms"))
      .filter(size(col("ms")) >= 2)
    val agree = aggregate(
      zip_with(col("a.sig16"), col("b.sig16"),
               (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x)
    pairsWithin(buckets, "ms")
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
              Det.r4(agree / lit(16.0)).as("est_jaccard"))
      .distinct()
      .filter(col("est_jaccard") >= threshold)
      .orderBy("doc_a", "doc_b")
  }

  /** Near-dup pairs by word-3-gram Jaccard ≥ threshold. Hot grams are
    * dropped first (see [[gramsCapped]]) so no gram bucket in the
    * self-join can exceed min(hotGramFrac × n_docs, hotGramAbs) rows.
    * The shingle set is cached: it feeds both join sides and both size
    * lookups (4 plan references) — the persist-before-self-join pattern. */
  def jaccardPairs(docs: DataFrame, threshold: Double): DataFrame =
    jaccardFinish(jaccardPairsRaw(docs, threshold))

  /** The public projection/sort of a raw Jaccard pair table — shared by
    * [[jaccardPairs]] and the [[DocCore.grams]]-fed registry binding. */
  private[graft] def jaccardFinish(raw: DataFrame): DataFrame =
    raw.select(col("doc_a"), col("doc_b"), Det.r4(col("jac")).as("jaccard"))
      .orderBy("doc_a", "doc_b")

  /** [[jaccardPairs]] without the rounding projection and final sort —
    * the form downstream consumers ([[dedupClusters]]) compose on, so
    * the sort isn't dragged into their pipelines. */
  private def jaccardPairsRaw(docs: DataFrame, threshold: Double): DataFrame =
    jaccardPairsFrom(gramsCapped(docs).cache(), threshold)

  /** Jaccard pairs from an already-built (and caller-cached) capped gram
    * table — lets [[dedupClusters]] own the cache so it can release it. */
  private[graft] def jaccardPairsFrom(g: DataFrame, threshold: Double): DataFrame = {
    val gcnt = g.groupBy("doc_id").agg(count(lit(1)).as("c"))
    // bucket-groupBy instead of a gram-keyed self-join: the gram table
    // shuffles ONCE (the join shuffled it twice), pair generation is
    // map-side, and the hot-gram cap still bounds every bucket — and
    // with it the quadratic within-bucket pair count — at
    // min(hotGramFrac·n_docs, hotGramAbs) ids.
    val inter = pairsWithin(
        fanWide(g, Seq("g"), rows = g.count())
          .groupBy("g").agg(sort_array(collect_list(col("doc_id"))).as("ids"))
          .filter(size(col("ids")) >= 2),
        "ids")
      .select(col("a").as("i"), col("b").as("j"))
      .groupBy("i", "j").agg(count(lit(1)).as("n"))
    val jac = col("n") * lit(1.0) / (col("ca") + col("cb") - col("n"))
    inter
      .join(gcnt.select(col("doc_id").as("i"), col("c").as("ca")), Seq("i"))
      .join(gcnt.select(col("doc_id").as("j"), col("c").as("cb")), Seq("j"))
      .filter(jac >= threshold)
      .select(col("i").as("doc_a"), col("j").as("doc_b"), jac.as("jac"))
  }

  /** SimHash near-dup pairs at Hamming ≤ maxHamming (≤ 3 for the banded
    * formulation). Bag-weighted 48-bit SimHash; bits come from md5 hex
    * digits so both engines hash identically. One md5 per token folds to
    * a single 48-bit value h (conv(reverse(first-12-hex)) ≡ little-endian
    * nibble indexing: bit b of h = bit b%4 of hex digit b/4), then the 48
    * per-bit counters are 48 sum() aggregates over ONE pass of the token
    * rows — no 48× bit-explode through the shuffle. s_b = 2·Σbit − n.
    *
    * Candidates come from pigeonhole banding: 4 bands of 12 bits — a pair
    * at Hamming ≤ 3 differs in ≤ 3 bits, so at least one band is
    * bit-identical, and the equi-join on (band, value) replaces the
    * all-pairs BroadcastNestedLoopJoin; the exact Hamming filter then
    * removes band-collision false positives. 12-bit bands (4096 values)
    * rather than 8-bit (256): expected bucket size — and the quadratic
    * within-bucket pair count — drops 16×/256×, which is what keeps the
    * candidate join flat as the corpus grows. Widen further for 100 TB
    * (e.g. 64-bit hash, 4×16-bit bands). */
  def simhashPairs(docs: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming <= 3, "4x12-bit banding guarantees recall only for Hamming <= 3")
    // doc fan-out before the per-token md5 pass (r16, guide §2.5): the
    // one-file corpus otherwise hashes every token in a single scan task
    val toks = docs
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"),
        expr("CAST(conv(reverse(substring(md5(tok), 1, 12)), 16, 10) AS BIGINT)")
          .as("h"))
    def bitSum(b: Int) =
      sum(expr(s"shiftright(h, $b) & 1")).as(s"n$b")
    val agg0 = toks.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), (0 to 47).map(bitSum): _*)
    val simExpr = (0 to 47)
      .map(b => s"(CASE WHEN 2 * n$b - n > 0 THEN ${1L << b}L ELSE 0L END)")
      .mkString(" + ")
    // bucket-groupBy like [[minhashPairs]]: docs sharing a 12-bit band
    // value land in one bucket via a single shuffle (the self-join
    // formulation shuffled the banded table twice and needed a cache;
    // this single-consumer pipeline does not — the vestigial cache
    // measured perf-neutral at sf0.1 (r9) and was dropped: zero reuse,
    // and it sat in the cache manager against the hygiene ratchet).
    val banded = agg0.select(col("doc_id"), expr(simExpr).as("simhash"))
      .select(col("doc_id"), col("simhash"),
        posexplode(array((0 until 4).map(i =>
          shiftright(col("simhash"), 12 * i).bitwiseAND(lit(4095L))): _*))
          .as(Seq("band", "bv")))
    // NO fanWide here (r16): 4×12-bit banding keeps buckets tiny, so the
    // pair explosion is negligible — the extra exchange's AQE round cost
    // more than it saved (measured +0.15 s)
    val buckets = dropHotBuckets(banded, Seq("band", "bv"))
      .groupBy("band", "bv")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("simhash")))).as("ms"))
      .filter(size(col("ms")) >= 2)
    pairsWithin(buckets, "ms")
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
              bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
                .cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  /** Edit-distance near-dup pairs ≤ maxDist with prefix blocking: the
    * 32-char prefix is the equi join key (shuffle-friendly, shards the
    * quadratic space), the length band is a cheap residual, and the
    * O(n·m) levenshtein runs only on surviving candidates. */
  /** Blocks larger than this are dropped before any text is collected:
    * the bucket-groupBy materializes a whole block's texts in ONE
    * aggregation-buffer row, which (unlike a join's spillable build side)
    * cannot spill and is hard-capped at 2 GB per row — an uncapped
    * boilerplate block (10⁵ docs sharing a 32-char prefix) would OOM the
    * executor. A block that big is boilerplate, not near-dup signal
    * (same reasoning as the hot-gram cap), and the cap is mirrored in
    * the oracle so parity holds by construction. */
  private val editBlockCap = 1000L

  def editDistancePairs(docs: DataFrame, maxDist: Int): DataFrame = {
    // bucket-groupBy on the prefix block: document texts shuffle once
    // (the self-join moved them on both sides) and the length band +
    // levenshtein run map-side per bucket. The oversized-block filter
    // runs on COUNTS, before collect_list touches any text — ordering
    // that matters precisely because the collected row can't spill.
    val p = withNChars(docs)
      .select(col("doc_id"), col("text"), col("n_chars"),
              substring(col("text"), 1, 32).as("pfx"))
    val oversized = p.groupBy("pfx").agg(count(lit(1)).as("c"))
      .filter(col("c") > editBlockCap).select("pfx")
    val buckets = p.join(oversized, Seq("pfx"), "left_anti")
      .groupBy("pfx")
      .agg(sort_array(collect_list(
        struct(col("doc_id"), col("n_chars"), col("text")))).as("ms"))
      .filter(size(col("ms")) >= 2)
    pairsWithin(buckets, "ms")
      .filter(abs(col("a.n_chars") - col("b.n_chars")) <= maxDist)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
              levenshtein(col("a.text"), col("b.text")).cast("long").as("edit_dist"))
      .filter(col("edit_dist") <= maxDist)
      .orderBy("doc_a", "doc_b")
  }

  /** Connected components over the near-dup graph (the dedup pipeline's
    * final step): every doc maps to the min doc_id of its Jaccard-≥-
    * threshold component, with component sizes. Iterative min-label
    * propagation — each iteration is one distributed join, loop runs to
    * fixpoint (the classic Pregel/large-star pattern at scale);
    * localCheckpoint truncates lineage each iteration (without it the
    * logical plan and Catalyst planning time grow per iteration).
    * Convergence = Σlbl unchanged: labels are monotonically
    * non-increasing (least of old and neighborhood min), so a stable sum
    * is exactly the fixpoint — one cheap aggregate per iteration instead
    * of a join + isEmpty (decimal sum: overflow-safe at any size). */
  def dedupClusters(docs: DataFrame, threshold: Double): DataFrame = {
    val g = gramsCapped(docs).cache()
    val out = clusterPairs(jaccardPairsFrom(g, threshold)
      .select(col("doc_a"), col("doc_b")))
    g.unpersist()
    out
  }

  /** Connected components over ANY undirected pair table
    * (doc_a, doc_b) — the generic half of [[dedupClusters]], reused by
    * the semantic (embedding-space) clustering op. Returns
    * (doc_id, canon_id, cluster_size) for every vertex that appears in a
    * pair; canon_id = min doc_id of the component. */
  def clusterPairs(pairs0: DataFrame): DataFrame = clusterPairsIter(pairs0)._1

  /** [[clusterPairs]] plus the number of loop iterations it ran — the
    * observable ScaleSpec pins for the O(log diameter) convergence claim
    * (a planted 64-chain must close in ≤ ~log₂ 64 rounds, where plain
    * min-propagation needs ~64). */
  private[graft] def clusterPairsIter(pairs0: DataFrame): (DataFrame, Int) = {
    val pairs = pairs0.select(col("doc_a").as("a"), col("doc_b").as("b"))
    // partition the cached edge table by the join key: every iteration's
    // `edges.join(labels, b === v)` then shuffles only the (small) label
    // table — the edge side reads its cached, already-partitioned blocks.
    // Both directions are emitted MAP-SIDE from one pass (r17): the old
    // `pairs.union(pairs.swap)` referenced pairs0 twice, so a caller
    // handing in an expensive un-cached pair derivation (the BRP-LSH
    // pipeline behind q_dedup_semantic_lsh — ProfileQ: two identical
    // 1.36 s jobs) computed it twice; explode keeps one reference.
    val edges = pairs
      .select(explode(array(
        struct(col("a").as("a"), col("b").as("b")),
        struct(col("b").as("a"), col("a").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .distinct().repartition(col("b")).cache()
    // seed with min(v, direct-neighbor min) — iteration 1 fused into the
    // vertex derivation (same single aggregation that would list the
    // vertices), so 2-vertex components start converged and the loop only
    // runs the detection pass
    // LAZY localCheckpoint: materialization happens inside the lblSum
    // action that immediately follows, so each round of the loop costs
    // ONE job (checkpoint+sum fused) instead of two (eager checkpoint,
    // then sum)
    var labels = edges.groupBy(col("a"))
      .agg(least(col("a"), min(col("b"))).as("lbl"))
      .select(col("a").as("v"), col("lbl")).localCheckpoint(false)
    // sum-over-empty is NULL — coalesce to 0 so an edge-free graph (no
    // pair meets the threshold) converges to an empty result instead of
    // NPE-ing on the BigDecimal compare
    def lblSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("lbl").cast("decimal(38,0)")),
                      lit(0).cast("decimal(38,0)")))
        .head.getDecimal(0)
    var prevSum = lblSum(labels)
    var converged = false
    var iters = 0
    while (!converged) {
      iters += 1
      // 1) neighbor propagation: min over {own label} ∪ {neighbors'
      //    labels} as one union + one aggregate
      val prop = labels
        .union(edges.join(labels, col("b") === col("v"))
                 .select(col("a").as("v"), col("lbl")))
        .groupBy(col("v")).agg(min(col("lbl")).as("lbl"))
      // 2) path halving (the pointer-doubling half of the classic
      //    two-phase CC, same effect as alternating large/small-star
      //    contraction): follow the label pointer one hop —
      //    lbl(v) := min(lbl(v), lbl(lbl(v))). Every label IS a vertex
      //    (it is the min of some vertex's closed neighborhood), so the
      //    self-join resolves every pointer; with it the label-chain
      //    length halves per round and a diameter-d component closes in
      //    O(log d) rounds instead of O(d) — the 100 TB long-chain
      //    answer (r5 What's-wrong #2). Monotonicity (least only
      //    decreases) and the fixpoint (uniform component minima) are
      //    unchanged, so Σlbl-stability remains exact convergence and
      //    output hashes are identical to plain propagation.
      //    HYBRID: the jump join is skipped for the first two rounds —
      //    real near-dup components are almost all diameter ≤ 2 and
      //    converge there at one join/round; only a loop that is still
      //    open afterwards (a long chain) pays the second join, from
      //    which point rounds halve the remaining distance.
      val step = if (iters <= 2) prop else {
        val jump = prop.select(col("v").as("jv"), col("lbl").as("jlbl"))
        prop.join(jump, col("lbl") === col("jv"), "left")
          .select(col("v"),
                  least(col("lbl"), coalesce(col("jlbl"), col("lbl"))).as("lbl"))
      }
      PlanProbe.note("cluster", step)
      val next = step.localCheckpoint(false)
      val s = lblSum(next)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      labels = next
    }
    // labels are localCheckpoint-ed (lineage truncated), so the edge
    // cache is loop-scoped and can be released here
    edges.unpersist()
    val sizes = labels.groupBy("lbl").agg(count(lit(1)).as("cluster_size"))
    val out = labels.join(sizes, Seq("lbl"))
      .select(col("v").as("doc_id"), col("lbl").as("canon_id"),
              col("cluster_size"))
      .orderBy("doc_id")
    (out, iters)
  }

  /** Semantic (embedding-space) dedup: connected components over the
    * cosine-similarity graph at `minSim` — the "same content, different
    * words" counterpart of [[dedupClusters]]. Uses the exact pair scan
    * ([[cosineDupPairs]]); at scale feed [[clusterPairs]] from the LSH
    * candidate path (q_sim_cosine_dup_lsh) instead, which surfaces the
    * same exact-sim pairs sub-quadratically. */
  def semanticClusters(emb: DataFrame, minSim: Double): DataFrame =
    clusterPairs(cosineDupPairs(emb, minSim)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))

  /** Incremental near-dedup — the 100 TB production shape: band-join the
    * NEW slice's minhash signatures against the EXISTING corpus index
    * instead of re-deduping everything. Work scales with |new| + the
    * touched buckets of |corpus|, not |corpus|²; the signature table is
    * exactly what a production pipeline would persist between runs.
    * Returns (new_id, dup_of, est_jaccard ≥ threshold).
    *
    * PRECONDITION: doc_id must be globally unique across
    * newDocs ∪ corpus. The self-pair guard below keys on id equality, so
    * a newDocs doc and a DIFFERENT corpus doc that happened to share an
    * id would have its genuine match silently dropped — id reuse across
    * the two inputs is a caller bug this op cannot detect (a same-id
    * cross-side pair is indistinguishable from the same doc fed to both
    * sides, which the guard exists to tolerate). */
  def incrementalDedupPairs(newDocs: DataFrame, corpus: DataFrame,
                            threshold: Double): DataFrame =
    incrementalDedupFromSigs(minhashSigs(newDocs).cache(),
                             minhashSigs(corpus).cache(), threshold)

  /** [[incrementalDedupPairs]] from already-built signature tables —
    * the [[DocCore.sigs]] seam (signatures are a per-doc map, so a
    * doc-slice's signature table IS the full table filtered). */
  private[graft] def incrementalDedupFromSigs(newSigs: DataFrame,
                                              corpusSigs: DataFrame,
                                              threshold: Double): DataFrame = {
    val sigArr = array((0 to 15).map(i => col(s"minh_$i")): _*)
    // one bucket shuffle over the tagged union instead of joining two
    // separately-banded tables (which shuffles each side's sig arrays):
    // pairs and the agreement estimate are generated map-side per
    // bucket, and only cross-side pairs survive.
    def banded(sigs: DataFrame, side: Int) =
      minhashBands(sigs.withColumn("sig16", sigArr), col("sig16"))
        .withColumn("side", lit(side))
    // the cap counts the COMBINED (both-side) bucket population — exactly
    // the row the groupBy would materialize
    val buckets = fanWide(dropHotBuckets(
        banded(newSigs, 0).unionByName(banded(corpusSigs, 1)),
        Seq("band", "sig")), Seq("band", "sig"),
      rows = (newSigs.count() + corpusSigs.count()) * 4)
      .groupBy("band", "sig")
      .agg(sort_array(collect_list(
        struct(col("doc_id"), col("side"), col("sig16")))).as("ms"))
      .filter(size(col("ms")) >= 2)
    val agree = aggregate(
      zip_with(col("a.sig16"), col("b.sig16"),
               (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x)
    pairsWithin(buckets, "ms")
      .filter(col("a.side") =!= col("b.side"))
      .select(when(col("a.side") === 0, col("a.doc_id"))
                .otherwise(col("b.doc_id")).as("new_id"),
              when(col("a.side") === 0, col("b.doc_id"))
                .otherwise(col("a.doc_id")).as("dup_of"),
              Det.r4(agree / lit(16.0)).as("est_jaccard"))
      // guard against overlapping newDocs/corpus slices: a doc present
      // on both sides would bucket with itself and emit (id, id) at
      // est 1.0 — this also documents the disjointness contract
      // without requiring it
      .filter(col("new_id") =!= col("dup_of"))
      .distinct()
      .filter(col("est_jaccard") >= threshold)
      .orderBy("new_id", "dup_of")
  }

  /** Normalization-keyed exact dedup: lowercase, strip non-alphanumerics,
    * collapse whitespace — the canonical "same doc modulo boilerplate
    * punctuation/casing" pass a pipeline runs BEFORE fuzzy dedup (it is a
    * plain groupBy, orders of magnitude cheaper than shingling). Survivor
    * is min(doc_id) per normalized key, like [[exactDedup]]. */
  def normalizedDedup(docs: DataFrame): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
    docs.select(col("doc_id"), norm.as("k"))
      .groupBy("k")
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies")
      .orderBy("keep_id")
  }

  /** N-gram containment pairs: C(A→B) = |grams(A) ∩ grams(B)| / |grams(A)|
    * — the asymmetric cousin of Jaccard that catches CONTAINED duplication
    * (quotes, sub-documents, doc+suffix near-dups) which symmetric Jaccard
    * under-scores when lengths differ. Same bucket-groupBy candidate
    * machinery and hot-gram cap as [[jaccardPairs]]; emits both directions
    * and keeps pairs whose larger containment clears `threshold`. */
  def containmentPairs(docs: DataFrame, threshold: Double): DataFrame =
    containmentPairsFrom(gramsCapped(docs).cache(), threshold)

  /** [[containmentPairs]] from an already-built capped gram table — the
    * [[DocCore.grams]] seam. */
  private[graft] def containmentPairsFrom(g: DataFrame,
                                          threshold: Double): DataFrame = {
    val gcnt = g.groupBy("doc_id").agg(count(lit(1)).as("c"))
    val inter = pairsWithin(
        fanWide(g, Seq("g"), rows = g.count())
          .groupBy("g").agg(sort_array(collect_list(col("doc_id"))).as("ids"))
          .filter(size(col("ids")) >= 2),
        "ids")
      .select(col("a").as("i"), col("b").as("j"))
      .groupBy("i", "j").agg(count(lit(1)).as("n"))
    inter
      .join(gcnt.select(col("doc_id").as("i"), col("c").as("ca")), Seq("i"))
      .join(gcnt.select(col("doc_id").as("j"), col("c").as("cb")), Seq("j"))
      .filter(greatest(col("n") * lit(1.0) / col("ca"),
                       col("n") * lit(1.0) / col("cb")) >= threshold)
      .select(col("i").as("doc_a"), col("j").as("doc_b"),
              Det.r4(col("n") * lit(1.0) / col("ca")).as("cont_ab"),
              Det.r4(col("n") * lit(1.0) / col("cb")).as("cont_ba"))
      .orderBy("doc_a", "doc_b")
  }

  /** Per-doc keyword summary: the top-k TF-IDF terms joined into one
    * comma-separated string in rank order — the classic document-tagging
    * op, composed from [[tfidfTopK]] (rank on the rounded score, then a
    * deterministic struct-sort so the join order is rank order). */
  def keywordSummary(docs: DataFrame, k: Int): DataFrame =
    tfidfTopK(docs, k)
      .groupBy("doc_id")
      .agg(array_join(transform(
        sort_array(collect_list(struct(col("rn"), col("tok")))),
        x => x.getField("tok")), ",").as("keywords"))
      .orderBy("doc_id")

  /** Exact k-NN graph: every vector's top-k cosine neighbors — the
    * brute-force baseline for similarity-graph construction (dedup
    * clustering, diversity sampling). The corpus crosses itself through
    * the codegen'd dot product and ranks on the ROUNDED sim (tie-break
    * neighbor id) so cross-engine float noise cannot flip order. At 100 TB
    * this all-pairs scan is the documented-exact baseline; the scale path
    * is the same graph from IVF/LSH candidates (q_sim_ann_*). */
  def knnGraph(emb: DataFrame, k: Int): DataFrame = {
    val spark = emb.sparkSession
    graft.GraftFunctions.register(spark)
    val e = emb.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    // fan the STREAM side out to the shuffle parallelism (r16): the
    // n² scoring loop does n dots per stream row, so a task count sized
    // from the input bytes (one small embedding file = one task — the
    // whole 250k-dot loop measured single-threaded) starves the
    // quadratic stage at any scale where file count underestimates the
    // blow-up; one tiny round-robin shuffle of the stream rows buys
    // full-width scoring
    val a = e.repartition(spark.sessionState.conf.numShufflePartitions)
      .select(col("vec_id").as("i"), col("v").as("va"))
    val b = e.select(col("vec_id").as("j"), col("v").as("vb"))
    // rank via the bounded graft_score_topk aggregate, not a window: the
    // window spelling's WindowGroupLimit still SORTS the full n² scored
    // stream before limiting (measured 5.3 s at sf0.1 vs 1.8 s for the
    // heap aggregate, identical output rows) — and at 100 TB the heap is
    // the difference between shuffling k rows per vector and sorting the
    // whole candidate stream
    a.crossJoin(b)
      .filter(col("i") =!= col("j"))
      .select(col("i"), col("j"),
              Det.r6(expr("graft_dot(va, vb)")).as("sim"))
      .groupBy("i")
      .agg(expr(s"graft_score_topk(j, sim, $k)").as("top"))
      .select(col("i"), posexplode(col("top")))
      .select(col("i"), col("col.id").as("j"), col("col.score").as("sim"),
              (col("pos") + 1).cast("long").as("rn"))
      .orderBy("i", "rn")
  }

  /** Gopher-style repetition signals per doc: the token fraction covered
    * by the single most frequent bigram, and the fraction of bigram
    * occurrences that are repeats (1 − distinct/total). High values flag
    * looping/templated generations and boilerplate — a standard
    * pre-training quality gate. One explode + two aggregations,
    * shuffle-bounded; docs under 2 tokens are excluded (no bigrams). */
  def repetitionSignals(docs: DataFrame): DataFrame = {
    val tk = split(col("text"), " ")
    val big = docs
      .select(col("doc_id"), tk.as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(col("doc_id"), size(col("tk")).cast("long").as("n_toks"),
        explode(transform(sequence(lit(1), size(col("tk")) - 1),
          i => concat_ws(" ", element_at(col("tk"), i),
                              element_at(col("tk"), i + 1)))).as("g2"))
    big.groupBy("doc_id", "n_toks", "g2").agg(count(lit(1)).as("c"))
      .groupBy("doc_id", "n_toks")
      .agg(max(col("c")).as("top_c"), sum(col("c")).as("n_big"),
           count(lit(1)).as("n_dist"))
      .select(col("doc_id"), col("n_toks"),
        // least(1, ·): overlapping occurrences double-count tokens (all 5
        // bigrams of "spam"×6 are the same one), so the raw ratio exceeds
        // 1 on exactly the looping docs this flags — clamp keeps the
        // documented "fraction of tokens" a fraction
        Det.r6(least(lit(1.0), col("top_c") * lit(2.0) / col("n_toks")))
          .as("top_bigram_frac"),
        Det.r6(lit(1.0) - col("n_dist") * lit(1.0) / col("n_big")).as("dup_bigram_frac"))
      .orderBy("doc_id")
  }

  /** Vocabulary stats per (lang, source): type-token ratio and hapax
    * fraction — the standard corpus-diversity signals (low TTR flags
    * templated/boilerplate slices). Two aggregations, shuffle-bounded. */
  def vocabStats(docs: DataFrame): DataFrame = {
    val bag = docs
      .select(col("lang"), col("source"),
              explode(split(col("text"), " ")).as("tok"))
      .groupBy("lang", "source", "tok").agg(count(lit(1)).as("c"))
    bag.groupBy("lang", "source")
      .agg(sum(col("c")).as("n_tokens"),
           count(lit(1)).as("n_types"),
           sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("lang"), col("source"), col("n_tokens"), col("n_types"),
              Det.r6(col("n_types") * lit(1.0) / col("n_tokens")).as("ttr"),
              Det.r6(col("n_hapax") * lit(1.0) / col("n_types")).as("hapax_ratio"))
      .orderBy("lang", "source")
  }

  /** Exact cosine top-k: brute-force baseline — broadcast the query set
    * (rows of emb matching queryPred), codegen'd `graft_dot` against the
    * full corpus (unit-norm vectors ⇒ cosine ≡ dot), rank on the
    * *rounded* sim so cross-engine float noise cannot flip order. The
    * ANN scale paths are q_sim_ann_lsh / q_sim_ann_ivf (Approx.scala). */
  def cosineTopK(emb: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val e0 = emb
      .select(col("vec_id"),
              transform(col("embedding"), x => x.cast("double")).as("v"))
    val q = e0.filter(queryPred)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    // stream-side fan-out (r16): |q| dots per corpus row — see knnGraph
    val e = e0.repartition(emb.sparkSession.sessionState.conf.numShufflePartitions)
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id").asc)
    broadcast(q).join(e, col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"),
              Det.r6(dot64(emb.sparkSession, "qv", "v")).as("sim"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .orderBy("qid", "rn")
  }

  // Deterministic Rademacher hyperplanes for SRP banding — md5-derived,
  // oracle-checkable — live in [[graft.functions.SrpCodesUtil.signs]]
  // since r16 (the native graft_srp_codes expression computes the full
  // code set per row; see its scaladoc for the derivation and why).

  /** Sign-random-projection (hyperplane LSH) cosine near-dup pairs — the
    * deterministic 100 TB path for HIGH-similarity embedding dedup.
    * Each vector gets `tables` band codes of `bits` sign bits
    * (sign(v · hyperplane), Charikar's SRP: P[bits agree] =
    * (1 − θ/π)^bits); vectors sharing any (table, code) bucket become
    * candidates via the same capped bucket-groupBy machinery as
    * [[lshDedupPairs]], then the exact codegen'd dot re-ranks and
    * thresholds — surfaced sims are exact, only recall is banded.
    *
    * Parameter rule at scale: random-pair candidates ≈ L·n²/2^bits, so
    * `bits` must grow ~log₂(n) to stay linear (GrowthSpec measures this:
    * bits=24 holds candidate growth linear at 10× the corpus with ≈1.0
    * recall on cos ≥ 0.99 planted dups). At near-dup thresholds
    * (cos ≥ 0.8) recall stays high; for BORDERLINE search (cos ≈ 0.45)
    * per-bucket collision collapses — that regime belongs to the IVF ops.
    * Unlike the MLlib BRP ops this op is fully deterministic, so it is
    * driver-oracle-checked, and its single-projection-per-hash weakness
    * (everything concentrates into few buckets at high dims) is replaced
    * by proper k-bit AND-composition per table. */
  def srpCosinePairs(emb: DataFrame, minSim: Double, bits: Int = 8,
                     tables: Int = 8, dims: Int = 64): DataFrame = {
    val s = emb.sparkSession
    graft.GraftFunctions.register(s)
    val e = emb
      .select(col("vec_id"),
              transform(col("embedding"), x => x.cast("double")).as("v"))
      .cache() // feeds the sig build and both re-rank sides
    // the full code set in ONE native call (r16): the inline
    // 64-dot when/concat tree compiled into a single giant method the
    // JIT refused, running interpreted at ~1 ms/row — graft_srp_codes
    // computes the identical codes (same md5 hyperplanes, same >= 0
    // threshold, same bit order) in ~4 µs/row. CACHED because the
    // hot-bucket pass reads the banded table twice (count + anti-join) —
    // the same sig-table discipline minhashPairs already follows.
    val banded = e.select(col("vec_id"),
      posexplode(expr(s"graft_srp_codes(v, $tables, $bits, $dims)"))
        .as(Seq("band", "sig"))).cache()
    val buckets = fanWide(dropHotBuckets(banded, Seq("band", "sig")),
                          Seq("band", "sig"), rows = banded.count())
      .groupBy("band", "sig")
      .agg(sort_array(collect_list(col("vec_id"))).as("ids"))
      .filter(size(col("ids")) >= 2)
    pairsWithin(buckets, "ids")
      .select(col("a").as("vec_a"), col("b").as("vec_b")).distinct()
      .join(e.select(col("vec_id").as("vec_a"), col("v").as("va")), Seq("vec_a"))
      .join(e.select(col("vec_id").as("vec_b"), col("v").as("vb")), Seq("vec_b"))
      .select(col("vec_a"), col("vec_b"),
              Det.r6(call_function("graft_dot", col("va"), col("vb"))).as("sim"))
      .filter(col("sim") >= minSim)
      .orderBy("vec_a", "vec_b")
  }

  /** EXACT cosine near-dup pairs ≥ minSim: all-pairs scan, O(n²) by
    * design — sf-bounded and oracle-checkable. The scale paths are
    * q_sim_cosine_dup_lsh (Approx.scala): MLlib-LSH candidates + exact
    * dot re-rank, recall-tested against this op — and
    * [[srpCosinePairs]], the deterministic oracle-checked banding. */
  def cosineDupPairs(emb: DataFrame, minSim: Double): DataFrame = {
    val e = emb
      .select(col("vec_id"),
              transform(col("embedding"), x => x.cast("double")).as("v"))
    // stream-side fan-out before the quadratic join (r16) — see knnGraph
    val a = e.repartition(emb.sparkSession.sessionState.conf.numShufflePartitions)
      .select(col("vec_id").as("vec_a"), col("v").as("va"))
    val b = e.select(col("vec_id").as("vec_b"), col("v").as("vb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
              Det.r6(dot64(emb.sparkSession, "va", "vb")).as("sim"))
      .filter(col("sim") >= minSim)
      .orderBy("vec_a", "vec_b")
  }

  /** Top-k tokens by document frequency per language (docs also needs a
    * `lang` column). */
  def topTokensPerLang(docs: DataFrame, k: Int): DataFrame = {
    val toks = docs
      .select(col("lang"), col("doc_id"),
              explode(array_distinct(split(col("text"), " "))).as("tok"))
    val df = toks.groupBy("lang", "tok").agg(count(lit(1)).as("doc_freq"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("doc_freq").desc, col("tok").asc)
    df.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select("lang", "tok", "doc_freq", "rn")
      .orderBy("lang", "rn")
  }

  /** Corpus stats per (lang, source): doc counts, total/avg chars, avg
    * tokens. */
  def corpusStats(docs: DataFrame): DataFrame =
    withNChars(docs)
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_chars")).as("total_chars"),
           Det.r4(avg(col("n_chars"))).as("avg_chars"),
           Det.r4(avg(size(split(col("text"), " ")).cast("double"))).as("avg_toks"))
      .orderBy("lang", "source")

  /** Marker-token language ID: each language's `markersPerLang`
    * highest-doc-frequency tokens vote; a doc is classified to the
    * language with most marker overlap (ties → lang asc). Two
    * aggregations + one broadcast join (the marker table is top-k
    * bounded, so broadcasting is safe at any corpus size). */
  def languageId(docs: DataFrame, markersPerLang: Int): DataFrame = {
    val toks = docs
      .select(col("doc_id"), col("lang"),
              explode(array_distinct(split(col("text"), " "))).as("tok"))
    val df = toks.groupBy("lang", "tok").agg(count(lit(1)).as("cnt"))
    val wM = Window.partitionBy(col("lang")).orderBy(col("cnt").desc, col("tok").asc)
    val markers = df.withColumn("rn", row_number().over(wM))
      .filter(col("rn") <= markersPerLang)
      .select(col("lang").as("mlang"), col("tok"))
    val scores = toks.join(broadcast(markers), Seq("tok"))
      .groupBy("doc_id", "mlang").agg(count(lit(1)).as("score"))
    val wB = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("mlang").asc)
    val best = scores.withColumn("rn", row_number().over(wB)).filter(col("rn") === 1)
      .select(col("doc_id"), col("mlang").as("pred_lang"), col("score"))
    docs.select(col("doc_id"), col("lang"))
      .join(best, Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("pred_lang"), col("score"),
              (col("lang") === col("pred_lang")).as("correct"))
      .orderBy("doc_id")
  }

  /** Quality scoring: length saturation + (1 − stopword density), where
    * stopwords are the corpus's own top-`nStopwords` tokens
    * (deterministic, data-derived). The stopword top-k uses orderBy+limit
    * → TakeOrderedAndProject (per-partition top-k + merge), NOT a global
    * row_number window, which would move the whole vocabulary to a single
    * partition. */
  def qualityScores(docs: DataFrame, nStopwords: Int): DataFrame =
    qualityScoresCore(docs, nStopwords).orderBy("doc_id")

  /** [[qualityScores]] without the final ORDER BY — the composition
    * building block. Composed consumers (budget selection, weighted
    * sampling, curation) must use THIS: the public op's orderBy plans as a
    * rangepartitioning exchange whose sampling pass re-executes the whole
    * scoring subtree when buried mid-plan (measured ~+1 s each at sf0.1),
    * and every downstream groupBy/join destroys the order anyway. */
  def qualityScoresCore(docs: DataFrame, nStopwords: Int): DataFrame = {
    val bag = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val stop = bag.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok").asc).limit(nStopwords)
      .select("tok")
    val stopcnt = bag.join(broadcast(stop), Seq("tok"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_stop"))
    val base = withNChars(docs)
      .select(col("doc_id"), col("n_chars"),
              size(split(col("text"), " ")).as("n_toks"))
    val nStop = coalesce(col("n_stop"), lit(0L)) * lit(1.0) / col("n_toks")
    base.join(stopcnt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chars"),
              col("n_toks").cast("long").as("n_toks"),
              Det.r4(col("n_chars") * lit(1.0) / col("n_toks")).as("avg_tok_len"),
              Det.r4(nStop).as("stop_ratio"),
              Det.r4(lit(0.5) * least(col("n_toks") / lit(50.0), lit(1.0))
                     + lit(0.5) * (lit(1.0) - nStop)).as("quality"))
  }

  /** Token counting: whitespace tokens + a BPE-ish upper bound (≈ len/4
    * subwords per word, the usual bytes-per-token heuristic). Map-only. */
  def tokenCounts(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    docs
      .select(col("doc_id"),
              size(toks).cast("long").as("ws_tokens"),
              aggregate(transform(toks, x => ceil(length(x) / lit(4.0))),
                        lit(0L), (acc, x) => acc + x).as("subword_est"),
              length(col("text")).cast("long").as("chars"))
      .orderBy("doc_id")
  }

  /** 1-permutation MinHash over 3-gram shingles: a stable content
    * fingerprint (docs sharing it are near-dup candidates). */
  def fingerprints(docs: DataFrame): DataFrame =
    grams(docs)
      .groupBy("doc_id")
      .agg(min(md5(col("g"))).as("fingerprint"))
      .orderBy("doc_id")

  /** Winnowing fingerprints (rolling-hash document fingerprinting, the
    * MOSS scheme): hash every k-char window of the text, then keep the
    * minimum hash of each w-long window of those hashes — the selected
    * set is position-robust (any sufficiently long shared substring
    * yields a shared fingerprint) and at most 2/(w+1) of the k-grams.
    * Entirely map-only higher-order functions: no explode, no shuffle —
    * the per-doc fingerprint summary streams out of the scan. */
  def winnowFingerprints(docs: DataFrame, k: Int, w: Int): DataFrame =
    winnowFingerprintsFromFps(winnowFps(docs, k, w))

  /** [[winnowFingerprints]] from an already-built (doc_id, fp) row table
    * — the [[DocCore.winnowFps]] seam. */
  private[graft] def winnowFingerprintsFromFps(fps: DataFrame): DataFrame =
    fps
      .groupBy("doc_id")
      .agg(count_distinct(col("fp")).cast("long").as("n_fps"),
           min(col("fp")).as("min_fp"),
           max(col("fp")).as("max_fp"))
      .orderBy("doc_id")

  /** Distinct winnowed fingerprints, one row per (doc_id, fp) — shared
    * by the summary op and the MOSS-style pair matcher. Spelled as
    * explode(gram positions) → md5 → per-doc window-min → full-window
    * filter → distinct, NOT as nested array HOFs: the lambda spelling
    * evaluates md5/conv interpreted (HigherOrderFunction bodies don't
    * codegen) and allocates an O(w) slice per window on boxed
    * GenericArrayData — measured ~3.5 s at sf0.1 across 32 cores vs
    * ~0.6 s for this row-form, where the hash chain runs inside
    * whole-stage codegen and the rolling min is a primitive-long window
    * aggregate. Same selected set: min over h[j..j+w-1] for every full
    * window j, deduped per doc. The repartition spreads hash work even
    * when a small corpus arrives as one parquet split; the window
    * shuffle moves only (doc_id, pos, hash) rows.
    *
    * NOT deduped: the same fp selected by adjacent windows appears once
    * per window — consumers dedupe inside their own aggregation
    * (count_distinct / collect_set), which folds the dedup into a
    * shuffle they pay anyway instead of a dedicated distinct exchange. */
  private[graft] def winnowFps(docs: DataFrame, k: Int, w: Int): DataFrame = {
    val nk = length(col("text")) - (k - 1)
    val h = conv(md5(col("text").substr(col("pos"), lit(k)))
                   .substr(lit(1), lit(8)), 16, 10).cast("long")
    val wmin = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(0, w - 1)
    docs
      .filter(length(col("text")) >= k + w - 1)
      .repartition(col("doc_id"))
      .select(col("doc_id"), col("text"), nk.as("ng"),
              explode(sequence(lit(1), nk)).as("pos"))
      .select(col("doc_id"), col("ng"), col("pos"), h.as("h"))
      .withColumn("fp", min(col("h")).over(wmin))
      .filter(col("pos") <= col("ng") - (w - 1))
      .select(col("doc_id"), col("fp"))
  }

  /** Winnow-fingerprint candidate pairs at ≥ 0.5 containment overlap —
    * the MOSS matcher core shared by q_text_winnow_pairs (which reports
    * the pairs) and q_text_dupspans (which exactly aligns them).
    * Columns: doc_a, doc_b, shared, nfa, nfb.
    *
    * The (doc_id, fp) row table is cached: it feeds both the fp buckets
    * and the per-doc size table — uncached the md5 window chain runs
    * twice. Bucket-groupBy, not a count + semi-join + self-join: docs
    * sharing a fingerprint meet in ONE bucket after a single shuffle and
    * the pair list is generated map-side (the minhashPairs discipline —
    * the join formulation shuffled the edge table three times: measured
    * 7.5 s vs 2.4 s for identical output). collect_set dedupes the
    * window-repeated (doc, fp) rows inside the shuffle the bucket build
    * pays anyway; the >50-doc cap drops hot boilerplate buckets whole,
    * same as the oracle's fc.c <= 50. */
  private[graft] def winnowPairTable(docs: DataFrame): DataFrame =
    winnowPairTableFromFps(winnowFps(docs, 8, 4).cache())

  /** [[winnowPairTable]] from an already-built (doc_id, fp) row table —
    * the [[DocCore.winnowFps]] seam ([[DocCore]] hands in a checkpointed
    * table, so the two plan references scan materialized blocks rather
    * than re-running the md5 window chain). */
  private[graft] def winnowPairTableFromFps(e: DataFrame): DataFrame = {
    val buckets = e.groupBy("fp")
      .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
      .filter(size(col("ids")).between(2, 50))
    val pairs = pairsWithin(buckets, "ids")
      .groupBy(col("a").as("doc_a"), col("b").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
    val sz = e.groupBy("doc_id").agg(count_distinct(col("fp")).as("nf"))
    pairs
      .join(sz.select(col("doc_id").as("doc_a"), col("nf").as("nfa")), "doc_a")
      .join(sz.select(col("doc_id").as("doc_b"), col("nf").as("nfb")), "doc_b")
      .filter(col("shared") * lit(1.0) / least(col("nfa"), col("nfb"))
                >= 0.5)
  }

  /** Exact shared-substring span verification over the winnow candidate
    * pairs — q_text_dupspans' core, reused by q_dedup_substring's cut
    * policy. One row per (doc_a, doc_b): n_spans, max_span_len,
    * span_chars over maximal shared runs ≥ 30 chars (see the op's
    * docstring for the islands construction). */
  private[graft] def dupSpanPairs(docs: DataFrame): DataFrame =
    dupSpanPairsFrom(docs, winnowPairTable(docs).select("doc_a", "doc_b").cache())

  /** [[dupSpanPairs]] from an already-built candidate pair table — the
    * [[DocCore.winnowPairs]] seam. `cand` is referenced three times
    * (both join anchors + the candidate-doc semi-join), so callers hand
    * in a cached or checkpointed frame. */
  private[graft] def dupSpanPairsFrom(docs: DataFrame, cand: DataFrame): DataFrame = {
    val candDocs = cand.select(col("doc_a").as("doc_id"))
      .unionAll(cand.select(col("doc_b").as("doc_id"))).distinct()
    // 20-grams of candidate docs only; used for BOTH join sides, so
    // cached — uncached the explode+md5 chain runs twice
    val g = docs.join(candDocs, Seq("doc_id"))
      .filter(length(col("text")) >= 20)
      .select(col("doc_id"), col("text"),
              explode(sequence(lit(1), length(col("text")) - lit(19)))
                .as("p"))
      .select(col("doc_id"), col("p").cast("long").as("pos"),
              md5(col("text").substr(col("p"), lit(20))).as("h20"))
      .cache()
    val m = cand
      .join(g.select(col("doc_id").as("doc_a"), col("pos").as("pa"),
                     col("h20")), Seq("doc_a"))
      .join(g.select(col("doc_id").as("doc_b"), col("pos").as("pb"),
                     col("h20")), Seq("doc_b", "h20"))
    val wI = Window.partitionBy(col("doc_a"), col("doc_b"), col("diff"))
      .orderBy(col("pa"))
    val sp = m.withColumn("diff", col("pb") - col("pa"))
      .withColumn("grp", col("pa") - row_number().over(wI))
      .groupBy("doc_a", "doc_b", "diff", "grp")
      .agg((count(lit(1)) + lit(19)).as("span_len"))
    sp.filter(col("span_len") >= 30)
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).cast("long").as("n_spans"),
           max(col("span_len")).cast("long").as("max_span_len"),
           sum(col("span_len")).cast("long").as("span_chars"))
  }

  /** Content-defined chunking dedup (the FastCDC/rsync family): chunk
    * boundaries are data-dependent — position i starts a chunk when the
    * rolling 8-char hash ≡ 0 (mod 64, expected ~64-char chunks) — so an
    * insertion shifts only the chunk it lands in, and every later chunk
    * still hashes identically. That is the robustness position-based
    * segmentation (q_dedup_segments) lacks, and it is why storage dedup
    * and byte-level corpus dedup use CDC. Boundaries are NORMALIZED the
    * FastCDC way (r8): a candidate boundary is accepted only ≥ `minLen`
    * chars after the previous accepted one, and if no candidate appears
    * within `maxLen` chars a boundary is FORCED at prev+maxLen — so a
    * pathological doc whose hash never (or always) hits the condition
    * still chunks within [minLen, maxLen] (final chunk ≤ maxLen, may be
    * shorter than minLen; HostileCorpusSpec pins both extremes). Per
    * doc: chunk count, chunks shared with ≥1 other doc, duplicated
    * chars.
    *
    * Plan shape (r8): the whole walk — candidate scan, normalization,
    * chunk hashing — runs inside the native
    * [[graft.functions.CdcChunkWalk]] expression as one compiled loop
    * over each doc's UTF-8 bytes; the only explode is at CHUNK
    * granularity (~n/64 rows per doc, not one per char) and the only
    * shuffles are the chunk-hash frequency aggregates. The r7 per-char
    * explode row-copied the full text Σ-chars times and measured 5.8 s
    * at sf0.1; this spelling is 1.3 s with bit-identical output. No pair
    * generation, so no bucket cap is needed — a corpus-wide hot chunk is
    * one grouped row, not a quadratic bucket. The md5 boundary hash
    * stays the oracle-checked spelling; [[cdcChunkDedupFast]] is the
    * xxhash64 twin for the 100 TB operating point. */
  def cdcChunkDedup(docs: DataFrame, window: Int, modulus: Int,
                    minLen: Int = 16, maxLen: Int = 256): DataFrame =
    cdcAggregate(cdcChunks(docs, window, modulus, minLen, maxLen))

  /** xxhash64 fast twin of [[cdcChunkDedup]] — the same
    * [[graft.functions.CdcChunkWalk]] loop with the per-position
    * md5+conv boundary chain and the per-chunk md5 identity both
    * replaced by xxhash64 straight over the byte windows (0.7 s vs
    * 1.3 s at sf0.1 — the hash is the whole remaining cost once the
    * walk is an expression). A different (equally valid) hash family
    * means different boundary positions, so this is
    * recall/agreement-pinned in ApproxSpec rather than oracle-checked —
    * the designated operating point at 100 TB. */
  def cdcChunkDedupFast(docs: DataFrame, window: Int, modulus: Int,
                        minLen: Int = 16, maxLen: Int = 256): DataFrame =
    cdcAggregate(cdcChunks(docs, window, modulus, minLen, maxLen,
                           fast = true))

  /** The per-doc chunk table (doc_id, ch, cl): the whole candidate scan
    * → FastCDC normalization → chunk hashing walk runs inside the native
    * [[graft.functions.CdcChunkWalk]] expression (one compiled loop over
    * each doc's UTF-8 bytes), and the only explode is CHUNK-level
    * (~n/avgChunk rows per doc). The r8 measurement history that forced
    * the expression: the r7 per-position explode row-copied the full
    * text Σ-chars times (5.8 s at sf0.1), the all-HOF spelling
    * re-interpreted the hash lambda per position (7.5 s), the hybrid
    * explode+fold kept the row-copy cost (7.3 s) — the expression walk
    * is 0.9 s md5 / 0.5 s xxhash64 with bit-identical output (the md5
    * form stays hash-verified against the DuckDB oracle). Exposed so
    * HostileCorpusSpec can assert the [minLen, maxLen] bounds on the
    * chunk lengths themselves. */
  private[graft] def cdcChunks(docs: DataFrame, window: Int, modulus: Int,
                               minLen: Int, maxLen: Int,
                               fast: Boolean = false): DataFrame = {
    graft.GraftFunctions.register(docs.sparkSession)
    docs.filter(length(col("text")) >= window)
      .select(col("doc_id"),
        explode(expr(s"graft_cdc_chunks(text, $window, $modulus, " +
                     s"$minLen, $maxLen, $fast)")).as("z"))
      .select(col("doc_id"), col("z.ch").as("ch"), col("z.cl").as("cl"))
  }

  /** Chunk-hash frequency → per-doc dedup stats, shared by both CDC
    * spellings. */
  private def cdcAggregate(chunks: DataFrame): DataFrame = {
    val freq = chunks.groupBy("ch")
      .agg(count_distinct(col("doc_id")).as("nd"))
    chunks.join(freq, Seq("ch"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_chunks"),
           count(when(col("nd") > 1, lit(1))).cast("long").as("n_dup_chunks"),
           coalesce(sum(when(col("nd") > 1, col("cl"))), lit(0L))
             .cast("long").as("dup_chars"))
      .orderBy("doc_id")
  }

  /** q_text_bpe's fixed merge count. */
  private val BpeMerges = 3

  /** One BPE round per CTE block: pair stats over the current symbol
    * stream → argmax pair under the (count desc, left, right) total
    * order → leftmost-non-overlapping merge application (islands over
    * consecutive hit positions; within a run every second hit merges) →
    * renumber. Shared verbatim by both engines. */
  private val bpeSteps: String = (1 to BpeMerges).map { r =>
    val p = r - 1
    s"""p$r AS (
       |  SELECT x.sym AS la, y.sym AS lb, sum(x.freq) AS c
       |  FROM s$p x JOIN s$p y ON x.tok = y.tok AND y.pos = x.pos + 1
       |  GROUP BY 1, 2),
       |b$r AS (SELECT la, lb, c FROM p$r ORDER BY c DESC, la, lb LIMIT 1),
       |h$r AS (
       |  SELECT tok, pos FROM (
       |    SELECT tok, pos, min(pos) OVER (PARTITION BY tok, grp) AS rs
       |    FROM (
       |      SELECT x.tok, x.pos,
       |        x.pos - row_number() OVER (PARTITION BY x.tok
       |                                   ORDER BY x.pos) AS grp
       |      FROM s$p x
       |      JOIN s$p y ON x.tok = y.tok AND y.pos = x.pos + 1
       |      CROSS JOIN b$r
       |      WHERE x.sym = b$r.la AND y.sym = b$r.lb) t1) t2
       |  WHERE (pos - rs) % 2 = 0),
       |s$r AS (
       |  SELECT tok, freq,
       |    CAST(row_number() OVER (PARTITION BY tok ORDER BY pos) AS BIGINT)
       |      AS pos,
       |    sym
       |  FROM (
       |    SELECT s.tok, s.freq, s.pos,
       |      CASE WHEN hs.pos IS NOT NULL THEN b.la || b.lb
       |           ELSE s.sym END AS sym
       |    FROM s$p s
       |    CROSS JOIN b$r b
       |    LEFT JOIN h$r hs ON hs.tok = s.tok AND hs.pos = s.pos
       |    LEFT JOIN h$r hp ON hp.tok = s.tok AND hp.pos = s.pos - 1
       |    WHERE hp.pos IS NULL) u),""".stripMargin
  }.mkString("\n")

  /** Classic TF-IDF, top-k terms per doc ranked on the rounded weight
    * (cross-engine float safety). df is VOCABULARY-sized (corpus-derived,
    * unbounded) so it shuffles on tok (AQE broadcasts it only if measured
    * small); only the single-row N is broadcast unconditionally. */
  def tfidfTopK(docs: DataFrame, k: Int): DataFrame = {
    val bag = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val df = bag.groupBy("tok").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("tok").asc)
    bag.join(df, Seq("tok"))
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("tok"),
              Det.r6(col("tf") * log(col("n_docs") * lit(1.0) / col("df")))
                .as("tfidf"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .orderBy("doc_id", "rn")
  }

  /** Shannon entropy of each doc's token distribution: low entropy flags
    * repetitive/boilerplate docs — a standard corpus-quality signal. */
  def tokenEntropy(docs: DataFrame): DataFrame = {
    val bag = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
    val tot = bag.groupBy("doc_id").agg(sum(col("c")).as("n"))
    val p = col("c") * lit(1.0) / col("n")
    bag.join(tot, Seq("doc_id"))
      .groupBy("doc_id")
      .agg(max(col("n")).cast("long").as("n_toks"),
           Det.r6(-sum(p * log(p))).as("entropy"))
      .orderBy("doc_id")
  }

  /** Corpus-MLE bigram model scoring each doc by mean log P(w2|w1): the
    * self-supervised fluency filter, all in relational algebra. The count
    * tables are CORPUS-derived (bigram vocab grows with data), so they
    * are NEVER broadcast-hinted — the scoring joins shuffle on
    * (w1, w2)/(w1) and AQE demotes to broadcast only when a table is
    * measured small at runtime. Bounded executor memory at any scale. */
  def lmScores(docs: DataFrame): DataFrame =
    lmScoresCore(docs).orderBy("doc_id")

  /** [[lmScores]] without the final ORDER BY — see [[qualityScoresCore]]
    * for why composed consumers must take this variant. */
  def lmScoresCore(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    val bg = docs
      .filter(size(toks) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(toks) - 1),
          i => struct(element_at(toks, i).as("w1"),
                      element_at(toks, i + 1).as("w2")))).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
      .cache() // feeds c2, c1, and the scoring join (uncached measured
               // ~40% slower: AQE blocks exchange reuse across the branches)
    val c2 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = c2.groupBy("w1").agg(sum(col("c12")).as("c1"))
    bg.join(c2, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .groupBy("doc_id")
      .agg(Det.r6(avg(log(col("c12") * lit(1.0) / col("c1")))).as("lm_score"),
           count(lit(1)).as("n_bigrams"))
  }

  /** Benchmark decontamination: flag corpus docs sharing ≥ `minShared`
    * word-3-gram shingles with an evaluation set — the standard
    * train/test-overlap check before a corpus ships. The benchmark gram
    * set is broadcast: eval sets are bounded by construction (thousands
    * of docs), unlike corpus-derived tables which are never hinted. */
  def contamination(corpus: DataFrame, benchmark: DataFrame,
                    minShared: Int): DataFrame = {
    val bg = grams(benchmark).select("g").distinct()
    grams(corpus).join(broadcast(bg), Seq("g"))
      .groupBy("doc_id").agg(count(lit(1)).as("shared_grams"))
      .filter(col("shared_grams") >= minShared)
      .orderBy("doc_id")
  }

  /** Quality-weighted sampling — the training-mix construction step:
    * keep each doc with probability equal to its quality score, decided
    * by a deterministic md5-derived uniform (reproducible across runs and
    * engines, re-seedable by salting the hashed key; map-only on top of
    * the quality join, no RNG state). */
  def weightedSample(docs: DataFrame, nStopwords: Int): DataFrame = {
    val u = expr(
      "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 4), 16, 10) AS BIGINT)") /
      lit(65536.0)
    qualityScoresCore(docs, nStopwords)
      .select(col("doc_id"), col("quality"))
      .filter(u < col("quality"))
      .orderBy("doc_id")
  }

  /** End-to-end corpus curation — the composed pipeline a training-data
    * run actually executes, built entirely from the public operators:
    * 1. exact dedup ([[exactDedup]]: min-id survivor per identical text);
    * 2. near-dup collapse ([[dedupClusters]]: keep only each Jaccard
    *    component's canonical doc);
    * 3. quality gate ([[qualityScores]] ≥ minQuality).
    * Each stage is shuffle-bounded, so the composition inherits the
    * per-operator 100 TB properties unchanged. */
  def curateCorpus(docs0: DataFrame, jaccardThreshold: Double,
                   minQuality: Double): DataFrame = {
    val g = gramsCapped(docs0).cache()
    val out = curateCorpusFrom(docs0, g, jaccardThreshold, minQuality)
    // loop-scoped like dedupClusters': clusterPairs inside ran eagerly
    g.unpersist()
    out
  }

  /** [[curateCorpus]] with the near-dup stage fed an already-built
    * capped gram table — the [[DocCore.grams]] seam (the gram build is
    * the pipeline's single heaviest derivation, shared with the whole
    * dedup family). */
  private[graft] def curateCorpusFrom(docs0: DataFrame, g: DataFrame,
                                      jaccardThreshold: Double,
                                      minQuality: Double): DataFrame =
    curateWith(docs0,
      clusterPairs(jaccardPairsFrom(g, jaccardThreshold)
        .select(col("doc_a"), col("doc_b"))),
      minQuality)

  /** [[curateCorpusFrom]] with the near-dup CLUSTER table handed in —
    * the [[DocCore.clusters]] seam: the label-propagation components are
    * the pipeline's heaviest stage and are exactly what q_dedup_cluster
    * already derives, so the registry op shares one build (r8). */
  private[graft] def curateWith(docs0: DataFrame, clusters: DataFrame,
                                minQuality: Double): DataFrame = {
    // ONE materialized read of the input feeds all four consumers (exact
    // dedup, the near-dup cluster stage, quality scoring, the final
    // projection) instead of each stage re-scanning and re-tokenizing the
    // corpus — the composition's former ~2× redundancy. At 100 TB the
    // same role is played by persisting the curation input once between
    // stages. The cache the returned plan references follows the
    // documented caching contract (callers clearCache between calls).
    val docs = docs0.cache()
    val survivors = exactDedup(docs).select(col("keep_id").as("doc_id"))
    val nonCanon = clusters
      .filter(col("doc_id") =!= col("canon_id")).select("doc_id")
    val quality = qualityScoresCore(docs, 5).select(col("doc_id"), col("quality"))
    withNChars(docs)
      .join(survivors, Seq("doc_id"), "left_semi")
      .join(nonCanon, Seq("doc_id"), "left_anti")
      .join(quality, Seq("doc_id"))
      .filter(col("quality") >= minQuality)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
              col("quality"))
      .orderBy("doc_id")
  }

  /** Greedy sequence packing: lay documents end-to-end in deterministic
    * (lang, doc_id) order and cut fixed `ctxLen`-token training examples —
    * the standard pretraining batch-assembly step. Each doc gets the bin
    * it STARTS in plus its offset; docs straddle bin boundaries exactly as
    * packed pretraining examples do. One running-sum window per lang: hash
    * shuffle on lang, per-partition scan, no self-join.
    *
    * Scale note: a lang is an unbounded partition at 100 TB — shard the
    * window key to (lang, shard) where shard = a date/file bucket carried
    * by the real corpus, and offset bin_id by a per-shard exclusive prefix
    * sum (one tiny second pass over shard totals). The fixture has no
    * shard column, so the single-key form is what the oracle checks. */
  def packSequences(docs: DataFrame, ctxLen: Int): DataFrame = {
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    docs
      .select(col("doc_id"), col("lang"),
              size(split(col("text"), " ")).cast("long").as("n_toks"))
      .withColumn("start_tok", sum(col("n_toks")).over(w) - col("n_toks"))
      .select(col("doc_id"), col("lang"), col("n_toks"),
              expr(s"start_tok div $ctxLen").as("bin_id"),
              (col("start_tok") % lit(ctxLen.toLong)).as("bin_off"))
      .orderBy("lang", "doc_id")
  }

  /** Fixed-size overlapping token chunking — the RAG-indexing / context-
    * prep split: `window`-token chunks every `stride` tokens (overlap =
    * window − stride), the tail chunk short. Map-only: chunk starts come
    * from a per-row `sequence()`, text from an in-row `slice` — no
    * shuffle, parallelism = input splits at any corpus size. */
  def chunkDocs(docs: DataFrame, window: Int, stride: Int): DataFrame = {
    require(stride >= 1 && window >= stride,
      "need stride >= 1 and window >= stride (non-positive advance loops)")
    val toks = split(col("text"), " ")
    docs
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"), col("toks"),
              explode(sequence(lit(1), size(col("toks")), lit(stride))).as("s"))
      .select(col("doc_id"),
              expr(s"(s - 1) div $stride").cast("long").as("chunk_id"),
              least(lit(window), size(col("toks")) - col("s") + 1).cast("long")
                .as("n_toks"),
              array_join(slice(col("toks"), col("s"), lit(window)), " ")
                .as("chunk"))
      .orderBy("doc_id", "chunk_id")
  }

  val ops: Seq[OpDef] = Seq(

    // ------------------------------------------------------- exact dedup
    OpDef(
      "q_dedup_exact",
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies,
        |       min(n_chars) AS n_chars
        |FROM documents
        |GROUP BY text
        |ORDER BY keep_id""".stripMargin
    ) { (s, d) => exactDedup(documents(s, d)) },

    // ------------------------------- near dedup: word-3-gram Jaccard ----
    OpDef(
      "q_dedup_near",
      s"""WITH $gramsCappedSql,
        |gcnt AS (SELECT doc_id, count(*) AS c FROM gramsf GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS n
        |          FROM gramsf a JOIN gramsf b ON a.g = b.g AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT i AS doc_a, j AS doc_b,
        |  floor((n * 1.0 / (ca.c + cb.c - n)) * 10000.0 + 0.5) / 10000.0 AS jaccard
        |FROM inter
        |JOIN gcnt ca ON i = ca.doc_id
        |JOIN gcnt cb ON j = cb.doc_id
        |WHERE n * 1.0 / (ca.c + cb.c - n) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin
    ) { (s, d) => jaccardFinish(jaccardPairsFrom(DocCore.grams(s, d), 0.5)) },

    // ------------------- normalization-keyed exact dedup ----------------
    OpDef(
      "q_dedup_norm",
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM (SELECT doc_id,
        |        trim(regexp_replace(regexp_replace(lower(text),
        |               '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS k
        |      FROM documents)
        |GROUP BY k
        |ORDER BY keep_id""".stripMargin
    ) { (s, d) => normalizedDedup(documents(s, d)) },

    // ------------------- near dedup: n-gram containment -----------------
    OpDef(
      "q_text_containment_pairs",
      s"""WITH $gramsCappedSql,
        |cnt AS (SELECT doc_id, count(*) AS c FROM gramsf GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS n
        |  FROM gramsf a JOIN gramsf b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY i, j)
        |SELECT i AS doc_a, j AS doc_b,
        |  ${Det.sql("n * 1.0 / ca.c", 4)} AS cont_ab,
        |  ${Det.sql("n * 1.0 / cb.c", 4)} AS cont_ba
        |FROM inter
        |JOIN cnt ca ON ca.doc_id = i
        |JOIN cnt cb ON cb.doc_id = j
        |WHERE greatest(n * 1.0 / ca.c, n * 1.0 / cb.c) >= 0.9
        |ORDER BY doc_a, doc_b""".stripMargin
    ) { (s, d) => containmentPairsFrom(DocCore.grams(s, d), 0.9) },

    // --------------------- near dedup: MinHash + LSH banding (md5) ------
    OpDef(
      "q_dedup_minhash",
      s"""WITH $gramsSql,
        |hashed AS (
        |  SELECT doc_id, seed,
        |    min(CAST('0x' || substring(md5((seed // 4) || ':' || g),
        |                               1 + 8 * (seed % 4), 8) AS BIGINT)) AS minh
        |  FROM grams, (SELECT unnest(range(0, 16)) AS seed)
        |  GROUP BY doc_id, seed),
        |bands AS (
        |  SELECT doc_id, seed // 4 AS band,
        |         string_agg(CAST(minh AS VARCHAR), ',' ORDER BY seed) AS sig
        |  FROM hashed GROUP BY doc_id, seed // 4),
        |bandsf AS (
        |  SELECT doc_id, band, sig FROM (
        |    SELECT doc_id, band, sig,
        |           count(*) OVER (PARTITION BY band, sig) AS bsz
        |    FROM bands)
        |  WHERE bsz <= $bandBucketCap)
        |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |FROM bandsf a JOIN bandsf b
        |  ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
        |ORDER BY doc_a, doc_b""".stripMargin
    ) { (s, d) => minhashPairsFromSigs(DocCore.sigs(s, d)) },

    // same banding over codegen'd xxhash64 permutations — the hash-cost
    // scale twin (see minhashSigsFast); no-oracle because DuckDB cannot
    // replay xxhash64, recall pinned in ApproxSpec
    OpDef.noOracle("q_dedup_minhash_fast") { (s, d) =>
      minhashPairsFast(documents(s, d))
    },

    // the designated scale path at the xxhash64 hash cost (same agreement
    // estimate; see lshDedupPairsFast) — no-oracle, recall pinned with
    // the other fast twin in ApproxSpec
    OpDef.noOracle("q_dedup_lsh_fast") { (s, d) =>
      lshDedupPairsFast(documents(s, d), 0.5)
    },

    // ----------- near dedup at scale: banded LSH + signature estimate ---
    OpDef(
      "q_dedup_lsh",
      s"""WITH $gramsSql,
        |hashed AS (
        |  SELECT doc_id, seed,
        |    min(CAST('0x' || substring(md5((seed // 4) || ':' || g),
        |                               1 + 8 * (seed % 4), 8) AS BIGINT)) AS minh
        |  FROM grams, (SELECT unnest(range(0, 16)) AS seed)
        |  GROUP BY doc_id, seed),
        |bands AS (
        |  SELECT doc_id, seed // 4 AS band,
        |         string_agg(CAST(minh AS VARCHAR), ',' ORDER BY seed) AS sig
        |  FROM hashed GROUP BY doc_id, seed // 4),
        |bandsf AS (
        |  SELECT doc_id, band, sig FROM (
        |    SELECT doc_id, band, sig,
        |           count(*) OVER (PARTITION BY band, sig) AS bsz
        |    FROM bands)
        |  WHERE bsz <= $bandBucketCap),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bandsf a JOIN bandsf b
        |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
        |est AS (
        |  SELECT c.doc_a, c.doc_b,
        |    floor((sum(CASE WHEN ha.minh = hb.minh THEN 1 ELSE 0 END) / 16.0)
        |          * 10000.0 + 0.5) / 10000.0 AS est_jaccard
        |  FROM cand c
        |  JOIN hashed ha ON ha.doc_id = c.doc_a
        |  JOIN hashed hb ON hb.doc_id = c.doc_b AND hb.seed = ha.seed
        |  GROUP BY c.doc_a, c.doc_b)
        |SELECT doc_a, doc_b, est_jaccard FROM est
        |WHERE est_jaccard >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin
    ) { (s, d) => lshDedupPairsFromSigs(DocCore.sigs(s, d), 0.5) },

    // ----------------------------- near dedup: 48-bit SimHash (md5) -----
    // oracle mirrors the 4×12-bit pigeonhole banding AND the band-bucket
    // cap (not the all-pairs spelling): at Hamming ≤ 3 at least one band
    // is bit-identical, so modulo the mirrored cap the candidate sets are
    // identical by construction
    OpDef(
      "q_dedup_simhash",
      s"""WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tokbits AS (
        |  SELECT doc_id, b,
        |    ((strpos('0123456789abcdef', substring(md5(tok), 1 + b // 4, 1)) - 1)
        |      >> (b % 4)) & 1 AS bit
        |  FROM toks, (SELECT unnest(range(0, 48)) AS b)),
        |bitsum AS (
        |  SELECT doc_id, b, sum(2 * bit - 1) AS s
        |  FROM tokbits GROUP BY doc_id, b),
        |sh AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT)
        |      AS simhash
        |  FROM bitsum GROUP BY doc_id),
        |banded AS (
        |  SELECT doc_id, simhash, band, (simhash >> (12 * band)) & 4095 AS bv
        |  FROM sh, (SELECT unnest(range(0, 4)) AS band)),
        |bandedf AS (
        |  SELECT doc_id, simhash, band, bv FROM (
        |    SELECT doc_id, simhash, band, bv,
        |           count(*) OVER (PARTITION BY band, bv) AS bsz
        |    FROM banded)
        |  WHERE bsz <= $bandBucketCap)
        |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
        |FROM bandedf a JOIN bandedf b
        |  ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin
    ) { (s, d) => simhashPairs(documents(s, d), 3) },

    // -------------------- near dedup: edit distance, prefix-blocked -----
    OpDef(
      "q_dedup_editdist",
      """WITH p0 AS (
        |  SELECT doc_id, text, n_chars, substring(text, 1, 32) AS pfx
        |  FROM documents),
        |big AS (SELECT pfx FROM p0 GROUP BY pfx HAVING count(*) > 1000),
        |p AS (SELECT * FROM p0 WHERE pfx NOT IN (SELECT pfx FROM big))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist
        |FROM p a JOIN p b
        |  ON a.pfx = b.pfx AND a.doc_id < b.doc_id
        | AND abs(a.n_chars - b.n_chars) <= 8
        |WHERE levenshtein(a.text, b.text) <= 8
        |ORDER BY doc_a, doc_b""".stripMargin
    ) { (s, d) => editDistancePairs(documents(s, d), 8) },

    // ------------------- near dedup: component clustering + canon -------
    OpDef(
      "q_dedup_cluster",
      s"""WITH RECURSIVE $gramsCappedSql,
        |gcnt AS (SELECT doc_id, count(*) AS c FROM gramsf GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS n
        |          FROM gramsf a JOIN gramsf b ON a.g = b.g AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |pairs AS (
        |  SELECT i AS a, j AS b FROM inter
        |  JOIN gcnt ca ON i = ca.doc_id JOIN gcnt cb ON j = cb.doc_id
        |  WHERE n * 1.0 / (ca.c + cb.c - n) >= 0.5),
        |edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
        |nodes AS (SELECT DISTINCT a AS v FROM edges),
        |reach(src, dst) AS (
        |  SELECT v, v FROM nodes
        |  UNION
        |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a)
        |SELECT src AS doc_id, min(dst) AS canon_id,
        |       CAST(count(*) AS BIGINT) AS cluster_size
        |FROM reach GROUP BY src
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) => DocCore.clusters(s, d) },

    // ---------------- semantic dedup: components in embedding space -----
    OpDef(
      "q_dedup_semantic",
      """WITH RECURSIVE e0 AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |sims AS (
        |  SELECT a.vec_id AS va, b.vec_id AS vb,
        |    floor((list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])))
        |          * 1000000.0 + 0.5) / 1000000.0 AS sim
        |  FROM e0 a JOIN e0 b ON a.vec_id < b.vec_id),
        |pairs AS (SELECT va AS a, vb AS b FROM sims WHERE sim >= 0.45),
        |edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
        |nodes AS (SELECT DISTINCT a AS v FROM edges),
        |reach(src, dst) AS (
        |  SELECT v, v FROM nodes
        |  UNION
        |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a)
        |SELECT src AS doc_id, min(dst) AS canon_id,
        |       CAST(count(*) AS BIGINT) AS cluster_size
        |FROM reach GROUP BY src
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) => semanticClusters(embeddings(s, d), 0.45) },

    // -------------- incremental dedup: new slice vs corpus index --------
    OpDef(
      "q_dedup_incremental",
      s"""WITH $gramsSql,
        |hashed AS (
        |  SELECT doc_id, seed,
        |    min(CAST('0x' || substring(md5((seed // 4) || ':' || g),
        |                               1 + 8 * (seed % 4), 8) AS BIGINT)) AS minh
        |  FROM grams, (SELECT unnest(range(0, 16)) AS seed)
        |  GROUP BY doc_id, seed),
        |bands AS (
        |  SELECT doc_id, seed // 4 AS band,
        |         string_agg(CAST(minh AS VARCHAR), ',' ORDER BY seed) AS sig
        |  FROM hashed GROUP BY doc_id, seed // 4),
        |bandsf AS (
        |  SELECT doc_id, band, sig FROM (
        |    SELECT doc_id, band, sig,
        |           count(*) OVER (PARTITION BY band, sig) AS bsz
        |    FROM bands)
        |  WHERE bsz <= $bandBucketCap),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS dup_of
        |  FROM bandsf a JOIN bandsf b ON a.band = b.band AND a.sig = b.sig
        |  WHERE a.doc_id % 3 = 0 AND b.doc_id % 3 <> 0),
        |est AS (
        |  SELECT c.new_id, c.dup_of,
        |    floor((sum(CASE WHEN ha.minh = hb.minh THEN 1 ELSE 0 END) / 16.0)
        |          * 10000.0 + 0.5) / 10000.0 AS est_jaccard
        |  FROM cand c
        |  JOIN hashed ha ON ha.doc_id = c.new_id
        |  JOIN hashed hb ON hb.doc_id = c.dup_of AND hb.seed = ha.seed
        |  GROUP BY c.new_id, c.dup_of)
        |SELECT new_id, dup_of, est_jaccard FROM est
        |WHERE est_jaccard >= 0.5
        |ORDER BY new_id, dup_of""".stripMargin
    ) { (s, d) =>
      // "new" slice = doc_id ≡ 0 (mod 3): an arbitrary but deterministic
      // ~1/3 batch that crosses the fixture's planted (i, i+50) dup pairs
      // (mod 2/5/10 splits would put both ends in the same slice)
      // signatures are a per-doc map, so slicing the memoized signature
      // table IS slicing the docs before signing
      val sigs = DocCore.sigs(s, d)
      incrementalDedupFromSigs(sigs.filter(col("doc_id") % 3 === 0),
                               sigs.filter(col("doc_id") % 3 =!= 0), 0.5)
    },

    // ---------------- sampling: quality-weighted training mix -----------
    OpDef(
      "q_sample_weighted",
      """WITH bag AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |stop AS (
        |  SELECT tok FROM (
        |    SELECT tok, count(*) AS cnt FROM bag GROUP BY tok) t
        |  QUALIFY row_number() OVER (ORDER BY cnt DESC, tok ASC) <= 5),
        |stopcnt AS (
        |  SELECT b.doc_id, count(*) AS n_stop
        |  FROM bag b JOIN stop s ON b.tok = s.tok GROUP BY b.doc_id),
        |base AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS n_toks FROM documents),
        |qual AS (
        |  SELECT base.doc_id,
        |    floor((0.5 * least(base.n_toks / 50.0, 1.0)
        |           + 0.5 * (1.0 - coalesce(sc.n_stop, 0) * 1.0 / base.n_toks))
        |          * 10000.0 + 0.5) / 10000.0 AS quality
        |  FROM base LEFT JOIN stopcnt sc ON base.doc_id = sc.doc_id)
        |SELECT doc_id, quality FROM qual
        |WHERE CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT)
        |      / 65536.0 < quality
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) => weightedSample(documents(s, d), 5) },

    // ---------------- heavy hitters: SpaceSaving sketch aggregate -------
    // no-oracle (sketch internals aren't SQL-expressible); the SpaceSaving
    // guarantees are tolerance-tested against exact counts in
    // ExtensionsSpec. Bounded memory: 64 counters per partial buffer
    // regardless of vocabulary size — heavy-hitter tokens at 100 TB
    // without materializing groupBy(token).
    OpDef.noOracle("q_text_heavyhitters") { (s, d) =>
      graft.GraftFunctions.register(s)
      documents(s, d)
        .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("lang")
        .agg(expr("graft_topk(tok, 64, 10)").as("hh"))
        .select(col("lang"), posexplode(col("hh")).as(Seq("rn", "e")))
        .select(col("lang"), col("rn").cast("long").as("rn"),
                col("e.item").as("item"), col("e.est").as("est"),
                col("e.err").as("err"))
        .orderBy("lang", "rn")
    },

    // ---------------- decontamination: eval-set n-gram overlap ----------
    OpDef(
      "q_text_contamination",
      s"""WITH $gramsSql,
        |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 20 = 7),
        |shared AS (
        |  SELECT gr.doc_id, count(*) AS shared_grams
        |  FROM grams gr JOIN bench b ON gr.g = b.g
        |  WHERE gr.doc_id % 20 <> 7
        |  GROUP BY gr.doc_id)
        |SELECT doc_id, shared_grams FROM shared
        |WHERE shared_grams >= 10
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      // "benchmark" = the deterministic 5% doc_id ≡ 7 (mod 20) slice
      // standing in for an eval set; the rest is the training corpus.
      // Threshold 10 sits above the fixture's incidental-overlap floor
      // (≤4 shared grams at sf0.01) and far below true contamination
      // (planted dups of benchmark docs share ~90 grams).
      val docs = documents(s, d)
      contamination(docs.filter(col("doc_id") % 20 =!= 7),
                    docs.filter(col("doc_id") % 20 === 7), 10)
    },

    // ------------------- curation: the composed end-to-end pipeline -----
    OpDef(
      "q_pipeline_curate",
      s"""WITH RECURSIVE $gramsCappedSql,
        |gcnt AS (SELECT doc_id, count(*) AS c FROM gramsf GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS n
        |          FROM gramsf a JOIN gramsf b ON a.g = b.g AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |pairs AS (
        |  SELECT i AS a, j AS b FROM inter
        |  JOIN gcnt ca ON i = ca.doc_id JOIN gcnt cb ON j = cb.doc_id
        |  WHERE n * 1.0 / (ca.c + cb.c - n) >= 0.5),
        |edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
        |nodes AS (SELECT DISTINCT a AS v FROM edges),
        |reach(src, dst) AS (
        |  SELECT v, v FROM nodes
        |  UNION
        |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
        |canon AS (SELECT src AS v, min(dst) AS canon_id FROM reach GROUP BY src),
        |survivors AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
        |bag AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |stop AS (
        |  SELECT tok FROM (
        |    SELECT tok, count(*) AS cnt FROM bag GROUP BY tok) t
        |  QUALIFY row_number() OVER (ORDER BY cnt DESC, tok ASC) <= 5),
        |stopcnt AS (
        |  SELECT b.doc_id, count(*) AS n_stop
        |  FROM bag b JOIN stop s ON b.tok = s.tok GROUP BY b.doc_id),
        |base AS (
        |  SELECT doc_id, n_chars, len(string_split(text, ' ')) AS n_toks
        |  FROM documents),
        |qual AS (
        |  SELECT base.doc_id,
        |    floor((0.5 * least(base.n_toks / 50.0, 1.0)
        |           + 0.5 * (1.0 - coalesce(sc.n_stop, 0) * 1.0 / base.n_toks))
        |          * 10000.0 + 0.5) / 10000.0 AS quality
        |  FROM base LEFT JOIN stopcnt sc ON base.doc_id = sc.doc_id)
        |SELECT d.doc_id, d.lang, d.source, d.n_chars, q.quality
        |FROM documents d
        |JOIN survivors s ON d.doc_id = s.doc_id
        |LEFT JOIN canon c ON d.doc_id = c.v
        |JOIN qual q ON d.doc_id = q.doc_id
        |WHERE (c.canon_id IS NULL OR c.canon_id = d.doc_id)
        |  AND q.quality >= 0.5
        |ORDER BY d.doc_id""".stripMargin
    ) { (s, d) =>
      curateWith(documents(s, d), DocCore.clusters(s, d), 0.5)
    },

    // ------------------- curation: fixed-context sequence packing -------
    OpDef(
      "q_pack_sequences",
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, n_toks,
        |    sum(n_toks) OVER (PARTITION BY lang ORDER BY doc_id
        |                      ROWS UNBOUNDED PRECEDING) - n_toks AS start_tok
        |  FROM t)
        |SELECT doc_id, lang, n_toks,
        |  CAST(start_tok // 2048 AS BIGINT) AS bin_id,
        |  CAST(start_tok % 2048 AS BIGINT) AS bin_off
        |FROM c
        |ORDER BY lang, doc_id""".stripMargin
    ) { (s, d) => packSequences(documents(s, d), 2048) },

    /** Block-diagonal attention-mask metadata for the packed bins: per
      * (lang, bin), every document segment's [start, end) token span
      * inside the bin — straddling documents contribute a clipped
      * continuation segment to each bin they touch, which is exactly the
      * boundary list a pretraining loader needs to keep attention from
      * crossing document joints. The per-doc bin fan-out is bounded by
      * ⌈doc_len/ctx⌉ + 1 (map-side explode over the touched-bin range),
      * and the mask assembly is one groupBy on the pack key — same
      * shuffle the packing itself uses. Fill == ctx for every bin except
      * each language's tail (asserted in OpsSpec). */
    OpDef(
      "q_pack_mask",
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, n_toks,
        |    CAST(sum(n_toks) OVER (PARTITION BY lang ORDER BY doc_id
        |                           ROWS UNBOUNDED PRECEDING) - n_toks
        |         AS BIGINT) AS start_tok
        |  FROM t),
        |segs AS (
        |  SELECT lang, CAST(j AS BIGINT) AS bin_id,
        |    greatest(CAST(0 AS BIGINT), start_tok - j * 2048) AS s,
        |    least(CAST(2048 AS BIGINT), start_tok + n_toks - j * 2048) AS e
        |  FROM c, UNNEST(range(start_tok // 2048,
        |                       (start_tok + n_toks - 1) // 2048 + 1)) AS u(j))
        |SELECT lang, bin_id,
        |  CAST(count(*) AS BIGINT) AS n_segments,
        |  array_to_string(list_transform(
        |    list_sort(list(ROW(s, e))),
        |    x -> CAST(x[1] AS VARCHAR) || '-' || CAST(x[2] AS VARCHAR)), ',')
        |    AS mask,
        |  CAST(sum(e - s) AS BIGINT) AS fill
        |FROM segs GROUP BY lang, bin_id
        |ORDER BY lang, bin_id""".stripMargin
    ) { (s, d) =>
      val L = 2048L
      val p = packSequences(documents(s, d), 2048)
        .withColumn("start_tok", col("bin_id") * L + col("bin_off"))
      p.select(col("lang"), col("start_tok"), col("n_toks"),
               explode(sequence(col("bin_id"),
                 expr("(start_tok + n_toks - 1) div 2048"))).as("j"))
        .select(col("lang"), col("j").as("bin_id"),
                greatest(lit(0L), col("start_tok") - col("j") * L).as("s"),
                least(lit(L), col("start_tok") + col("n_toks")
                                - col("j") * L).as("e"))
        .groupBy("lang", "bin_id")
        .agg(count(lit(1)).as("n_segments"),
             concat_ws(",", transform(
               array_sort(collect_list(struct(col("s"), col("e")))),
               x => concat(x("s").cast("string"), lit("-"),
                           x("e").cast("string")))).as("mask"),
             sum(col("e") - col("s")).cast("long").as("fill"))
        .orderBy("lang", "bin_id")
    },

    // --------------------------- similarity: exact cosine top-k ---------
    OpDef(
      "q_sim_topk",
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 8),
        |sims AS (
        |  SELECT qid, vec_id,
        |    floor((list_sum(list_transform(range(1, 65), i -> qv[i] * v[i])))
        |          * 1000000.0 + 0.5) / 1000000.0 AS sim
        |  FROM q JOIN e ON qid <> vec_id),
        |ranked AS (
        |  SELECT qid, vec_id, sim,
        |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rn
        |  FROM sims)
        |SELECT qid, vec_id, sim, rn FROM ranked WHERE rn <= 5
        |ORDER BY qid, rn""".stripMargin
    ) { (s, d) => cosineTopK(embeddings(s, d), col("vec_id") < 8, 5) },

    // ------------------------------- similarity: exact k-NN graph -------
    OpDef(
      "q_sim_knn",
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |sims AS (
        |  SELECT a.vec_id AS i, b.vec_id AS j,
        |    floor((list_sum(list_transform(range(1, 65), x -> a.v[x] * b.v[x])))
        |          * 1000000.0 + 0.5) / 1000000.0 AS sim
        |  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
        |ranked AS (
        |  SELECT i, j, sim,
        |    row_number() OVER (PARTITION BY i ORDER BY sim DESC, j ASC) AS rn
        |  FROM sims)
        |SELECT i, j, sim, rn FROM ranked WHERE rn <= 3
        |ORDER BY i, rn""".stripMargin
    ) { (s, d) => knnGraph(embeddings(s, d), 3) },

    // --------------------------- similarity: cosine near-dup pairs ------
    OpDef(
      "q_sim_cosine_dup",
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |sims AS (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |    floor((list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])))
        |          * 1000000.0 + 0.5) / 1000000.0 AS sim
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |SELECT vec_a, vec_b, sim FROM sims WHERE sim >= 0.45
        |ORDER BY vec_a, vec_b""".stripMargin
    ) { (s, d) => cosineDupPairs(embeddings(s, d), 0.45) },

    // SRP-banded cosine near-dup — deterministic md5 hyperplanes, so the
    // oracle rebuilds the SAME banding (including the bucket cap) and the
    // candidate sets match by construction; the exact-dot re-rank then
    // makes every surfaced sim exact. 8 tables × 8 bits at the fixture
    // scale; bits grows ~log₂(n) at scale (see srpCosinePairs scaladoc).
    OpDef(
      "q_sim_cosine_dup_srp",
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |hp AS (
        |  SELECT t, j,
        |    list(CASE WHEN substring(md5('srp:' || t || ':' || j || ':' || d), 1, 1)
        |              BETWEEN '0' AND '7' THEN 1.0 ELSE -1.0 END ORDER BY d) AS sv
        |  FROM (SELECT unnest(range(0, 8)) AS t),
        |       (SELECT unnest(range(0, 8)) AS j),
        |       (SELECT unnest(range(0, 64)) AS d)
        |  GROUP BY t, j),
        |codes AS (
        |  SELECT e.vec_id, hp.t,
        |    string_agg(CASE WHEN list_sum(list_transform(range(1, 65),
        |                        i -> e.v[i] * hp.sv[i])) >= 0
        |                    THEN '1' ELSE '0' END, '' ORDER BY hp.j) AS code
        |  FROM e, hp GROUP BY e.vec_id, hp.t),
        |codesf AS (
        |  SELECT vec_id, t, code FROM (
        |    SELECT vec_id, t, code,
        |           count(*) OVER (PARTITION BY t, code) AS bsz
        |    FROM codes)
        |  WHERE bsz <= $bandBucketCap),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        |  FROM codesf a JOIN codesf b
        |    ON a.t = b.t AND a.code = b.code AND a.vec_id < b.vec_id),
        |sims AS (
        |  SELECT c.vec_a, c.vec_b,
        |    floor((list_sum(list_transform(range(1, 65), i -> ea.v[i] * eb.v[i])))
        |          * 1000000.0 + 0.5) / 1000000.0 AS sim
        |  FROM cand c
        |  JOIN e ea ON ea.vec_id = c.vec_a
        |  JOIN e eb ON eb.vec_id = c.vec_b)
        |SELECT vec_a, vec_b, sim FROM sims WHERE sim >= 0.45
        |ORDER BY vec_a, vec_b""".stripMargin
    ) { (s, d) => srpCosinePairs(embeddings(s, d), 0.45) },

    // ------------------------------------------- text: token analysis ---
    OpDef(
      "q_text_tokens",
      """WITH toks AS (
        |  SELECT DISTINCT lang, doc_id, tok FROM (
        |    SELECT lang, doc_id, unnest(string_split(text, ' ')) AS tok
        |    FROM documents)),
        |df AS (SELECT lang, tok, count(*) AS doc_freq FROM toks GROUP BY lang, tok),
        |ranked AS (
        |  SELECT lang, tok, doc_freq,
        |    row_number() OVER (PARTITION BY lang
        |                       ORDER BY doc_freq DESC, tok ASC) AS rn
        |  FROM df)
        |SELECT lang, tok, doc_freq, rn FROM ranked WHERE rn <= 20
        |ORDER BY lang, rn""".stripMargin
    ) { (s, d) => topTokensPerLang(documents(s, d), 20) },

    OpDef(
      "q_text_stats",
      """SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  floor((avg(n_chars)) * 10000.0 + 0.5) / 10000.0 AS avg_chars,
        |  floor((avg(len(string_split(text, ' ')))) * 10000.0 + 0.5) / 10000.0 AS avg_toks
        |FROM documents
        |GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin
    ) { (s, d) => corpusStats(documents(s, d)) },

    // ------------------------------- text: vocabulary diversity ---------
    OpDef(
      "q_text_ttr",
      """WITH bag AS (
        |  SELECT lang, source, tok, count(*) AS c FROM (
        |    SELECT lang, source, unnest(string_split(text, ' ')) AS tok
        |    FROM documents)
        |  GROUP BY lang, source, tok)
        |SELECT lang, source,
        |  CAST(sum(c) AS BIGINT) AS n_tokens,
        |  count(*) AS n_types,
        |  floor((count(*) * 1.0 / sum(c)) * 1000000.0 + 0.5) / 1000000.0 AS ttr,
        |  floor((sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1.0 / count(*))
        |        * 1000000.0 + 0.5) / 1000000.0 AS hapax_ratio
        |FROM bag
        |GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin
    ) { (s, d) => vocabStats(documents(s, d)) },

    // Zipf rank-frequency slope per lang: least-squares slope of
    // ln(freq) on ln(rank) (≈ −1 for natural language; the synthetic
    // 31-word vocabulary is much flatter) plus the log-log correlation
    // as fit quality — a corpus-health signal that flags templated or
    // truncated-vocabulary slices. One token aggregate (corpus-sized),
    // then everything runs over the per-lang vocabulary table.
    OpDef(
      "q_text_zipf",
      """WITH bag AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents),
        |f AS (SELECT lang, tok, count(*) AS c FROM bag GROUP BY 1, 2),
        |r AS (SELECT lang, c,
        |        row_number() OVER (PARTITION BY lang
        |                           ORDER BY c DESC, tok ASC) AS rk
        |      FROM f)
        |SELECT lang,
        |  floor((covar_pop(ln(rk * 1.0), ln(c * 1.0)) / var_pop(ln(rk * 1.0)))
        |        * 10000.0 + 0.5) / 10000.0 AS zipf_slope,
        |  floor((corr(ln(rk * 1.0), ln(c * 1.0))) * 10000.0 + 0.5) / 10000.0
        |    AS fit_r,
        |  count(*) AS vocab
        |FROM r
        |GROUP BY lang
        |HAVING count(*) >= 2
        |ORDER BY lang""".stripMargin
    ) { (s, d) =>
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("c").desc, col("tok").asc)
      val (lnRk, lnC) = (log(col("rk") * lit(1.0)), log(col("c") * lit(1.0)))
      documents(s, d)
        .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("lang", "tok").agg(count(lit(1)).as("c"))
        .select(col("lang"), col("c"), row_number().over(w).as("rk"))
        .groupBy("lang")
        // nullif guard: a vocab-1 language group has var_pop(ln rk) = 0,
        // and ANSI mode throws on the 0/0 the aggregate computes BEFORE
        // the vocab filter can drop the row (found by HostileCorpusSpec);
        // the filter then removes the NULL-slope row in both engines, so
        // output parity is untouched
        .agg(Det.r4(covar_pop(lnRk, lnC) / nullif(var_pop(lnRk), lit(0.0)))
               .as("zipf_slope"),
             // NOT spelled with Spark's corr(): its evaluate divides by
             // √(varX·varY) while EMITTING the aggregate row, and
             // Spark-4 ANSI throws there on a zero-variance series (a
             // lang where every token count is identical — found by
             // HostileCorpusSpec) before any CASE-WHEN projection could
             // skip it. DuckDB's corr is covar_pop/(σx·σy) returning
             // NULL on zero variance — this spelling IS that definition,
             // with nullif making the zero-variance NULL explicit.
             Det.r4(covar_pop(lnRk, lnC)
                      / nullif(stddev_pop(lnRk) * stddev_pop(lnC), lit(0.0)))
               .as("fit_r"),
             count(lit(1)).as("vocab"))
        // a slope needs >= 2 rank points; ranks 1,2 guarantee
        // var_pop(ln rk) > 0, so the filter also removes the one case
        // where the engines disagree on 0/0 (Spark NULL vs IEEE NaN)
        .filter(col("vocab") >= 2)
        .orderBy("lang")
    },

    // Vocabulary coverage per language — the tokenizer-budget stat: what
    // fraction of token OCCURRENCES the top-10 / top-100 most frequent
    // types cover. Sizing a (BPE/word) vocab is a coverage-curve read;
    // this emits the two standard points plus type/token totals. Same
    // scale shape as q_text_zipf: one corpus-sized token aggregate, then
    // the rank window and coverage sums run over the Zipf-bounded
    // per-lang VOCABULARY table (at extreme scale, pre-filter the head
    // with a count threshold before ranking — the tail can't reach the
    // top-100 by definition). Counts are exact BIGINTs; the coverage
    // ratios divide two exact integers, engine-safe.
    OpDef(
      "q_text_ngram_coverage",
      """WITH bag AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents),
        |f AS (SELECT lang, tok, count(*) AS c FROM bag GROUP BY 1, 2),
        |r AS (SELECT lang, c,
        |        row_number() OVER (PARTITION BY lang
        |                           ORDER BY c DESC, tok ASC) AS rk
        |      FROM f)
        |SELECT lang,
        |  CAST(count(*) AS BIGINT) AS vocab_size,
        |  CAST(sum(c) AS BIGINT) AS n_tokens,
        |  floor((sum(CASE WHEN rk <= 10 THEN c ELSE 0 END) * 1.0 / sum(c))
        |        * 1000000.0 + 0.5) / 1000000.0 AS cov_top10,
        |  floor((sum(CASE WHEN rk <= 100 THEN c ELSE 0 END) * 1.0 / sum(c))
        |        * 1000000.0 + 0.5) / 1000000.0 AS cov_top100
        |FROM r GROUP BY lang ORDER BY lang""".stripMargin
    ) { (s, d) =>
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("c").desc, col("tok").asc)
      documents(s, d)
        .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("lang", "tok").agg(count(lit(1)).as("c"))
        .select(col("lang"), col("c"), row_number().over(w).as("rk"))
        .groupBy("lang")
        .agg(count(lit(1)).cast("long").as("vocab_size"),
             sum(col("c")).cast("long").as("n_tokens"),
             Det.r6(sum(when(col("rk") <= 10, col("c")).otherwise(lit(0L)))
                      * lit(1.0) / sum(col("c"))).as("cov_top10"),
             Det.r6(sum(when(col("rk") <= 100, col("c")).otherwise(lit(0L)))
                      * lit(1.0) / sum(col("c"))).as("cov_top100"))
        .orderBy("lang")
    },

    // ------------------------------------------- text: language ID ------
    OpDef(
      "q_text_langid",
      """WITH toks AS (
        |  SELECT DISTINCT doc_id, lang, tok FROM (
        |    SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        |    FROM documents)),
        |df AS (SELECT lang, tok, count(*) AS cnt FROM toks GROUP BY lang, tok),
        |markers AS (
        |  SELECT lang AS mlang, tok FROM (
        |    SELECT lang, tok,
        |      row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, tok ASC) AS rn
        |    FROM df) WHERE rn <= 10),
        |scores AS (
        |  SELECT t.doc_id, m.mlang, count(*) AS score
        |  FROM toks t JOIN markers m ON t.tok = m.tok
        |  GROUP BY t.doc_id, m.mlang),
        |best AS (
        |  SELECT doc_id, mlang AS pred_lang, score,
        |    row_number() OVER (PARTITION BY doc_id
        |                       ORDER BY score DESC, mlang ASC) AS rn
        |  FROM scores)
        |SELECT d.doc_id, d.lang, b.pred_lang, b.score,
        |       d.lang = b.pred_lang AS correct
        |FROM documents d JOIN best b ON d.doc_id = b.doc_id AND b.rn = 1
        |ORDER BY d.doc_id""".stripMargin
    ) { (s, d) => languageId(documents(s, d), 10) },

    /** Classifier evaluation — per-class precision/recall/F1 of the
      * langid heuristic against ground truth: the model-eval artifact
      * every labeling pipeline publishes next to its predictions. All
      * counts are exact integers from two bounded aggregations over the
      * prediction table (support = TP+FN, predicted_n = TP+FP); F1 is
      * spelled as 2·TP/(predicted_n+support) so no intermediate P/R
      * rounding compounds, and a class never predicted yields NULL
      * precision rather than a fake 0 (nullif guard on both engines).
      * Output is label-domain-bounded (≤ |langs| rows) at any corpus
      * size. */
    OpDef(
      "q_eval_langid",
      """WITH toks AS (
        |  SELECT DISTINCT doc_id, lang, tok FROM (
        |    SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        |    FROM documents)),
        |df AS (SELECT lang, tok, count(*) AS cnt FROM toks GROUP BY lang, tok),
        |markers AS (
        |  SELECT lang AS mlang, tok FROM (
        |    SELECT lang, tok,
        |      row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, tok ASC) AS rn
        |    FROM df) WHERE rn <= 10),
        |scores AS (
        |  SELECT t.doc_id, m.mlang, count(*) AS score
        |  FROM toks t JOIN markers m ON t.tok = m.tok
        |  GROUP BY t.doc_id, m.mlang),
        |best AS (
        |  SELECT doc_id, mlang AS pred, score,
        |    row_number() OVER (PARTITION BY doc_id
        |                       ORDER BY score DESC, mlang ASC) AS rn
        |  FROM scores),
        |p AS (
        |  SELECT d.lang AS actual, b.pred
        |  FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id AND b.rn = 1),
        |sup AS (SELECT actual AS lang, count(*) AS support FROM p GROUP BY 1),
        |prd AS (SELECT pred AS lang, count(*) AS predicted_n FROM p
        |        WHERE pred IS NOT NULL GROUP BY 1),
        |tp AS (SELECT actual AS lang, count(*) AS tp FROM p
        |       WHERE actual = pred GROUP BY 1)
        |SELECT s.lang, CAST(s.support AS BIGINT) AS support,
        |  CAST(coalesce(prd.predicted_n, 0) AS BIGINT) AS predicted_n,
        |  CAST(coalesce(tp.tp, 0) AS BIGINT) AS tp,
        |  floor((coalesce(tp.tp, 0) * 1.0
        |           / nullif(coalesce(prd.predicted_n, 0), 0))
        |        * 10000.0 + 0.5) / 10000.0 AS precision,
        |  floor((coalesce(tp.tp, 0) * 1.0 / s.support) * 10000.0 + 0.5)
        |    / 10000.0 AS recall,
        |  floor((2.0 * coalesce(tp.tp, 0)
        |           / (coalesce(prd.predicted_n, 0) + s.support))
        |        * 10000.0 + 0.5) / 10000.0 AS f1
        |FROM sup s
        |LEFT JOIN prd ON prd.lang = s.lang
        |LEFT JOIN tp ON tp.lang = s.lang
        |ORDER BY s.lang""".stripMargin
    ) { (s, d) =>
      // LEFT join from documents: a doc whose tokens hit no marker has no
      // prediction row — it must still count in its true class's support
      // (as a false negative), not vanish from the evaluation. (Inner-join
      // spelling overstated recall whenever coverage < 100%.)
      val p = documents(s, d).select(col("doc_id"), col("lang").as("actual"))
        .join(languageId(documents(s, d), 10)
                .select(col("doc_id"), col("pred_lang").as("pred")),
              Seq("doc_id"), "left")
        .select(col("actual"), col("pred"))
      val sup = p.groupBy(col("actual").as("lang"))
        .agg(count(lit(1)).as("support"))
      val prd = p.filter(col("pred").isNotNull)
        .groupBy(col("pred").as("lang"))
        .agg(count(lit(1)).as("predicted_n"))
      val tp = p.filter(col("actual") === col("pred"))
        .groupBy(col("actual").as("lang")).agg(count(lit(1)).as("tp"))
      sup.join(prd, Seq("lang"), "left").join(tp, Seq("lang"), "left")
        .select(col("lang"), col("support").cast("long").as("support"),
          coalesce(col("predicted_n"), lit(0L)).cast("long").as("predicted_n"),
          coalesce(col("tp"), lit(0L)).cast("long").as("tp"),
          Det.r4(coalesce(col("tp"), lit(0L)) * lit(1.0)
                   / nullif(coalesce(col("predicted_n"), lit(0L)), lit(0L)))
            .as("precision"),
          Det.r4(coalesce(col("tp"), lit(0L)) * lit(1.0) / col("support"))
            .as("recall"),
          Det.r4(lit(2.0) * coalesce(col("tp"), lit(0L))
                   / (coalesce(col("predicted_n"), lit(0L)) + col("support")))
            .as("f1"))
        .orderBy("lang")
    },

    // ------------------------------------------- text: quality score ----
    OpDef(
      "q_text_quality",
      """WITH bag AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |stop AS (
        |  SELECT tok FROM (
        |    SELECT tok, count(*) AS cnt FROM bag GROUP BY tok) t
        |  QUALIFY row_number() OVER (ORDER BY cnt DESC, tok ASC) <= 5),
        |stopcnt AS (
        |  SELECT b.doc_id, count(*) AS n_stop
        |  FROM bag b JOIN stop s ON b.tok = s.tok GROUP BY b.doc_id),
        |base AS (
        |  SELECT doc_id, n_chars, len(string_split(text, ' ')) AS n_toks
        |  FROM documents)
        |SELECT base.doc_id, base.n_chars,
        |  CAST(base.n_toks AS BIGINT) AS n_toks,
        |  floor((base.n_chars * 1.0 / base.n_toks) * 10000.0 + 0.5) / 10000.0 AS avg_tok_len,
        |  floor((coalesce(sc.n_stop, 0) * 1.0 / base.n_toks) * 10000.0 + 0.5) / 10000.0 AS stop_ratio,
        |  floor((0.5 * least(base.n_toks / 50.0, 1.0)
        |         + 0.5 * (1.0 - coalesce(sc.n_stop, 0) * 1.0 / base.n_toks))
        |        * 10000.0 + 0.5) / 10000.0 AS quality
        |FROM base LEFT JOIN stopcnt sc ON base.doc_id = sc.doc_id
        |ORDER BY base.doc_id""".stripMargin
    ) { (s, d) => qualityScores(documents(s, d), 5) },

    // ------------------------------------------- text: token counting ---
    OpDef(
      "q_text_tokcount",
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        |  CAST(list_sum(list_transform(string_split(text, ' '),
        |       x -> ceil(length(x) / 4.0))) AS BIGINT) AS subword_est,
        |  CAST(length(text) AS BIGINT) AS chars
        |FROM documents
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) => tokenCounts(documents(s, d)) },

    // fixed-size overlapping chunking (64-token windows, stride 48 —
    // 16-token overlap): the RAG-indexing / context-prep split. Map-only:
    // chunk starts generated per row with sequence(), chunk text sliced
    // from the in-row token array — no shuffle, parallelism = input
    // splits, unchanged at any corpus size.
    OpDef(
      "q_text_chunk",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents),
        |c AS (SELECT doc_id, toks, unnest(range(1, len(toks)+1, 48)) AS s
        |      FROM t)
        |SELECT doc_id, CAST((s-1) // 48 AS BIGINT) AS chunk_id,
        |  CAST(least(64, len(toks) - s + 1) AS BIGINT) AS n_toks,
        |  array_to_string(list_slice(toks, s, s + 63), ' ') AS chunk
        |FROM c
        |ORDER BY doc_id, chunk_id""".stripMargin
    ) { (s, d) => chunkDocs(documents(s, d), 64, 48) },

    // BPE-ish regex tokenization: letter runs / digit runs / single
    // punctuation — the pre-merge atom split a byte-pair tokenizer
    // starts from, as a second count column family alongside the
    // whitespace + length/4 estimates. Pattern kept in the dialect
    // intersection of Java regex (Spark) and RE2 (DuckDB). Map-only.
    OpDef(
      "q_text_tokcount_re",
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |       '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS re_tokens,
        |  CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS num_runs,
        |  CAST(len(regexp_extract_all(text,
        |       '[^A-Za-z0-9 ]')) AS BIGINT) AS punct_marks
        |FROM documents
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      def n(pat: String) =
        size(expr(s"regexp_extract_all(text, '$pat', 0)")).cast("long")
      documents(s, d)
        .select(col("doc_id"),
                n("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]").as("re_tokens"),
                n("[0-9]+").as("num_runs"),
                n("[^A-Za-z0-9 ]").as("punct_marks"))
        .orderBy("doc_id")
    },

    /** Flesch reading-ease over the vowel-group syllable heuristic — the
      * classic readability gate in a corpus-quality stack (alongside
      * q_text_quality's stopword/length ratios and q_text_gopher's
      * repetition rules): flesch = 206.835 − 1.015·(words/sentences) −
      * 84.6·(syllables/words), with syllables ≈ maximal [aeiouy]+ runs
      * (the standard dictionary-free estimate) and sentences = terminal
      * punctuation marks + 1. Map-only: three codegen'd regex counts per
      * row, no shuffle until the output sort; the regexes sit in the
      * Java/RE2 dialect intersection (the tokcount_re discipline). */
    OpDef(
      "q_text_readability",
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |  CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
        |    AS n_syll,
        |  CAST(1 + len(regexp_extract_all(text, '[.!?]')) AS BIGINT)
        |    AS n_sents,
        |  floor((206.835
        |    - 1.015 * (len(string_split(text, ' ')) * 1.0
        |               / (1 + len(regexp_extract_all(text, '[.!?]'))))
        |    - 84.6 * (len(regexp_extract_all(lower(text), '[aeiouy]+')) * 1.0
        |              / len(string_split(text, ' '))))
        |    * 10000.0 + 0.5) / 10000.0 AS flesch
        |FROM documents
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      val words = size(split(col("text"), " ")).cast("long")
      val syll = size(expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)"))
        .cast("long")
      val sents = (size(expr("regexp_extract_all(text, '[.!?]', 0)")) + lit(1))
        .cast("long")
      documents(s, d)
        .select(col("doc_id"), words.as("n_words"), syll.as("n_syll"),
                sents.as("n_sents"),
                Det.r4(lit(206.835)
                         - lit(1.015) * (words * lit(1.0) / sents)
                         - lit(84.6) * (syll * lit(1.0) / words))
                  .as("flesch"))
        .orderBy("doc_id")
    },

    /** Distributed BPE vocabulary induction, 3 merge rounds — the
      * tokenizer-TRAINING step of the pipeline (q_text_tokcount_re
      * counts the atoms BPE starts from; this learns the merges): count
      * adjacent symbol pairs over the frequency-weighted vocabulary,
      * take the argmax pair under the (count desc, left, right) total
      * order — the determinism rule that makes BPE oracle-checkable —
      * apply it leftmost-non-overlapping (islands over consecutive hit
      * positions, every second hit in a run merges: the "aaa" + (a,a)
      * case), renumber, repeat. Output is the learned merge table,
      * exactly what a tokenizer ships.
      *
      * Scale shape: the ONLY corpus-sized stage is the token-frequency
      * groupBy; every round then works on the VOCABULARY × word-length
      * symbol table (Zipf-bounded, ~10⁶ rows for a real corpus — not
      * corpus-sized), with the 1-row argmax broadcast (declared BNLJ
      * allowlist) and a lazy per-round checkpoint keeping the lineage
      * flat (the clusterPairs discipline). */
    OpDef(
      "q_text_bpe",
      s"""WITH wf AS (
        |  SELECT tok, CAST(count(*) AS BIGINT) AS freq
        |  FROM (SELECT unnest(string_split(text, ' ')) AS tok
        |        FROM documents)
        |  WHERE tok <> '' GROUP BY tok),
        |s0 AS (
        |  SELECT tok, freq, CAST(i AS BIGINT) AS pos,
        |    substring(tok, CAST(i AS INTEGER), 1) AS sym
        |  FROM (SELECT tok, freq, unnest(range(1, length(tok) + 1)) AS i
        |        FROM wf)),
        |$bpeSteps
        |merges AS (
        |  SELECT CAST(1 AS BIGINT) AS merge_rank, la AS left_sym,
        |         lb AS right_sym, CAST(c AS BIGINT) AS pair_count FROM b1
        |  UNION ALL SELECT 2, la, lb, CAST(c AS BIGINT) FROM b2
        |  UNION ALL SELECT 3, la, lb, CAST(c AS BIGINT) FROM b3)
        |SELECT merge_rank, left_sym, right_sym, pair_count
        |FROM merges ORDER BY merge_rank""".stripMargin
    ) { (s, d) =>
      val wf = documents(s, d)
        .select(explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy("tok").agg(count(lit(1)).cast("long").as("freq"))
      // key the symbol stream by a compact vocabulary ordinal, NOT the
      // token string: every symbol row would otherwise carry the full
      // token text through three rounds of checkpointed state, and a
      // single 100 kB token (HostileCorpusSpec) × its 100 k positions
      // is a 10 GB materialization — measured OOM. The ordinal is a
      // vocabulary-bounded global row_number (the corpus-wide argmax
      // already makes BPE vocabulary-synchronous); the oracle keeps tok
      // keys — wid↔tok is a bijection, outputs are identical.
      val words = wf.select(
        col("tok"), col("freq"),
        row_number().over(Window.orderBy(col("tok"))).cast("long").as("wid"))
      var sym = words
        .select(col("wid"), col("freq"), col("tok"),
                explode(sequence(lit(1), length(col("tok")))).as("p0"))
        .select(col("wid"), col("freq"), col("p0").cast("long").as("pos"),
                col("tok").substr(col("p0"), lit(1)).as("sym"))
        .localCheckpoint(false)
      val wRn = Window.partitionBy(col("wid")).orderBy(col("pos"))
      var merges: DataFrame = null
      for (r <- 1 to BpeMerges) {
        // adjacent pairs via lead() over the per-word window instead of a
        // (wid, pos+1) self-join (r17, guide §2.4): the old spelling
        // shuffled the symbol table twice per round for the join and then
        // twice more to align the hit positions back (hA/hB left joins);
        // every per-round decision — pair counting, run detection,
        // leftmost-non-overlapping selection, drop-the-absorbed-row —
        // is a function of the word's symbol sequence in pos order, so
        // ONE window chain computes them all over a single exchange.
        val adj = sym
          .withColumn("sym2", lead(col("sym"), 1).over(wRn))
          .localCheckpoint(false) // read twice: argmax + merge apply
        val best = adj.filter(col("sym2").isNotNull)
          .groupBy(col("sym").as("la"), col("sym2").as("lb"))
          .agg(sum(col("freq")).as("c"))
          .orderBy(col("c").desc, col("la"), col("lb")).limit(1)
          .localCheckpoint(false)
        // hit: this row starts the argmax pair. Runs of consecutive hit
        // positions merge leftmost-non-overlapping: a hit merges iff its
        // offset within the run is even (rs = run start = last non-hit
        // position + 1); the row AFTER a merging hit is absorbed. Same
        // islands arithmetic as the old grp/min-over-group spelling,
        // expressed over the running window so no join-back is needed.
        sym = adj.crossJoin(broadcast(best))
          .withColumn("hit",
            coalesce(col("sym") === col("la") && col("sym2") === col("lb"),
                     lit(false)))
          .withColumn("rs",
            coalesce(max(when(!col("hit"), col("pos"))).over(
              wRn.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
              lit(0L)) + lit(1L))
          .withColumn("mstart",
            col("hit") && (col("pos") - col("rs")) % 2 === 0)
          .withColumn("absorbed",
            coalesce(lag(col("mstart"), 1).over(wRn), lit(false)))
          .filter(!col("absorbed"))
          .select(col("wid"), col("freq"),
                  row_number().over(wRn).cast("long").as("pos"),
                  when(col("mstart"), concat(col("la"), col("lb")))
                    .otherwise(col("sym")).as("sym"))
          .localCheckpoint(false)
        val tagged = best.select(lit(r.toLong).as("merge_rank"),
                                 col("la").as("left_sym"),
                                 col("lb").as("right_sym"),
                                 col("c").cast("long").as("pair_count"))
        merges = if (merges == null) tagged else merges.unionAll(tagged)
      }
      merges.orderBy("merge_rank")
    },

    // ------------------------------------------- text: fingerprinting ---
    OpDef(
      "q_text_fingerprint",
      s"""WITH $gramsSql
        |SELECT doc_id, min(md5(g)) AS fingerprint
        |FROM grams
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) => fingerprints(documents(s, d)) },

    // ---------------------- text: winnowing (rolling-hash) fingerprints -
    OpDef(
      "q_text_winnow",
      """WITH h AS (
        |  SELECT doc_id,
        |    list_transform(range(1, length(text) - 6),
        |      i -> CAST('0x' || substring(md5(substring(text, i, 8)), 1, 8)
        |           AS BIGINT)) AS hs
        |  FROM documents
        |  WHERE length(text) >= 11),
        |f AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(hs) - 2),
        |      j -> list_aggregate(hs[j:j+3], 'min'))) AS fps
        |  FROM h)
        |SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fps,
        |       list_aggregate(fps, 'min') AS min_fp,
        |       list_aggregate(fps, 'max') AS max_fp
        |FROM f
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) => winnowFingerprintsFromFps(DocCore.winnowFps(s, d)) },

    /** MOSS-style near-dup matching on the winnowed fingerprints: docs
      * sharing fingerprints meet in fp buckets (hot boilerplate fps
      * capped at 50 docs — the gram-bucket discipline), shared-fp counts
      * score each candidate pair, and overlap = shared / min(|fps|)
      * thresholds at 0.5 — the plagiarism-detector shape, catching
      * containment the symmetric Jaccard ops under-score. Fully
      * deterministic ⇒ oracle-checked; planted +" dup" recall 24/24 at
      * sf0.001 with 4 extra genuine high-overlap pairs (tiny-vocab
      * fixture). Work is quadratic only WITHIN capped buckets —
      * sub-quadratic overall, the q_dedup_lsh argument. */
    OpDef(
      "q_text_winnow_pairs",
      """WITH h AS (
        |  SELECT doc_id,
        |    list_transform(range(1, length(text) - 6),
        |      i -> CAST('0x' || substring(md5(substring(text, i, 8)), 1, 8)
        |           AS BIGINT)) AS hs
        |  FROM documents
        |  WHERE length(text) >= 11),
        |f AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(hs) - 2),
        |      j -> list_aggregate(hs[j:j+3], 'min'))) AS fps
        |  FROM h),
        |e AS (SELECT doc_id, unnest(fps) AS fp FROM f),
        |fc AS (SELECT fp, count(*) AS c FROM e GROUP BY fp),
        |kept AS (SELECT e.* FROM e JOIN fc ON e.fp = fc.fp AND fc.c <= 50),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
        |  FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |sz AS (SELECT doc_id, len(fps) AS nf FROM f)
        |SELECT doc_a, doc_b, CAST(shared AS BIGINT) AS shared,
        |  floor((shared * 1.0 / least(x.nf, y.nf)) * 10000.0 + 0.5) / 10000.0
        |    AS overlap
        |FROM pairs JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
        |WHERE shared * 1.0 / least(x.nf, y.nf) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin
    ) { (s, d) =>
      DocCore.winnowPairs(s, d)
        .select(col("doc_a"), col("doc_b"), col("shared").cast("long").as("shared"),
                Det.r4(col("shared") * lit(1.0)
                         / least(col("nfa"), col("nfb"))).as("overlap"))
        .orderBy("doc_a", "doc_b")
    },

    /** Exact maximal shared-substring spans over the winnow candidates —
      * the VERIFY stage of a Lee-et-al-style exact-substring dedup
      * pipeline (PAPERS.md: "Deduplicating Training Data Makes Language
      * Models Better"): the winnowed-fingerprint matcher proposes a
      * BOUNDED candidate pair set sub-quadratically, and only those
      * pairs pay the char-20-gram alignment that recovers every
      * maximal shared span exactly. Matched (posA, posB) gram hits at a
      * constant offset posB−posA merge into maximal runs with the
      * islands trick (pos − row_number per (pair, offset) diagonal), so
      * a shared region of length L reports once with span_len = run+19
      * — the number a dedup policy thresholds on ("cut documents
      * sharing ≥50 consecutive tokens").
      *
      * Scale: gram volume = Σ chars over CANDIDATE docs only (semi-join
      * restricted), never the corpus; the (doc_b, h20) equi-join key
      * spreads diagonals across the shuffle, and every downstream stage
      * is bounded by actual match volume. All-integer + md5 ⇒
      * oracle-checked. */
    OpDef(
      "q_text_dupspans",
      """WITH h AS (
        |  SELECT doc_id,
        |    list_transform(range(1, length(text) - 6),
        |      i -> CAST('0x' || substring(md5(substring(text, i, 8)), 1, 8)
        |           AS BIGINT)) AS hs
        |  FROM documents
        |  WHERE length(text) >= 11),
        |f AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(hs) - 2),
        |      j -> list_aggregate(hs[j:j+3], 'min'))) AS fps
        |  FROM h),
        |e AS (SELECT doc_id, unnest(fps) AS fp FROM f),
        |fc AS (SELECT fp, count(*) AS c FROM e GROUP BY fp),
        |kept AS (SELECT e.* FROM e JOIN fc ON e.fp = fc.fp AND fc.c <= 50),
        |prs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
        |  FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |sz AS (SELECT doc_id, len(fps) AS nf FROM f),
        |cand AS (
        |  SELECT doc_a, doc_b
        |  FROM prs JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
        |  WHERE shared * 1.0 / least(x.nf, y.nf) >= 0.5),
        |cd AS (SELECT DISTINCT doc_id FROM (
        |  SELECT doc_a AS doc_id FROM cand
        |  UNION ALL SELECT doc_b FROM cand)),
        |g AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |    md5(substring(text, CAST(i AS INTEGER), 20)) AS h20
        |  FROM (SELECT d.doc_id, d.text,
        |          unnest(range(1, length(d.text) - 18)) AS i
        |        FROM documents d JOIN cd USING (doc_id)
        |        WHERE length(d.text) >= 20)),
        |m AS (
        |  SELECT c.doc_a, c.doc_b, ga.pos AS pa, gb.pos AS pb
        |  FROM cand c
        |  JOIN g ga ON ga.doc_id = c.doc_a
        |  JOIN g gb ON gb.doc_id = c.doc_b AND gb.h20 = ga.h20),
        |sp AS (
        |  SELECT doc_a, doc_b, count(*) + 19 AS span_len
        |  FROM (
        |    SELECT doc_a, doc_b, pb - pa AS diff, pa,
        |      pa - row_number() OVER (PARTITION BY doc_a, doc_b, pb - pa
        |                              ORDER BY pa) AS grp
        |    FROM m)
        |  GROUP BY doc_a, doc_b, diff, grp)
        |SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS n_spans,
        |  CAST(max(span_len) AS BIGINT) AS max_span_len,
        |  CAST(sum(span_len) AS BIGINT) AS span_chars
        |FROM sp WHERE span_len >= 30
        |GROUP BY doc_a, doc_b
        |ORDER BY doc_a, doc_b""".stripMargin
    ) { (s, d) => DocCore.dupSpans(s, d).orderBy("doc_a", "doc_b") },

    /** The dedup ACTION on top of q_text_dupspans: a document is cut
      * when a verified exact-substring overlap with a LOWER-id document
      * covers ≥ 30% of the shorter of the two (or any single span runs
      * ≥ 100 chars — the "50 consecutive tokens" rule at this fixture's
      * ~2 chars/token). Union-drop keep-first policy: every qualifying
      * pair drops its doc_b (doc_a < doc_b by construction), the
      * conservative industrial default — cascade-aware survivor chains
      * are q_dedup_keep_first / q_dedup_cluster territory. Output is the
      * CUT list with evidence (partner count, worst overlap), the
      * audit-log shape a curation pipeline persists next to the shards.
      * Cost: dupSpanPairs + one length join + one doc-keyed aggregate. */
    OpDef(
      "q_dedup_substring",
      """WITH h AS (
        |  SELECT doc_id,
        |    list_transform(range(1, length(text) - 6),
        |      i -> CAST('0x' || substring(md5(substring(text, i, 8)), 1, 8)
        |           AS BIGINT)) AS hs
        |  FROM documents
        |  WHERE length(text) >= 11),
        |f AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(hs) - 2),
        |      j -> list_aggregate(hs[j:j+3], 'min'))) AS fps
        |  FROM h),
        |e AS (SELECT doc_id, unnest(fps) AS fp FROM f),
        |fc AS (SELECT fp, count(*) AS c FROM e GROUP BY fp),
        |kept AS (SELECT e.* FROM e JOIN fc ON e.fp = fc.fp AND fc.c <= 50),
        |prs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
        |  FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |sz AS (SELECT doc_id, len(fps) AS nf FROM f),
        |cand AS (
        |  SELECT doc_a, doc_b
        |  FROM prs JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
        |  WHERE shared * 1.0 / least(x.nf, y.nf) >= 0.5),
        |cd AS (SELECT DISTINCT doc_id FROM (
        |  SELECT doc_a AS doc_id FROM cand
        |  UNION ALL SELECT doc_b FROM cand)),
        |g AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |    md5(substring(text, CAST(i AS INTEGER), 20)) AS h20
        |  FROM (SELECT d.doc_id, d.text,
        |          unnest(range(1, length(d.text) - 18)) AS i
        |        FROM documents d JOIN cd USING (doc_id)
        |        WHERE length(d.text) >= 20)),
        |m AS (
        |  SELECT c.doc_a, c.doc_b, ga.pos AS pa, gb.pos AS pb
        |  FROM cand c
        |  JOIN g ga ON ga.doc_id = c.doc_a
        |  JOIN g gb ON gb.doc_id = c.doc_b AND gb.h20 = ga.h20),
        |sp AS (
        |  SELECT doc_a, doc_b, count(*) + 19 AS span_len
        |  FROM (
        |    SELECT doc_a, doc_b, pb - pa AS diff, pa,
        |      pa - row_number() OVER (PARTITION BY doc_a, doc_b, pb - pa
        |                              ORDER BY pa) AS grp
        |    FROM m)
        |  GROUP BY doc_a, doc_b, diff, grp),
        |agg AS (
        |  SELECT doc_a, doc_b, CAST(max(span_len) AS BIGINT) AS max_span_len,
        |    CAST(sum(span_len) AS BIGINT) AS span_chars
        |  FROM sp WHERE span_len >= 30 GROUP BY doc_a, doc_b),
        |ln AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS lc
        |       FROM documents),
        |cut AS (
        |  SELECT agg.doc_b AS doc_id, agg.span_chars, agg.max_span_len
        |  FROM agg
        |  JOIN ln la ON la.doc_id = agg.doc_a
        |  JOIN ln lb ON lb.doc_id = agg.doc_b
        |  WHERE agg.span_chars * 10 >= 3 * least(la.lc, lb.lc)
        |     OR agg.max_span_len >= 100)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_partners,
        |  CAST(max(span_chars) AS BIGINT) AS worst_span_chars,
        |  CAST(max(max_span_len) AS BIGINT) AS worst_span
        |FROM cut GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      val ln = documents(s, d)
        .select(col("doc_id"), length(col("text")).cast("long").as("lc"))
      DocCore.dupSpans(s, d)
        .join(ln.select(col("doc_id").as("doc_a"), col("lc").as("la")),
              Seq("doc_a"))
        .join(ln.select(col("doc_id").as("doc_b"), col("lc").as("lb")),
              Seq("doc_b"))
        .filter(col("span_chars") * lit(10) >= lit(3) * least(col("la"), col("lb"))
                  || col("max_span_len") >= 100)
        .groupBy(col("doc_b").as("doc_id"))
        .agg(count(lit(1)).cast("long").as("n_partners"),
             max(col("span_chars")).cast("long").as("worst_span_chars"),
             max(col("max_span_len")).cast("long").as("worst_span"))
        .orderBy("doc_id")
    },

    // --------------- dedup: content-defined chunking (FastCDC) ----------
    // the oracle replays the normalized boundary walk as a recursive CTE:
    // each level advances every unfinished doc by one accepted cut (the
    // first hash candidate in [prev+16, prev+256], else the forced
    // prev+256) — the same fold the Spark side runs in-row
    OpDef(
      "q_dedup_cdc",
      """WITH RECURSIVE
        |d AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
        |      FROM documents WHERE length(text) >= 8),
        |cand AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS i
        |  FROM d, LATERAL (SELECT unnest(range(2, n - 6)) AS i) u
        |  WHERE CAST('0x' || substring(md5(substring(text, CAST(i AS INT), 8)),
        |                               1, 8) AS BIGINT) % 64 = 0),
        |cuts AS (
        |  SELECT doc_id, CAST(1 AS BIGINT) AS b, n FROM d
        |  UNION ALL
        |  SELECT c.doc_id,
        |    coalesce((SELECT min(a.i) FROM cand a WHERE a.doc_id = c.doc_id
        |              AND a.i >= c.b + 16 AND a.i <= c.b + 256), c.b + 256),
        |    c.n
        |  FROM cuts c
        |  WHERE coalesce((SELECT min(a.i) FROM cand a WHERE a.doc_id = c.doc_id
        |                  AND a.i >= c.b + 16 AND a.i <= c.b + 256),
        |                 c.b + 256) <= c.n),
        |g AS (SELECT doc_id, list_sort(list(b)) AS bs FROM cuts GROUP BY doc_id),
        |c AS (SELECT d.doc_id,
        |        substring(d.text, CAST(bs[j] AS INT),
        |          CAST((CASE WHEN j < len(bs) THEN bs[j + 1] ELSE d.n + 1 END)
        |            - bs[j] AS INT)) AS chunk
        |      FROM g JOIN d USING (doc_id),
        |           LATERAL (SELECT unnest(range(1, len(bs) + 1)) AS j) u),
        |h AS (SELECT doc_id, md5(chunk) AS ch,
        |        CAST(length(chunk) AS BIGINT) AS cl FROM c),
        |f AS (SELECT ch, count(DISTINCT doc_id) AS nd FROM h GROUP BY ch)
        |SELECT h.doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(count(*) FILTER (WHERE f.nd > 1) AS BIGINT) AS n_dup_chunks,
        |  CAST(coalesce(sum(cl) FILTER (WHERE f.nd > 1), 0) AS BIGINT)
        |    AS dup_chars
        |FROM h JOIN f ON h.ch = f.ch
        |GROUP BY h.doc_id ORDER BY h.doc_id""".stripMargin
    ) { (s, d) => cdcChunkDedup(documents(s, d), 8, 64, 16, 256) },

    // the xxhash64 fast twin at the same normalized bounds — no-oracle
    // (DuckDB cannot replay xxhash64); per-doc agreement with the md5
    // form and the chunk-length bounds are pinned in ApproxSpec /
    // HostileCorpusSpec
    OpDef.noOracle("q_dedup_cdc_fast") { (s, d) =>
      cdcChunkDedupFast(documents(s, d), 8, 64, 16, 256)
    },

    // ------------------------------------------- text: TF-IDF -----------
    OpDef(
      "q_text_tfidf",
      """WITH bag AS (
        |  SELECT doc_id, tok, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY doc_id, tok),
        |df AS (SELECT tok, count(*) AS df FROM bag GROUP BY tok),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |w AS (
        |  SELECT bag.doc_id, bag.tok,
        |    floor((bag.tf * ln(n.n_docs * 1.0 / df.df)) * 1000000.0 + 0.5)
        |      / 1000000.0 AS tfidf
        |  FROM bag JOIN df ON bag.tok = df.tok CROSS JOIN n),
        |r AS (
        |  SELECT doc_id, tok, tfidf,
        |    row_number() OVER (PARTITION BY doc_id
        |                       ORDER BY tfidf DESC, tok ASC) AS rn
        |  FROM w)
        |SELECT doc_id, tok, tfidf, rn FROM r WHERE rn <= 3
        |ORDER BY doc_id, rn""".stripMargin
    ) { (s, d) => tfidfTopK(documents(s, d), 3) },

    // ---------------------------------- text: per-doc keyword summary ---
    OpDef(
      "q_text_keywords",
      """WITH bag AS (
        |  SELECT doc_id, tok, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY doc_id, tok),
        |df AS (SELECT tok, count(*) AS df FROM bag GROUP BY tok),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |w AS (
        |  SELECT bag.doc_id, bag.tok,
        |    floor((bag.tf * ln(n.n_docs * 1.0 / df.df)) * 1000000.0 + 0.5)
        |      / 1000000.0 AS tfidf
        |  FROM bag JOIN df ON bag.tok = df.tok CROSS JOIN n),
        |r AS (
        |  SELECT doc_id, tok, tfidf,
        |    row_number() OVER (PARTITION BY doc_id
        |                       ORDER BY tfidf DESC, tok ASC) AS rn
        |  FROM w)
        |SELECT doc_id, string_agg(tok, ',' ORDER BY rn) AS keywords
        |FROM r WHERE rn <= 3
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) => keywordSummary(documents(s, d), 3) },

    // ------------------------------ text: repetition quality signals ----
    OpDef(
      "q_text_repetition",
      """WITH big AS (
        |  SELECT doc_id, len(toks) AS n_toks,
        |    unnest(list_transform(range(1, len(toks)),
        |           i -> toks[i] || ' ' || toks[i+1])) AS g2
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |  WHERE len(toks) >= 2),
        |c AS (SELECT doc_id, n_toks, g2, count(*) AS c FROM big
        |      GROUP BY doc_id, n_toks, g2)
        |SELECT doc_id, n_toks,
        |  floor((least(1.0, max(c) * 2.0 / n_toks)) * 1000000.0 + 0.5) / 1000000.0
        |    AS top_bigram_frac,
        |  floor((1.0 - count(*) * 1.0 / sum(c)) * 1000000.0 + 0.5) / 1000000.0
        |    AS dup_bigram_frac
        |FROM c
        |GROUP BY doc_id, n_toks
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) => repetitionSignals(documents(s, d)) },

    // ------------------------------------------- text: token entropy ----
    OpDef(
      "q_text_entropy",
      """WITH bag AS (
        |  SELECT doc_id, tok, count(*) AS c FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY doc_id, tok),
        |tot AS (SELECT doc_id, sum(c) AS n FROM bag GROUP BY doc_id)
        |SELECT bag.doc_id,
        |  CAST(max(tot.n) AS BIGINT) AS n_toks,
        |  floor((-sum((bag.c * 1.0 / tot.n) * ln(bag.c * 1.0 / tot.n)))
        |        * 1000000.0 + 0.5) / 1000000.0 AS entropy
        |FROM bag JOIN tot ON bag.doc_id = tot.doc_id
        |GROUP BY bag.doc_id
        |ORDER BY bag.doc_id""".stripMargin
    ) { (s, d) => tokenEntropy(documents(s, d)) },

    // ----------------------------------- text: bigram LM fluency score --
    OpDef(
      "q_text_lmscore",
      """WITH docs AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |bg AS (
        |  SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
        |  FROM docs, unnest(range(1, len(toks))) AS t(i)
        |  WHERE len(toks) >= 2),
        |c2 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
        |c1 AS (SELECT w1, sum(c12) AS c1 FROM c2 GROUP BY w1)
        |SELECT bg.doc_id,
        |  floor((avg(ln(c2.c12 * 1.0 / c1.c1))) * 1000000.0 + 0.5) / 1000000.0
        |    AS lm_score,
        |  count(*) AS n_bigrams
        |FROM bg
        |JOIN c2 ON bg.w1 = c2.w1 AND bg.w2 = c2.w2
        |JOIN c1 ON bg.w1 = c1.w1
        |GROUP BY bg.doc_id
        |ORDER BY bg.doc_id""".stripMargin
    ) { (s, d) => DocCore.lmScores(s, d).orderBy("doc_id") },

    // --------------------------------------- multimodal column assembly -
    OpDef(
      "q_multimodal",
      """SELECT d.doc_id,
        |  d.lang AS meta_lang, d.source AS meta_source,
        |  CAST(octet_length(encode(d.text)) AS BIGINT) AS byte_len,
        |  CAST((strpos('0123456789abcdef', substring(md5(d.text), 1, 1)) - 1) * 16
        |    + (strpos('0123456789abcdef', substring(md5(d.text), 2, 1)) - 1)
        |    AS BIGINT) AS fake_width,
        |  floor((sqrt(list_sum(list_transform(CAST(e.embedding AS DOUBLE[]),
        |                                      x -> x * x))))
        |        * 1000000.0 + 0.5) / 1000000.0 AS emb_norm
        |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
        |ORDER BY d.doc_id""".stripMargin
    ) { (s, d) =>
      // multimodal row: opaque binary payload + typed metadata + a
      // vector-derived feature. The "decode" (fake_width from md5) is a
      // deterministic STUB for an image decoder — the real thing would be a
      // mapPartitions over the binary column with the same schema; the
      // Spark-side plumbing (binary col, metadata, derived feature) is the
      // real, tested part. Metadata is emitted as flat meta_* scalars
      // (oracle-checked outputs must be scalar-only; the typed-struct
      // variant lives in Multimodal.scala's decode pipeline).
      documents(s, d).join(embeddings(s, d), col("doc_id") === col("vec_id"))
        .select(
          col("doc_id"),
          col("lang").as("meta_lang"), col("source").as("meta_source"),
          octet_length(col("text").cast("binary")).cast("long").as("byte_len"),
          ((expr("instr('0123456789abcdef', substring(md5(text), 1, 1))") - 1) * 16
            + (expr("instr('0123456789abcdef', substring(md5(text), 2, 1))") - 1))
            .cast("long").as("fake_width"),
          Det.r6(sqrt(aggregate(
            transform(col("embedding"), x => x.cast("double")),
            lit(0.0), (acc, x) => acc + x * x))).as("emb_norm"))
        .orderBy("doc_id")
    },

    /** BM25 relevance scoring (k₁=1.2, b=0.75) of every document against a
      * fixed 5-term query vocabulary — the lexical-retrieval baseline that
      * q_text_tfidf's log-scaled weights approximate: BM25 adds tf
      * SATURATION (a 50th occurrence adds almost nothing) and document-
      * length normalization, which is why it's still the first-stage
      * ranker in front of embedding re-rank in most retrieval stacks.
      *
      * Shuffle shape: term×doc scoring rows are map-only (an in-row
      * `filter` count per term — no token explode, no corpus shuffle);
      * the only aggregations are the 1-row corpus stats (N, Σdl) and the
      * 5-row df table, both broadcast back; the per-term top-20 runs as
      * WindowGroupLimit over 5 bounded partitions. Determinism: tf/df/dl
      * are integers, so the score expression is one fixed double
      * evaluation per row spelled char-identically in both engines
      * (idf·2.2·tf / (tf + 1.2·(0.25 + 0.75·dl/avgdl)), avgdl as one
      * exact BIGINT-ratio division); ranks tie-break on doc_id. */
    OpDef(
      "q_text_bm25",
      """WITH q(term) AS (VALUES ('table'), ('value'), ('data'),
        |                        ('join'), ('query')),
        |dl AS (SELECT doc_id, string_split(text, ' ') AS toks,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
        |       FROM documents),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |              CAST(sum(dl) AS BIGINT) AS sdl FROM dl),
        |tf AS (SELECT q.term, d.doc_id, d.dl,
        |         CAST(len(list_filter(d.toks, x -> x = q.term)) AS BIGINT)
        |           AS tf
        |       FROM dl d CROSS JOIN q),
        |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df
        |       FROM tf WHERE tf > 0 GROUP BY term),
        |sc AS (SELECT tf.term, tf.doc_id, tf.tf,
        |         ln((CAST(st.n - df.df AS DOUBLE) + 0.5)
        |            / (CAST(df.df AS DOUBLE) + 0.5) + 1.0)
        |         * (CAST(tf.tf AS DOUBLE) * 2.2)
        |         / (CAST(tf.tf AS DOUBLE)
        |            + 1.2 * (0.25 + 0.75 * (CAST(tf.dl AS DOUBLE)
        |                     / (CAST(st.sdl AS DOUBLE)
        |                        / CAST(st.n AS DOUBLE))))) AS score
        |       FROM tf JOIN df USING (term) CROSS JOIN st
        |       WHERE tf.tf > 0),
        |sr AS (SELECT term, doc_id, tf,
        |         floor(score * 1000000.0 + 0.5) / 1000000.0 AS score
        |       FROM sc),
        |r AS (SELECT term, doc_id, tf, score,
        |        CAST(row_number() OVER (PARTITION BY term
        |          ORDER BY score DESC, doc_id) AS BIGINT) AS rk
        |      FROM sr)
        |SELECT term, rk, doc_id, tf, score FROM r
        |WHERE rk <= 20 ORDER BY term, rk""".stripMargin
    ) { (s, d) =>
      val terms = Seq("table", "value", "data", "join", "query")
      // fan the one-file corpus out first (r16 §2.5 discipline): dl feeds
      // st, df AND the final score join — three passes over the
      // tokenize + per-term count pipeline, each of which otherwise runs
      // as ONE scan task (ProfileQ: a 0.30 s single-task job per pass)
      val dl = documents(s, d)
        .repartition(documents(s, d).sparkSession
          .sessionState.conf.numShufflePartitions)
        .select(col("doc_id"), split(col("text"), " ").as("toks"),
                size(split(col("text"), " ")).cast("long").as("dl"))
      val st = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("sdl"))
      val tf = dl
        .select(col("doc_id"), col("dl"),
                explode(array(terms.map(lit): _*)).as("term"), col("toks"))
        .select(col("term"), col("doc_id"), col("dl"),
                expr("CAST(size(filter(toks, x -> x = term)) AS BIGINT)")
                  .as("tf"))
        .filter(col("tf") > 0)
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      // rank over the ROUNDED score: both engines then break exact ties on
      // doc_id identically (ranking raw doubles and rounding after would
      // let sub-ulp differences the oracle can't see reorder near-ties)
      val w = Window.partitionBy(col("term"))
        .orderBy(col("score").desc, col("doc_id"))
      tf.join(broadcast(df), Seq("term")).crossJoin(broadcast(st))
        .select(col("term"), col("doc_id"), col("tf"), Det.r6(expr(
          """ln((CAST(n - df AS DOUBLE) + 0.5)
            |   / (CAST(df AS DOUBLE) + 0.5) + 1.0)
            |* (CAST(tf AS DOUBLE) * 2.2)
            |/ (CAST(tf AS DOUBLE)
            |   + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE)
            |            / (CAST(sdl AS DOUBLE)
            |               / CAST(n AS DOUBLE)))))""".stripMargin))
            .as("score"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 20)
        .select(col("term"), col("rk"), col("doc_id"), col("tf"),
                col("score"))
        .orderBy("term", "rk")
    },

    /** Dedup quality harness: precision/recall of the MinHash-banded
      * candidate pairs against the exact 3-gram-Jaccard ≥ 0.5 pairs —
      * the confusion numbers every banding configuration (rows × bands,
      * here 4×4) is chosen by. Both sides are deterministic
      * oracle-checked pipelines (md5 permutations / capped gram join),
      * so the harness itself is oracle-checked — the ANN counterpart is
      * q_eval_ann. Precision < 1 is the banding's false-candidate rate
      * (cheap: false candidates fail verification); recall < 1 is the
      * miss rate (expensive: missed duplicates ship). One row, three
      * exact integer counts + two guarded r4 ratios; the two 1-row
      * count attaches are declared BNLJ-allowlist entries. */
    OpDef(
      "q_eval_dedup",
      s"""WITH $gramsCappedSql,
        |gcnt AS (SELECT doc_id, count(*) AS c FROM gramsf GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS n
        |          FROM gramsf a JOIN gramsf b
        |            ON a.g = b.g AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |ex AS (
        |  SELECT i AS doc_a, j AS doc_b
        |  FROM inter
        |  JOIN gcnt ca ON i = ca.doc_id
        |  JOIN gcnt cb ON j = cb.doc_id
        |  WHERE n * 1.0 / (ca.c + cb.c - n) >= 0.5),
        |hashed AS (
        |  SELECT doc_id, seed,
        |    min(CAST('0x' || substring(md5((seed // 4) || ':' || g),
        |                               1 + 8 * (seed % 4), 8) AS BIGINT)) AS minh
        |  FROM grams, (SELECT unnest(range(0, 16)) AS seed)
        |  GROUP BY doc_id, seed),
        |bands AS (
        |  SELECT doc_id, seed // 4 AS band,
        |         string_agg(CAST(minh AS VARCHAR), ',' ORDER BY seed) AS sig
        |  FROM hashed GROUP BY doc_id, seed // 4),
        |bandsf AS (
        |  SELECT doc_id, band, sig FROM (
        |    SELECT doc_id, band, sig,
        |           count(*) OVER (PARTITION BY band, sig) AS bsz
        |    FROM bands)
        |  WHERE bsz <= $bandBucketCap),
        |ap AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bandsf a JOIN bandsf b
        |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
        |hit AS (SELECT doc_a, doc_b FROM ex JOIN ap USING (doc_a, doc_b))
        |SELECT CAST(x.ne AS BIGINT) AS n_exact,
        |  CAST(y.na AS BIGINT) AS n_approx,
        |  CAST(z.nh AS BIGINT) AS n_hit,
        |  floor((z.nh * 1.0 / nullif(y.na, 0)) * 10000.0 + 0.5) / 10000.0
        |    AS prec,
        |  floor((z.nh * 1.0 / nullif(x.ne, 0)) * 10000.0 + 0.5) / 10000.0
        |    AS rec
        |FROM (SELECT count(*) AS ne FROM ex) x,
        |     (SELECT count(*) AS na FROM ap) y,
        |     (SELECT count(*) AS nh FROM hit) z""".stripMargin
    ) { (s, d) =>
      // both pair tables feed a count AND the intersection join, but both
      // references sit in ONE physical plan where ReusedExchange dedupes
      // the work — explicit caches measured neutral (the harness's cost
      // is genuinely one run of each pipeline, ~the sum of the two ops)
      val ex = jaccardFinish(jaccardPairsFrom(DocCore.grams(s, d), 0.5))
        .select("doc_a", "doc_b")
      val ap = minhashPairsFromSigs(DocCore.sigs(s, d))
        .select("doc_a", "doc_b")
      val hit = ex.join(ap, Seq("doc_a", "doc_b"))
      ex.agg(count(lit(1)).as("ne"))
        .crossJoin(broadcast(ap.agg(count(lit(1)).as("na"))))
        .crossJoin(broadcast(hit.agg(count(lit(1)).as("nh"))))
        .select(col("ne").cast("long").as("n_exact"),
                col("na").cast("long").as("n_approx"),
                col("nh").cast("long").as("n_hit"),
                Det.r4(col("nh") * lit(1.0) / nullif(col("na"), lit(0)))
                  .as("prec"),
                Det.r4(col("nh") * lit(1.0) / nullif(col("ne"), lit(0)))
                  .as("rec"))
    }
  )
}
