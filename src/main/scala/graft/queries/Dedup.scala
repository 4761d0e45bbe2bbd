package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import graft.Tables
import graft.functions.VectorFunctions

/** Deduplication operators over the `documents` corpus — the first of the
  * LLM-training-pipeline components (brief north star; SURVEY.md §7.5).
  *
  * All hashing is md5-based so the DuckDB oracle reproduces every bit:
  * Spark's native `hash`/`xxhash64` have no DuckDB counterpart, while
  * `md5(string)` is identical in both engines. MinHash over k seeded
  * functions uses the *string minimum* of `md5("k:" || shingle)` — a
  * uniform permutation surrogate that needs no hex→int conversion.
  *
  * The gate corpus is `documents` with injected duplicates (exact copies
  * re-keyed at +1M, 90%-prefix truncations at +2M) so every operator's
  * match path is exercised non-vacuously; the testdata itself also plants
  * a few genuine near-duplicates which LSH must (and does) surface.
  *
  * Scale posture (100 TB): everything is map-side per-document expression
  * work except (1) the exact-dedup groupBy, which shuffles only
  * (hash, doc_id) — never payload columns; (2) the LSH band self-join,
  * which shuffles (band, sig, doc_id) and joins only within buckets —
  * never all-pairs; (3) the verify join, which touches candidate pairs
  * only. Skewed buckets (boilerplate text) are AQE skew-join territory.
  */
object Dedup extends QueryModule {

  private def t(s: SparkSession, dir: String, n: String) = Tables.wide(s, dir, n)

  private val K = 12 // minhash functions
  private val B = 4 // LSH bands
  private val R = 3 // rows (hashes) per band

  /** documents ∪ exact copies (+1M) ∪ 90%-word-prefix near-copies (+2M). */
  private def corpus(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select("doc_id", "text")
    val exact = d.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val near = d.filter(col("doc_id") % 5 === 0)
      .select(
        (col("doc_id") + 2000000L).as("doc_id"),
        expr("array_join(slice(split(text, ' '), 1, (size(split(text, ' ')) * 9) div 10), ' ')")
          .as("text"))
    d.unionByName(exact).unionByName(near)
  }

  private val corpusSql =
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id + 2000000,
      |    array_to_string(list_slice(string_split(text, ' '), 1,
      |      (len(string_split(text, ' ')) * 9) // 10), ' ')
      |  FROM documents WHERE doc_id % 5 = 0)""".stripMargin

  // ---------------------------------------------------------------- dd1
  // Exact dedup on normalized-text hash: lower/trim/collapse-whitespace →
  // md5 → group. Only (hash, doc_id) cross the exchange; the keeper is
  // the minimum id (deterministic). Recovering full rows at scale is a
  // broadcast/shuffle semi-join of keeper ids back to the corpus — the
  // payload never shuffles.
  /** Normalization hash shared by dd1 and the curation pipeline. */
  private[queries] def normalizedTextHash(text: Column): Column =
    md5(lower(trim(regexp_replace(text, "\\s+", " "))))
  private[queries] def normalizedTextHashSql(textCol: String): String =
    s"md5(lower(trim(regexp_replace($textCol, '\\s+', ' ', 'g'))))"

  private def exactDedup(s: SparkSession, dir: String): DataFrame =
    corpus(s, dir)
      .withColumn("text_hash", normalizedTextHash(col("text")))
      .groupBy("text_hash")
      .agg(min("doc_id").as("keeper_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("text_hash").asc_nulls_first)

  private val exactDedupSql =
    s"""WITH $corpusSql
       |SELECT ${normalizedTextHashSql("text")} AS text_hash,
       |  MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_copies
       |FROM corpus
       |GROUP BY 1
       |ORDER BY text_hash NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- dd2
  /** (doc_id, shingles): distinct word-3-gram sets. Shared with
    * Text.fingerprint so shingle construction can't drift between the
    * dedup pairs and the fingerprints.
    */
  private[queries] def shingled(c: DataFrame): DataFrame =
    shingledN(c, n = 3, hashed = false)

  /** [[shingled]] with each doc's shingle list sorted ascending — the
    * precondition for [[jaccardVerified]]'s sorted-merge verify
    * (sortedSets = true). One O(k log k) sort per DOCUMENT buys a
    * linear merge per candidate PAIR; every anchor/minhash consumer of
    * the list is order-insensitive (mins and set ops), so sorting here
    * changes nothing but the verify kernel's applicability.
    */
  private[queries] def sortedShingled(c: DataFrame): DataFrame =
    shingled(c).withColumn("shingles", array_sort(col("shingles")))

  /** One shingle pipeline for every n-gram consumer (dd2/dd6 raw
    * trigrams, dd8 hashed 4-grams): tokenization and windowing changes
    * apply to all of them or none — no drift channel. The hashed path
    * runs the one-pass codegen NgramMd5 kernel (per-gram md5 IS the
    * corpus inner loop there); the interpreted HOF spelling it equals
    * is the equivalence reference in VectorExprsSpec.
    */
  private[queries] def shingledN(c: DataFrame, n: Int, hashed: Boolean): DataFrame = {
    val gram = (i: Column) => array_join(slice(col("words"), i, lit(n)), " ")
    val shingles =
      if (hashed) VectorFunctions.ngramMd5(col("words"), n)
      else array_distinct(
        transform(sequence(lit(1), size(col("words")) - (n - 1)), i => gram(i)))
    c.withColumn("words", split(col("text"), " "))
      .filter(size(col("words")) >= n)
      .withColumn("shingles", shingles)
      .select("doc_id", "shingles")
  }

  /** DuckDB twin of [[shingledN]]'s shingle-list expression over a
    * word-list column `w`.
    */
  private def shingleListSql(n: Int, hashed: Boolean): String = {
    val gram = s"array_to_string(w[i:i+${n - 1}], ' ')"
    val e = if (hashed) s"md5($gram)" else gram
    s"list_distinct(list_transform(range(1, len(w) - ${n - 2}), i -> $e))"
  }

  private val shingledSql =
    s"""sh AS (
       |  SELECT doc_id,
       |    ${shingleListSql(n = 3, hashed = false)} AS shingles
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM corpus)
       |  WHERE len(w) >= 3)""".stripMargin

  /** Exact shingle-set Jaccard over candidate (doc_a, doc_b) pairs —
    * shared by the LSH (dd2) and anchor-blocked (dd6) passes so the
    * verify semantics cannot drift between them.
    */
  /** @param sortedSets caller guarantees each doc's shingle list is
    *                    ascending (and distinct, as every shingle frame
    *                    already is): the exact |A∩B| then comes from the
    *                    codegen merge-count over the two sorted lists
    *                    (dd17's containment kernel) and |A∪B| from
    *                    |A|+|B|−|A∩B| — one linear pass per pair instead
    *                    of two hash-set builds (array_intersect +
    *                    array_union), the verify inner loop (r18 opt).
    *                    Same integers, same double division: the jaccard
    *                    value is bit-identical to the set-op spelling.
    */
  private def jaccardVerified(cand: DataFrame, sh: DataFrame, minJ: Double,
      sorted: Boolean = true, sortedSets: Boolean = false): DataFrame = {
    val joined = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("shingles").as("sa")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingles").as("sb")), Seq("doc_b"))
    val scored =
      if (sortedSets)
        joined.select(col("doc_a"), col("doc_b"),
          VectorFunctions.sortedIntersectCount(col("sa"), col("sb")).cast(LongType).as("ic"),
          (size(col("sa")) + size(col("sb"))).cast(LongType).as("nn"))
          .select(col("doc_a"), col("doc_b"),
            (col("ic").cast(DoubleType) / (col("nn") - col("ic")).cast(DoubleType))
              .as("jaccard"))
      else
        joined.select(col("doc_a"), col("doc_b"),
          (size(array_intersect(col("sa"), col("sb"))).cast(DoubleType) /
            size(array_union(col("sa"), col("sb"))).cast(DoubleType)).as("jaccard"))
    val verified = scored.filter(col("jaccard") >= minJ)
    if (sorted) verified.orderBy(col("doc_a").asc_nulls_first, col("doc_b").asc_nulls_first)
    else verified
  }

  /** The oracle twin of [[jaccardVerified]]: expects CTEs `cand` and `sh`. */
  private def jaccardVerifySqlTail(minJ: Double): String =
    s"""SELECT doc_a, doc_b,
       |  CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
       |  CAST(len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS DOUBLE) AS jaccard
       |FROM cand
       |JOIN sh sa ON cand.doc_a = sa.doc_id
       |JOIN sh sb ON cand.doc_b = sb.doc_id
       |WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
       |      CAST(len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS DOUBLE) >= $minJ
       |ORDER BY doc_a NULLS FIRST, doc_b NULLS FIRST""".stripMargin

  /** Just the verified pair list (no score column, no ORDER BY) against
    * a named candidate CTE — for oracles that COMPOSE verified channels
    * (dd15) rather than emit them.
    */
  private def jaccardPairsSql(minJ: Double, cand: String): String =
    s"""SELECT doc_a, doc_b FROM $cand
       |  JOIN sh sa ON $cand.doc_a = sa.doc_id
       |  JOIN sh sb ON $cand.doc_b = sb.doc_id
       |  WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
       |        CAST(len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS DOUBLE)
       |        >= $minJ""".stripMargin

  // ------------------------------------------ exact-duplicate contraction
  /** (members, repCorpus): one representative document per EXACT-text
    * class — er2's contraction lemma applied to the near-dup channels
    * (r16 VERDICT #1). Every signature these pipelines band on (MinHash
    * sigs, SimHash fingerprint, n-gram anchors) and every verify score
    * (shingle Jaccard, Hamming) is a pure function of the text, so
    * exact-text copies are fully interchangeable: a copy is a candidate
    * with exactly its rep's partners and verifies at exactly its rep's
    * score, and copies within one class pair with each other at the
    * identity score (Jaccard 1.0 / Hamming 0), which passes every
    * channel's threshold. Running the banded pipeline over reps and
    * expanding afterward therefore reproduces the uncontracted pair set
    * EXACTLY (pinned pair-for-pair in DedupSimilaritySpec) while the
    * candidate join scales with DISTINCT texts, not rows — on an N-way
    * replicated corpus (ScaleGen's sf10 shape, where dd2 measured 1.7×
    * over linear from inflated band-bucket occupancy) band buckets stop
    * growing with N altogether.
    *
    * The contraction is one hash aggregate whose map-side partials
    * collapse copies BEFORE the exchange (the more duplicated the
    * corpus, the less it shuffles), plus a members map carrying two
    * longs per row. NULL text forms one inert class under a sentinel
    * key (md5 output is hex, so "null" cannot collide).
    */
  /** Duplicate-driven candidate mass per row: Σ_classes n·(n−1) / N,
    * the expected number of SAME-TEXT partners a row meets in any
    * bucket it lands in — the exact quantity exact-dup contraction
    * removes from the banded self-joins. The r17 sf10 measurements
    * fixed the decision rule: the corpus is NOT uniformly replicated
    * (ScaleGen varies document text; 501k of 671k corpus texts are
    * unique at sf10), so blanket contraction pays 3 extra narrow
    * exchanges for nothing at gate scale (dd2 1.2 → 2.4 s at sf0.1,
    * multiplier 0.22) while a handful of ~100-way classes still blow
    * up the buckets at sf10 (multiplier 14.7, dd2 201 s → ~135 s
    * contracted). Break-even is multiplier ≈ 1 — duplicate-driven
    * candidate work equal to one corpus-linear pass, the cost class of
    * the contraction itself — so each near-dup entry runs this census
    * (one narrow hash aggregate: 32-byte md5 keys, map-side combined)
    * and contracts only above [[DupContractionThreshold]]. Same
    * census → path-choice shape as AdaptiveBlocker's block bound.
    */
  private[graft] val DupContractionThreshold = 1.0

  /** Per-dir memo for the census (ADVICE r17): the three near-dup gate
    * entries each ran it as an eager collect() at frame-build time —
    * a full corpus scan + md5 per entry per sweep. The corpus at a dir
    * is immutable for a JVM's lifetime (driver-generated testdata), so
    * one census serves all channels, like a shared view. Frame-driven
    * callers (specs, synthetic corpora) keep the uncached entry point.
    */
  private val dupMultiplierMemo =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()

  private def dupMultiplierFor(s: SparkSession, dir: String): Double =
    dupMultiplierMemo.computeIfAbsent(dir,
      _ => dupMultiplier(corpus(s, dir))).doubleValue()

  private[graft] def dupMultiplier(c: DataFrame): Double = {
    val r = c
      .select(coalesce(md5(col("text")), lit("null")).as("th"))
      .groupBy("th").agg(count(lit(1)).as("n"))
      .agg(sum(col("n") * (col("n") - lit(1L))).as("mass"), sum(col("n")).as("nr"))
      .collect()(0)
    if (r.isNullAt(1) || r.getLong(1) == 0L) 0.0
    else r.getLong(0).toDouble / r.getLong(1)
  }

  private[graft] def contractedCorpus(c: DataFrame): (DataFrame, DataFrame) = {
    // NULL doc_id rows are dropped outright (r17 review #1): in the
    // uncontracted pipelines a NULL id can never pair — every candidate
    // join orients on `a.doc_id < b.doc_id`, which is NULL-false in
    // both roles — while the expansion's least/greatest would NULL-SKIP
    // and mint a degenerate (x, x) self-pair. Excluding the rows here
    // is exactly the uncontracted pair semantics.
    val keyed = c.filter(col("doc_id").isNotNull)
      .select(col("doc_id"), col("text"),
        coalesce(md5(col("text")), lit("null")).as("th"))
    val classes = keyed.groupBy("th")
      .agg(min("doc_id").as("rep"), min_by(col("text"), col("doc_id")).as("text"))
    val members = keyed.select("doc_id", "th")
      .join(classes.select("th", "rep"), Seq("th"))
      .select("doc_id", "rep")
    (members, classes.select(col("rep").as("doc_id"), col("text")))
  }

  /** Expand rep-level verified pairs onto all class members: cross-class
    * pairs inherit the rep pair's score (same texts ⇒ same score);
    * intra-class pairs carry the identity score and exist only for
    * classes that PARTICIPATE in the channel's match path (e.g. docs
    * with ≥ n words — `participating` is one `rep` column naming them),
    * mirroring which docs the uncontracted pipeline could ever pair.
    * Pairs stay unique by construction: a cross pair has a unique rep
    * pair, an intra pair a unique class.
    */
  private def expandPairs(members: DataFrame, repPairs: DataFrame,
      participating: DataFrame, payload: Seq[(String, Column)]): DataFrame = {
    val cross = repPairs
      .join(members.select(col("rep").as("doc_a"), col("doc_id").as("xa")), Seq("doc_a"))
      .join(members.select(col("rep").as("doc_b"), col("doc_id").as("xb")), Seq("doc_b"))
      .select(least(col("xa"), col("xb")).as("doc_a") +:
        greatest(col("xa"), col("xb")).as("doc_b") +:
        payload.map { case (n, _) => col(n) }: _*)
    val sm = members.join(participating, Seq("rep"), "left_semi")
    val intra = sm.as("p").join(sm.as("q"),
        col("p.rep") === col("q.rep") && col("p.doc_id") < col("q.doc_id"))
      .select(col("p.doc_id").as("doc_a") +: col("q.doc_id").as("doc_b") +:
        payload.map { case (n, cc) => cc.as(n) }: _*)
    cross.unionByName(intra)
  }

  // MinHash-LSH near-dup pairs, verified: signature → banded bucket
  // self-join (candidates) → true shingle-Jaccard filter ≥ 0.5.
  /** (doc_id, band_id, sig) LSH band rows for a shingled frame: all K
    * seeded minima in ONE codegen pass over the shingles (the HOF
    * spelling — K interpreted array_min(transform(md5)) sweeps — is the
    * equivalence reference in VectorExprsSpec), banded B×R. Shared by the
    * self-join (dd2) and incremental (dd10) passes so banding can't
    * drift between them.
    */
  private def bandRowsOf(sh: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    val withMh = sh.withColumn("mhs", VectorFunctions.minhashSigs(col("shingles"), K))
    val withBands = (0 until B).foldLeft(withMh)((df, b) =>
      df.withColumn(s"band$b",
        md5(concat_ws("|", (0 until R).map(r => col("mhs")(b * R + r)): _*))))
    withBands.select(
      col("doc_id") +: carry.map(col) :+
        explode(array((0 until B).map(b =>
          struct(lit(b).as("band_id"), col(s"band$b").as("sig"))): _*)).as("kv"): _*)
      .select(col("doc_id") +: carry.map(col) :+
        col("kv.band_id").as("band_id") :+ col("kv.sig").as("sig"): _*)
  }

  /** The verified near-dup pair table, memoized: dd7/ds6/cur3 all derive
    * from EXACTLY this frame (pairs are tiny next to the corpus — only
    * docs sharing an LSH band survive), and each rebuilt the full
    * shingle→minhash→band→verify pipeline in r8 (VERDICT r08 #4). The
    * dd2 gate entry itself stays un-memoized so its bench time measures
    * the real pipeline.
    */
  private def minhashPairsShared(s: SparkSession, dir: String): DataFrame =
    graft.Scratch.shared(s, "dedup_minhash_pairs", dir)(minhashPairs(s, dir))

  private def minhashPairs(s: SparkSession, dir: String): DataFrame = {
    val c = corpus(s, dir)
    if (dupMultiplierFor(s, dir) > DupContractionThreshold) minhashPairsOver(c)
    else minhashPairsUncontracted(c)
  }

  /** Contracted LSH pipeline (r16 VERDICT #1): shingle/band/verify over
    * exact-text class reps, then expand — identical pair set (spec-
    * pinned vs [[minhashPairsUncontracted]]), candidate work bounded by
    * distinct texts per bucket. Entered via the [[dupMultiplier]]
    * census; either path emits the same pairs, so the choice is purely
    * physical.
    */
  /** Band-bucket candidate pairs over an LSH band-row frame — the one
    * spelling of the bucket self-join, shared by the contracted gate
    * path and the uncontracted spec reference (r17 review #4: a future
    * banding change must not need hand-mirroring).
    */
  private def lshCandidates(bandRows: DataFrame): DataFrame =
    bandRows.as("a")
      .join(bandRows.as("b"),
        col("a.band_id") === col("b.band_id") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()

  private[graft] def minhashPairsOver(c: DataFrame): DataFrame = {
    // The shingle sets feed three consumers (both self-join sides + the
    // verify stage), the band signatures two, and the members map four
    // (both expansion roles + both intra self-join sides) — persist them
    // instead of recomputing the md5 pipeline per consumer. At 100 TB
    // this materialization is mandatory, not an option: signatures are
    // ~1% of corpus size and the alternative is N full-corpus re-hashes.
    val (members0, repCorpus) = contractedCorpus(c)
    val members = members0.persist(StorageLevel.MEMORY_AND_DISK)
    val sh = shingled(repCorpus).persist(StorageLevel.MEMORY_AND_DISK)
    val bandRows = bandRowsOf(sh).persist(StorageLevel.MEMORY_AND_DISK)
    val repPairs = jaccardVerified(lshCandidates(bandRows), sh, minJ = 0.5, sorted = false)
    expandPairs(members, repPairs, sh.select(col("doc_id").as("rep")),
      Seq("jaccard" -> lit(1.0)))
      .orderBy(col("doc_a").asc_nulls_first, col("doc_b").asc_nulls_first)
  }

  /** The pre-contraction pipeline, kept ONLY as the equality reference
    * for the contraction spec — no gate entry runs it.
    */
  private[graft] def minhashPairsUncontracted(c: DataFrame): DataFrame = {
    val sh = shingled(c).persist(StorageLevel.MEMORY_AND_DISK)
    val bandRows = bandRowsOf(sh).persist(StorageLevel.MEMORY_AND_DISK)
    jaccardVerified(lshCandidates(bandRows), sh, minJ = 0.5)
  }

  /** The minhash→band→bucket-join candidate CTE chain (mh, sigs,
    * bandrows, cand) — shared by the dd2 oracle and the dd15 quality
    * audit so the banding spelling cannot drift between them.
    */
  private lazy val lshCandCtes: String = {
    val minhs = (0 until K).map(k =>
      s"list_min(list_transform(shingles, x -> md5('$k:' || x))) AS mh$k").mkString(",\n    ")
    val bands = (0 until B).map(b =>
      s"md5(${(0 until R).map(r => s"mh${b * R + r}").mkString(" || '|' || ")}) AS band$b")
      .mkString(",\n    ")
    val bandRows = (0 until B).map(b =>
      s"SELECT doc_id, $b AS band_id, band$b AS sig FROM sigs").mkString(" UNION ALL ")
    s"""mh AS (
       |  SELECT doc_id,
       |    $minhs
       |  FROM sh),
       |sigs AS (
       |  SELECT doc_id,
       |    $bands
       |  FROM mh),
       |bandrows AS ($bandRows),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bandrows a
       |  JOIN bandrows b ON a.band_id = b.band_id AND a.sig = b.sig AND a.doc_id < b.doc_id)""".stripMargin
  }

  private lazy val minhashPairsSql =
    s"""WITH $corpusSql,
       |$shingledSql,
       |$lshCandCtes
       |${jaccardVerifySqlTail(0.5)}""".stripMargin

  // ---------------------------------------------------------------- dd3
  // 64-bit SimHash fingerprint: bit i is the sign of the word-multiset
  // sum of ±1 weighted by md5 nibble signs (bits 0..31 from md5(w),
  // 32..63 from md5(w || '1')) — order-independent, no shuffle at all
  // until the final sort; exact copies collide by construction.
  // Computed by the codegen SimHash64 kernel (one pass, byte digests);
  // the interpreted-HOF spelling lives in VectorExprsSpec as the
  // equivalence reference. 64 bits (vs r9's 16): the band domain is
  // what bounds bucket population in the dd5 sweep — see the kernel
  // scaladoc.
  /** (doc_id, simhash) without the gate sort — shared by dd3 (the
    * fingerprint table) and dd5 (the near-dup pair sweep).
    */
  private def simhashFrame(s: SparkSession, dir: String): DataFrame =
    simhashOf(corpus(s, dir))

  private def simhashOf(c: DataFrame): DataFrame =
    c.select(
      col("doc_id"),
      // null text → simhash 0, as the HOF chain and the oracle's CASE
      // WHEN NULL > 0 … ELSE 0 bits both collapse to (no null docs in
      // the fixtures, but the contract must not depend on that)
      coalesce(VectorFunctions.simhash64(split(col("text"), " ")), lit(0L)).as("simhash"))

  private def simhash(s: SparkSession, dir: String): DataFrame =
    simhashFrame(s, dir).orderBy(col("doc_id").asc_nulls_first)

  /** The 64 oracle CASE bits (DuckDB), shared with mm5's restatement:
    * bit i over the plain digests `h0`, bit 32+i over the salted `h1`.
    * Bit 63's weight is BIGINT MinValue — spelled `(-MAX - 1)` because a
    * bare `-9223372036854775808` literal promotes to HUGEINT in DuckDB
    * and would drag the whole sum (and the gate dtype) out of int64;
    * textual order puts all positive terms first, so no intermediate
    * BIGINT sum overflows.
    */
  private[queries] def simhash64BitsSql(h0: String, h1: String): String = {
    val hn = "('8','9','a','b','c','d','e','f')"
    def weight(b: Int): String =
      if (b == 63) "(-9223372036854775807 - 1)" else (1L << b).toString
    def half(hs: String, base: Int) = (0 until 32).map(i =>
      s"""CASE WHEN list_sum(list_transform($hs,
         |      h -> CASE WHEN substr(h, ${i + 1}, 1) IN $hn THEN 1 ELSE -1 END)) > 0
         |    THEN ${weight(base + i)} ELSE 0 END""".stripMargin)
    (half(h0, 0) ++ half(h1, 32)).mkString(" +\n  ")
  }

  private val simhashCtes = {
    s"""$corpusSql,
       |hashed AS (
       |  SELECT doc_id,
       |    list_transform(string_split(text, ' '), w -> md5(w)) AS h0,
       |    list_transform(string_split(text, ' '), w -> md5(w || '1')) AS h1
       |  FROM corpus),
       |sims AS (
       |  SELECT doc_id,
       |  ${simhash64BitsSql("h0", "h1")} AS simhash
       |  FROM hashed)""".stripMargin
  }

  private val simhashSql =
    s"""WITH $simhashCtes
       |SELECT doc_id, simhash FROM sims
       |ORDER BY doc_id NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- dd5
  /** SimHash near-dup pair sweep — the hamming-ball member of the dedup
    * family: 4 bands of 16 bits over the 64-bit fingerprint; pairs
    * sharing any band bucket are candidates, verified by exact hamming
    * distance `bit_count(xor) <= 3`. Recall at that radius is exact by
    * pigeonhole (3 differing bits leave 1 of 4 bands intact). The band
    * DOMAIN is the scale knob (VERDICT r9 #3): r9's 2×8-bit bands had
    * 256 bucket values, so bucket population — and the in-bucket
    * self-join — grew linearly with corpus size (O(N²/512) pairs, the
    * #2 slowest bench entry at sf0.1); 65 536 values per band defers
    * that 256-fold. Same banded-bucket shape as the LSH pass: the
    * pairwise work is confined to buckets, never all-pairs, and the
    * frame that self-joins carries only (doc_id, simhash, band) —
    * three longs — so the exchange is narrow no matter how wide the
    * documents are.
    */
  private val SimBands = 4
  private val HammingMax = 3

  private def simhashNearDup(s: SparkSession, dir: String): DataFrame = {
    val c = corpus(s, dir)
    if (dupMultiplierFor(s, dir) > DupContractionThreshold) simhashNearDupOver(c)
    else simhashNearDupUncontracted(c)
  }

  /** Banded hamming-ball pair sweep over a (doc_id, simhash) frame —
    * the one spelling of the band explode + bucket self-join + hamming
    * verify, shared by the contracted gate path and the uncontracted
    * spec reference (r17 review #4).
    */
  private def simhashBandPairs(sims: DataFrame): DataFrame = {
    val bandRows = sims.select(
      col("doc_id"), col("simhash"),
      posexplode(array((0 until SimBands).map(b =>
        shiftright(col("simhash"), 16 * b).bitwiseAND(lit(65535L))): _*)).as(Seq("band_id", "bv")))
    bandRows.as("a")
      .join(bandRows.as("b"),
        col("a.band_id") === col("b.band_id") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_a"),
        col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast(IntegerType).as("hamming"))
      .distinct()
      .filter(col("hamming") <= HammingMax)
  }

  /** Contracted SimHash sweep (r16 VERDICT #1's dd5 audit — CONTRACT):
    * the fingerprint is a pure function of the text, so exact copies
    * share every band bucket with their rep and pair intra-class at
    * Hamming 0 ≤ [[HammingMax]]; the sweep runs over exact-text reps
    * and expands, pair-for-pair equal to the uncontracted sweep
    * (spec-pinned). Every document participates (null text → simhash 0
    * still fingerprints), so the intra expansion is unrestricted.
    */
  private[graft] def simhashNearDupOver(c: DataFrame): DataFrame = {
    val (members0, repCorpus) = contractedCorpus(c)
    val members = members0.persist(StorageLevel.MEMORY_AND_DISK)
    // both sides of the band self-join consume the fingerprint frame; the
    // 64 per-word hash folds are the expensive part, so materialize once
    // (same persist-the-signatures reasoning as the LSH pass above)
    val sims = simhashOf(repCorpus).persist(StorageLevel.MEMORY_AND_DISK)
    expandPairs(members, simhashBandPairs(sims), sims.select(col("doc_id").as("rep")),
      Seq("hamming" -> lit(0).cast(IntegerType)))
      .orderBy(col("doc_a").asc_nulls_first, col("doc_b").asc_nulls_first)
  }

  /** Pre-contraction sweep, equality reference for the spec only. */
  private[graft] def simhashNearDupUncontracted(c: DataFrame): DataFrame = {
    val sims = simhashOf(c).persist(StorageLevel.MEMORY_AND_DISK)
    simhashBandPairs(sims)
      .orderBy(col("doc_a").asc_nulls_first, col("doc_b").asc_nulls_first)
  }

  private val simhashNearDupSql =
    s"""WITH $simhashCtes,
       |bandrows AS (
       |  SELECT doc_id, simhash, band_id,
       |    (simhash >> (16 * band_id)) & 65535 AS bv
       |  FROM sims, (SELECT unnest([0, 1, 2, 3]) AS band_id) bands),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
       |  FROM bandrows a
       |  JOIN bandrows b ON a.band_id = b.band_id AND a.bv = b.bv AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, hamming FROM cand WHERE hamming <= $HammingMax
       |ORDER BY doc_a NULLS FIRST, doc_b NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- dd6
  /** Direct n-gram Jaccard near-dup pairs — the plain-similarity member
    * of the dedup family, with *k-anchor blocking* (k = 2) instead of
    * MinHash bands: documents sharing EITHER anchor are candidates —
    * (1) the opening word-3-gram (copies and prefix-truncations collide
    * by construction) and (2) the body anchor, the minimum salted md5
    * over the doc's whole shingle set (a 1-hash MinHash band: a copy
    * whose PREFIX was edited still collides unless the edit happened to
    * contain the minimizing shingle). r9's prefix-only blocking both
    * missed body-copies with rewritten openings and hot-bucketed on
    * shared boilerplate openings (tx17's census shows how common those
    * are); the body anchor spreads those buckets AND adds the recall.
    * Candidates then get the exact shingle-set Jaccard, threshold 0.3.
    * Like every dedup pass here the pairwise work is confined to
    * buckets — the blocking column is one md5 string, the exchange
    * carries (anchor, doc_id) twice per doc, and payload shingles are
    * fetched for candidate pairs only (pairs sharing both anchors are
    * DISTINCT'd before the verify join).
    */
  private val NgramJaccardMin = 0.3

  /** The anchored candidate→verified pipeline over an explicit corpus
    * frame — package-visible so the planted-recall spec can drive it
    * with a synthetic corpus.
    */
  private[graft] def ngramJaccardPairs(c: DataFrame): DataFrame =
    if (dupMultiplier(c) > DupContractionThreshold) ngramJaccardPairsContracted(c)
    else ngramJaccardPairsUncontracted(c)

  private[graft] def ngramJaccardPairsContracted(c: DataFrame): DataFrame = {
    // contracted (r16 VERDICT #1's dd6 audit — CONTRACT): both anchors
    // and the verify score are pure functions of the text, and only
    // ≥3-word documents ever anchor, so intra expansion is restricted
    // to classes present in `sh` — the same participation set as the
    // uncontracted pipeline's (spec-pinned equality)
    val (members0, repCorpus) = contractedCorpus(c)
    val members = members0.persist(StorageLevel.MEMORY_AND_DISK)
    val sh = sortedShingled(repCorpus).persist(StorageLevel.MEMORY_AND_DISK)
    val repPairs = anchoredRepPairs(repCorpus, sh)
    expandPairs(members, repPairs, sh.select(col("doc_id").as("rep")),
      Seq("jaccard" -> lit(1.0)))
      .orderBy(col("doc_a").asc_nulls_first, col("doc_b").asc_nulls_first)
  }

  /** The anchor → candidate → verify core over an explicit corpus + its
    * shingle frame (no sort) — shared by the contracted gate path, the
    * uncontracted spec reference, and (df-capped) dd19.
    *
    * @param dfCap when set, anchors whose document frequency exceeds
    *              the cap are dropped BEFORE pair generation — dd17's
    *              boilerplate discipline applied to anchors. This is a
    *              semantic change (recall through hot anchors is
    *              deliberately given up), so it is its own gate entry,
    *              never a silent flag on dd6. The cap is also the
    *              set-explosion spelling's skew PRECONDITION: only the
    *              capped path explodes per-anchor member sets; the
    *              uncapped path keeps the distributed self-join
    *              (VERDICT r18 #9).
    */
  private def anchoredRepPairs(c: DataFrame, sh: DataFrame,
      dfCap: Option[Int] = None): DataFrame = {
    // opening anchor from the RAW word sequence: the distinct-shingle
    // list's order is engine-specific (DuckDB's list_distinct does not
    // preserve first-occurrence order), the word sequence is not
    val words = split(col("text"), " ")
    val opening = c
      .filter(size(words) >= 3)
      .select(col("doc_id"),
        md5(array_join(slice(words, 1, 3), " ")).as("anchor"))
    // body anchor: min over salted shingle md5s — the "b:" salt keeps
    // the two anchor domains disjoint, so a kind column in the join key
    // is unnecessary
    val body = sh.select(col("doc_id"),
      array_min(transform(col("shingles"), g => md5(concat(lit("b:"), g)))).as("anchor"))
    val cand = dfCap match {
      case Some(cap) =>
        // r19 opt (VERDICT r18 #3): census + semi-join + pair groupBy
        // COLLAPSED into the one aggregate. The old capped path ran a
        // census aggregate over the persisted anchor frame, a semi-join
        // back against it, and then the set-explosion groupBy — three
        // consumers of a persisted anchored0. But (anchor, doc_id) rows
        // are unique by construction (one opening + one salted body
        // anchor per doc, domains disjoint) and doc_id is never null,
        // so per anchor count(1) == size(collect_set(doc_id)): the df
        // cap is exactly a size filter on the collected member set.
        // One groupBy now does census + cap + pair generation, the
        // anchor frame has a single consumer (no persist, no
        // materialization job), and two exchanges disappear (census +
        // semi-join probe). The semi-join spelling dropped null-anchor
        // rows by never matching them; the explicit isNotNull filter
        // keeps that contract (no null anchors exist at gate corpora —
        // both channels md5 non-null input — but the guard is the
        // join's documented behavior, not an assumption).
        // Per-anchor fan-out stays bounded by the cap, so the
        // collect_set row and its ≤ cap²/2 explode are bounded — the
        // §2 skew precondition of the set-explosion spelling
        // (VERDICT r18 #9), now enforced structurally: the explosion
        // only ever runs over capped sets.
        opening.unionByName(body)
          .filter(col("anchor").isNotNull)
          .groupBy("anchor")
          .agg(sort_array(collect_set(col("doc_id"))).as("ds"))
          .filter(size(col("ds")) <= cap)
          .select(explode(expr(
            "flatten(transform(ds, (x, i) -> " +
              "transform(slice(ds, i + 2, size(ds)), y -> struct(x AS doc_a, y AS doc_b))))"))
            .as("p"))
          .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
          .distinct()
      case None =>
        // UNCAPPED path (dd6's contracted/spec pipelines — ladder
        // probes, no gate entry): the set-explosion spelling is a §2
        // skew hazard here — one hot anchor concentrates its whole
        // member set into a single row and its n²/2 explode into a
        // single task, where the equi-self-join at least distributes
        // the quadratic across partitions (VERDICT r18 #9). Without a
        // df cap the candidates come from the join spelling; the
        // persisted anchor frame feeds both sides once.
        val anchored = opening.unionByName(body).persist(StorageLevel.MEMORY_AND_DISK)
        anchored.as("a")
          .join(anchored.as("b"),
            col("a.anchor") === col("b.anchor") && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .distinct()
    }
    // callers hand in ASCENDING shingle lists (array_sort at the shingle
    // frame, one sort per doc) so the per-pair verify runs the linear
    // sorted-merge kernel instead of two hash-set builds (r18 opt)
    jaccardVerified(cand, sh, minJ = NgramJaccardMin, sorted = false, sortedSets = true)
  }

  /** Pre-contraction pipeline, equality reference for the spec only. */
  private[graft] def ngramJaccardPairsUncontracted(c: DataFrame): DataFrame = {
    val sh = sortedShingled(c).persist(StorageLevel.MEMORY_AND_DISK)
    anchoredRepPairs(c, sh)
      .orderBy(col("doc_a").asc_nulls_first, col("doc_b").asc_nulls_first)
  }

  // --------------------------------------------------------------- dd19
  /** ANCHOR-DF-CAPPED n-gram near-dup — dd6's production lever at the
    * boundary the r17 sf10 probe measured: dd6's 1-hash body anchor
    * CONCENTRATES on a low-entropy corpus (the ~100-word synthetic
    * vocabulary puts 1 700 distinct texts behind one body anchor at
    * sf10 → 129M candidate pairs → a ~300 GB verify exchange → disk
    * death), exactly the boilerplate hot-bucket failure dd17's df cap
    * answers for containment. Anchors seen in more than [[AnchorDfCap]]
    * documents are classified boilerplate and generate NO candidates —
    * a deliberate recall trade (a pair reachable ONLY through a hot
    * anchor is given up), which is why this is its own oracle-gated
    * entry instead of a silent cap inside dd6: the capped pair set is
    * the semantics, stated identically in DuckDB.
    *
    * The gate corpus extends dd6's with a planted BANNER cohort (every
    * doc_id % 3 = 0 re-keyed at +3M with a fixed 3-word boilerplate
    * opening prepended), so the cap provably bites at every Verify
    * scale: the banner opening's df is N/3 ≫ cap, those candidates
    * vanish, while exact-copy and truncation pairs keep flowing through
    * their uncapped anchors. DedupSimilaritySpec pins the semantic
    * difference directly (a near-dup pair reachable only through the
    * hot banner anchor is found by dd6's pipeline and correctly absent
    * here).
    *
    * Scale posture: the census is one narrow (anchor, count) aggregate;
    * after the cap, per-anchor occupancy — and therefore the candidate
    * join's fan-out — is bounded by cap per bucket, so the verify
    * exchange is ≤ cap²/2 · |anchors| pairs no matter how skewed the
    * corpus: the sf10 shape that killed dd6 is ~1.5M candidates here.
    */
  private val AnchorDfCap = 16

  private def corpus19(s: SparkSession, dir: String): DataFrame =
    corpus(s, dir).unionByName(
      t(s, dir, "documents").filter(col("doc_id") % 3 === 0)
        .select(Tables.plantedId(col("doc_id")).as("doc_id"),
          concat(lit("promo banner follows "), col("text")).as("text")))

  private[graft] def ngramJaccardCappedOver(c: DataFrame): DataFrame = {
    val sh = sortedShingled(c).persist(StorageLevel.MEMORY_AND_DISK)
    anchoredRepPairs(c, sh, dfCap = Some(AnchorDfCap))
      .orderBy(col("doc_a").asc_nulls_first, col("doc_b").asc_nulls_first)
  }

  private def ngramJaccardCapped(s: SparkSession, dir: String): DataFrame =
    ngramJaccardCappedOver(corpus19(s, dir))

  private val ngramJaccardCappedSql = {
    val corpus19Sql = corpusSql.stripSuffix(")") +
      """
        |  UNION ALL
        |  SELECT doc_id + 3000000, 'promo banner follows ' || text
        |  FROM documents WHERE doc_id % 3 = 0)""".stripMargin
    s"""WITH $corpus19Sql,
       |$shingledSql,
       |anchored AS (
       |  SELECT doc_id, md5(array_to_string(w[1:3], ' ')) AS anchor
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM corpus)
       |  WHERE len(w) >= 3
       |  UNION ALL
       |  SELECT doc_id,
       |    list_aggregate(list_transform(shingles, s -> md5('b:' || s)), 'min') AS anchor
       |  FROM sh),
       |kept AS (
       |  SELECT anchored.doc_id, anchored.anchor FROM anchored
       |  JOIN (SELECT anchor FROM anchored GROUP BY anchor
       |        HAVING COUNT(*) <= $AnchorDfCap) ok
       |    ON anchored.anchor = ok.anchor),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM kept a JOIN kept b
       |    ON a.anchor = b.anchor AND a.doc_id < b.doc_id)
       |${jaccardVerifySqlTail(NgramJaccardMin)}""".stripMargin
  }

  private def ngramJaccard(s: SparkSession, dir: String): DataFrame = {
    val c = corpus(s, dir)
    if (dupMultiplierFor(s, dir) > DupContractionThreshold)
      ngramJaccardPairsContracted(c)
    else ngramJaccardPairsUncontracted(c)
  }

  // ---------------------------------------------------------------- cur1
  // The composed curation pass an LLM-data pipeline actually runs:
  // exact-dedup to keepers (semi-join on winning (hash, doc_id) pairs —
  // payload never shuffles), then the tx2 quality gate, then a per-lang
  // census of what survived. One pipeline, three shuffles (dedup group,
  // keeper semi-join, final rollup), all narrow exchanges.
  private def curation(s: SparkSession, dir: String): DataFrame = {
    // corpus ids map back to their original document (copies are +1M/+2M)
    val docLang = t(s, dir, "documents").select(col("doc_id").as("doc_key"), col("lang"))
    val c = corpus(s, dir)
      .join(docLang, col("doc_id") % 1000000L === col("doc_key"), "left")
      .drop("doc_key")
    val hashed = c.withColumn("text_hash", normalizedTextHash(col("text")))
    val keepers = hashed.groupBy("text_hash").agg(min("doc_id").as("doc_id"))
    val deduped = hashed.join(keepers, Seq("text_hash", "doc_id"), "left_semi")
    val w = split(col("text"), " ")
    val score = Text.qualityScore(w) // tx2's exact formula, shared
    deduped
      .withColumn("quality", score)
      .filter(col("quality") >= 0.5)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"),
        sum(size(w).cast(LongType)).as("n_tokens"))
      .orderBy(col("lang").asc_nulls_first)
  }

  private val curationSql = {
    s"""WITH $corpusSql,
       |tagged AS (
       |  SELECT c.doc_id, c.text, d.lang,
       |    ${normalizedTextHashSql("c.text")} AS text_hash
       |  FROM corpus c
       |  LEFT JOIN (SELECT doc_id, lang FROM documents) d
       |    ON c.doc_id % 1000000 = d.doc_id),
       |keepers AS (SELECT text_hash, MIN(doc_id) AS doc_id FROM tagged GROUP BY text_hash),
       |deduped AS (SELECT t.* FROM tagged t SEMI JOIN keepers k
       |            ON t.text_hash = k.text_hash AND t.doc_id = k.doc_id),
       |scored AS (
       |  SELECT lang, w,
       |    ${Text.qualityScoreSql} AS quality
       |  FROM (SELECT lang, string_split(text, ' ') AS w FROM deduped))
       |SELECT lang, COUNT(*) AS n_kept, CAST(SUM(len(w)) AS BIGINT) AS n_tokens
       |FROM scored WHERE quality >= 0.5
       |GROUP BY lang
       |ORDER BY lang NULLS FIRST""".stripMargin
  }

  // ---------------------------------------------------------------- dd7
  /** Duplicate-CLUSTER assembly — the step a real dedup pipeline runs
    * after pair generation: connected components over the verified
    * near-dup pairs (dd2), so "A≈B, B≈C" collapses to one keeper even
    * when A–C never met in a bucket. Iterative min-label propagation in
    * plain DataFrames (the Pregel shape): label(x) ← min over {x} ∪
    * neighbors' labels, repeated to the fixpoint, which is the
    * min-doc_id of each component — deterministic regardless of how
    * many sweeps convergence took. Iterations = graph diameter (dup
    * clusters are shallow; boilerplate chains stay < ~10 hops), each
    * one a narrow (node, label) shuffle — edges and labels are pairs of
    * longs no matter how wide the documents are, and the convergence
    * probe is a limit-1 existence check, not a count. The oracle states
    * the same fixpoint as reachability: cluster_id = MIN(label) over
    * all nodes that can reach it in a recursive CTE.
    */
  private def dupClusters(s: SparkSession, dir: String): DataFrame = {
    val pairs = minhashPairsShared(s, dir)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    graft.operators.ConnectedComponents.run(pairs)
      .select(col("node").as("doc_id"), col("cluster").as("cluster_id"))
      .withColumn("cluster_size",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")))
      .orderBy(col("doc_id").asc_nulls_first)
  }

  private val dupClustersSql =
    s"""WITH RECURSIVE pairs AS (
       |  SELECT doc_a, doc_b FROM (
       |$minhashPairsSql
       |  )),
       |nodes AS (SELECT doc_a AS node FROM pairs UNION SELECT doc_b FROM pairs),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(node, lab) AS (
       |  SELECT node, node FROM nodes
       |  UNION
       |  SELECT e.b AS node, r.lab FROM reach r JOIN edges e ON e.a = r.node),
       |labels AS (SELECT node AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY node)
       |SELECT doc_id, cluster_id,
       |  COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
       |FROM labels
       |ORDER BY doc_id NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- ds6
  /** Leakage-safe train/test split — ds1's split decision made at the
    * DUP-CLUSTER grain instead of the document grain: hashing each
    * doc's own id would scatter near-identical documents across train
    * and test (the classic eval-contamination bug: the model "memorizes"
    * test items from their training-set near-copies), so the split key
    * is the cluster representative from dd7's connected components, and
    * every member of a cluster lands in the same split by construction.
    * Documents in no near-dup pair are their own singleton cluster.
    * The corpus's injected exact/near copies guarantee multi-member
    * clusters, so the property is exercised, not vacuous
    * (DedupSimilaritySpec pins one-split-per-cluster and that the
    * cluster key actually CHANGED some member's split vs a doc-id
    * hash).
    *
    * Scale posture: dd7's label propagation + one broadcast-size left
    * join of (doc_id, cluster) back to the id universe — cluster maps
    * are tiny next to the corpus (only docs that appear in a pair);
    * the split itself is a map-side hash gate like ds1.
    */
  private def clusterSafeSplit(s: SparkSession, dir: String): DataFrame = {
    val pairs = minhashPairsShared(s, dir)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val cc = graft.operators.ConnectedComponents.run(pairs)
      .select(col("node").as("doc_id"), col("cluster").as("cluster_id"))
    corpus(s, dir).select("doc_id")
      .join(cc, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .withColumn("split",
        when(substring(md5(concat(lit("csplit:"), col("cluster_id"))), 1, 2) < lit(TestThresholdDs6),
          lit("test")).otherwise(lit("train")))
      .orderBy(col("doc_id").asc_nulls_first)
  }

  /** Test-split fraction: 38/256 ≈ 15% of clusters (larger than ds1's 5%
    * so that sf0.001's ~40 multi-member clusters land test members with
    * certainty-in-practice rather than by luck).
    */
  private val TestThresholdDs6 = "26"

  private val clusterSafeSplitSql =
    s"""WITH RECURSIVE pairs AS (
       |  SELECT doc_a, doc_b FROM (
       |$minhashPairsSql
       |  )),
       |nodes AS (SELECT doc_a AS node FROM pairs UNION SELECT doc_b FROM pairs),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(node, lab) AS (
       |  SELECT node, node FROM nodes
       |  UNION
       |  SELECT e.b AS node, r.lab FROM reach r JOIN edges e ON e.a = r.node),
       |labels AS (SELECT node AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY node),
       |univ AS (
       |  SELECT doc_id FROM documents
       |  UNION ALL SELECT doc_id + 1000000 FROM documents WHERE doc_id % 7 = 0
       |  UNION ALL SELECT doc_id + 2000000 FROM documents WHERE doc_id % 5 = 0)
       |SELECT u.doc_id, COALESCE(l.cluster_id, u.doc_id) AS cluster_id,
       |  CASE WHEN substr(md5('csplit:' || COALESCE(l.cluster_id, u.doc_id)), 1, 2)
       |         < '$TestThresholdDs6'
       |       THEN 'test' ELSE 'train' END AS split
       |FROM univ u LEFT JOIN labels l ON l.doc_id = u.doc_id
       |ORDER BY u.doc_id NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- dd8
  /** Benchmark decontamination — remove eval-set leakage from training
    * data: any corpus document sharing a word-4-gram with a benchmark
    * document is flagged, with its overlap count. The benchmark here is
    * the doc_id % 97 slice of the raw table (a stand-in for a real eval
    * suite); the corpus side is the dedup corpus minus the benchmark
    * docs themselves — its injected +1M/+2M copies of benchmark docs
    * guarantee the leak path fires. 4-grams (vs the dedup trigrams)
    * because decontamination wants high precision: real pipelines use
    * 8–13-grams; the fixture texts are too short for that to signal.
    *
    * Scale: benchmark suites are tiny by construction (MBs against a
    * 100 TB corpus), so the distinct benchmark-shingle set is broadcast
    * — the corpus-side exchange never materializes; per-doc shingles
    * stream map-side into the hash probe and only hits reach the
    * (doc_id, count) aggregate.
    */
  private val DecontamN = 4

  private def shingled4(df: DataFrame): DataFrame =
    shingledN(df, n = DecontamN, hashed = true)

  /** The dd8/dd9 core, shared batch/streaming: per-document count of
    * word-4-gram overlaps with a broadcast benchmark-shingle set. The
    * input contract is (doc_id, text); `benchShingles` is one `shingle`
    * column. Works unchanged on a streaming docs frame (stream-static
    * broadcast join + aggregation) — StreamingSpec pins that the
    * streaming flags equal this batch path's. `shinglePrefilter` is the
    * dd9 seam: a cheap per-shingle gate (the Bloom probe) applied
    * before the verify join; it may pass false positives (the join
    * removes them) but must never drop a true member. ONE shared chain
    * so the verify semantics cannot drift between dd8, dd9, and the
    * streaming path.
    */
  private[graft] def contaminationCounts(docs: DataFrame, benchShingles: DataFrame,
      shinglePrefilter: Column => Column = _ => lit(true),
      eventTime: Option[(Column, String)] = None): DataFrame = {
    val sh = shingledN(docs, n = DecontamN, hashed = true)
    // eventTime = (ts expression over doc_id, watermark delay): the sw14
    // append-mode spelling. The watermark node sits BEFORE the bloom
    // gate and verify join, so rows those stages drop (the sentinel
    // that only exists to advance the watermark past the last real
    // window) still advance it; grouping adds the tumbling window the
    // watermark needs to close per-doc state. Each doc carries exactly
    // one ts, so (window, doc_id) groups are 1:1 with doc_id groups and
    // the batch answer is unchanged — the window is dropped on output.
    val (keyed, groups) = eventTime match {
      case Some((ts, delay)) =>
        (sh.withColumn("ts", ts).withWatermark("ts", delay)
           .select(col("doc_id"), col("ts"), explode(col("shingles")).as("shingle")),
         Seq(window(col("ts"), "1 minute"), col("doc_id")))
      case None =>
        (sh.select(col("doc_id"), explode(col("shingles")).as("shingle")),
         Seq(col("doc_id")))
    }
    keyed
      .filter(shinglePrefilter(col("shingle")))
      .join(broadcast(benchShingles), Seq("shingle"))
      // shingles are distinct per doc → plain count = distinct overlaps
      .groupBy(groups: _*).agg(count(lit(1)).as("n_hit_shingles"))
      .select(col("doc_id"), col("n_hit_shingles"))
  }

  /** Benchmark-suite shingles: the doc_id % 97 slice of the raw table.
    * A shared view (r18 opt): FOUR gate entries (dd8, dd9, sw13,
    * sw14) derive the identical benchmark shingle set per sweep — the
    * materialized-view posture a real decontamination deployment takes
    * (the eval-suite shingle table is maintained once, not recomputed
    * per ingest query).
    */
  private[graft] def benchmarkShingles(s: SparkSession, dir: String): DataFrame =
    graft.Scratch.shared(s, "dedup_bench_shingles", dir) {
      shingled4(t(s, dir, "documents").filter(col("doc_id") % 97 === 0))
        .select(explode(col("shingles")).as("shingle")).distinct()
    }

  /** Driver-side Bloom bytes over [[benchmarkShingles]], memoized per
    * corpus dir like the contraction census (r17 ADVICE posture): dd9,
    * sw13, and sw14 each sized and filled an identical filter per run.
    * Keyed on the context's scratch root for the dir ([[graft.Scratch]]),
    * so a new context rebuilds.
    */
  private val benchBloomMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Byte]]()

  private def benchBloomBytes(s: SparkSession, dir: String): Array[Byte] =
    benchBloomMemo.computeIfAbsent(graft.Scratch.root(s, "bench_bloom", dir),
      _ => VectorFunctions.bloomBytesOf(benchmarkShingles(s, dir), "shingle", BloomFpp))

  private def decontaminate(s: SparkSession, dir: String): DataFrame = {
    // exclude only the raw benchmark rows — their +1M/+2M corpus copies
    // STAY, as the guaranteed leak the operator must catch
    val corp = corpus(s, dir)
      .filter(!(col("doc_id") < 1000000L && col("doc_id") % 97 === 0))
    contaminationCounts(corp, benchmarkShingles(s, dir))
      .orderBy(col("doc_id").asc_nulls_first)
  }

  private def shingle4Sql(src: String, pred: String): String =
    s"""SELECT doc_id, ${shingleListSql(n = DecontamN, hashed = true)} AS shingles
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM $src WHERE $pred)
       |  WHERE len(w) >= $DecontamN""".stripMargin

  private val decontaminateSql =
    s"""WITH $corpusSql,
       |bsh AS (
       |  ${shingle4Sql("documents", "doc_id % 97 = 0")}),
       |bench AS (SELECT DISTINCT unnest(shingles) AS shingle FROM bsh),
       |csh AS (
       |  ${shingle4Sql("corpus", "NOT (doc_id < 1000000 AND doc_id % 97 = 0)")}),
       |corpus_sh AS (SELECT doc_id, unnest(shingles) AS shingle FROM csh)
       |SELECT c.doc_id, COUNT(*) AS n_hit_shingles
       |FROM corpus_sh c JOIN bench b ON c.shingle = b.shingle
       |GROUP BY c.doc_id
       |ORDER BY doc_id NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- dd9
  /** dd8 with the 100 TB probe structure: a driver-built Bloom filter
    * over the benchmark shingles prefilters the corpus shingle stream
    * BEFORE the exact verify join. At gate scale dd8's broadcast set is
    * fine; against a real corpus the distinct-shingle hash relation is
    * GBs where the Bloom is ~1.2 MB per million shingles at 1% fpp —
    * the standard two-tier probe (bloom gate → exact join on survivors).
    * False positives cost only a wasted probe row: the verify join
    * removes them, so the result — and the oracle — are EXACTLY dd8's;
    * the gate hash-proves prefilter+verify ≡ exact. A true member never
    * probes false (no false negatives), so no hits are lost.
    *
    * The `count()` job sizing the filter runs over the tiny benchmark
    * side only — bounded by construction, same class as the IVF
    * codebook collect.
    */
  private val BloomFpp = 0.01

  private def bloomDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val bench = benchmarkShingles(s, dir) // shared view
    val bytes = benchBloomBytes(s, dir)
    val corp = corpus(s, dir)
      .filter(!(col("doc_id") < 1000000L && col("doc_id") % 97 === 0))
    contaminationCounts(corp, bench,
      shinglePrefilter = VectorFunctions.bloomMightContain(_, bytes))
      .orderBy(col("doc_id").asc_nulls_first)
  }

  // --------------------------------------------------------------- sw13
  /** STREAMING decontamination — dd9's two-tier probe executed as a
    * real Structured Streaming query, because that is where
    * decontamination actually runs at 100 TB: at INGEST, scoring every
    * arriving document against the benchmark suite before it can enter
    * the training corpus. The document stream (file source,
    * AvailableNow micro-batches) shingles map-side, gates each shingle
    * through the driver-built Bloom filter (~1.2 MB/M shingles at 1%
    * fpp — a codegen expression, so it rides inside whole-stage
    * codegen in every micro-batch), then exact-verifies survivors via
    * the stream-static broadcast join and counts per document. The
    * SAME [[contaminationCounts]] chain as dd8/dd9 — batch and
    * streaming semantics cannot drift. Complete output mode: the gate
    * corpus is bounded, and the operator under test is the
    * bloom-prefiltered stream-static join, not sink mechanics (a
    * production deployment attaches ingest time + a watermark and
    * appends, or upserts via foreachBatch — sw12's pattern). The
    * DuckDB oracle computes the exact batch answer over ALL documents,
    * so the hash proves stream-executed prefilter+verify ≡ exact batch:
    * a Bloom false positive leaking past the verify join, a dropped
    * micro-batch, or stale complete-mode state all shift a count.
    */
  private def docStream(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStream.streamSource(s, dir, "documents")
      .select(col("doc_id"), col("text"))

  private def streamDecontaminate(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val bench = benchmarkShingles(s, dir) // shared view
    val bytes = benchBloomBytes(s, dir)
    val counts = contaminationCounts(docStream(s, dir), bench,
      shinglePrefilter = VectorFunctions.bloomMightContain(_, bytes))
    graft.streaming.EventStream.withStatePartitions(
      s, graft.streaming.EventStream.statePartitionsFor(s, dir, "documents")) {
      val q = counts.writeStream.format("memory").queryName("sw13_mem")
        .outputMode(OutputMode.Complete)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    s.table("sw13_mem").orderBy(col("doc_id").asc_nulls_first)
  }

  private val streamDecontaminateSql =
    s"""WITH bsh AS (
       |  ${shingle4Sql("documents", "doc_id % 97 = 0")}),
       |bench AS (SELECT DISTINCT unnest(shingles) AS shingle FROM bsh),
       |csh AS (
       |  ${shingle4Sql("documents", "TRUE")}),
       |corpus_sh AS (SELECT doc_id, unnest(shingles) AS shingle FROM csh)
       |SELECT c.doc_id, COUNT(*) AS n_hit_shingles
       |FROM corpus_sh c JOIN bench b ON c.shingle = b.shingle
       |GROUP BY c.doc_id
       |ORDER BY doc_id NULLS FIRST""".stripMargin

  // --------------------------------------------------------------- sw14
  /** Synthetic ingest time: epoch + (doc_id mod 4) minutes; the
    * sentinel (doc_id < 0) lands at epoch + 5 min, one full window +
    * watermark delay past the last real bucket.
    */
  private[graft] val sw14Ts: Column = expr(
    "timestamp'2026-03-01 00:00:00' + make_interval(0, 0, 0, 0, 0, " +
      "CASE WHEN doc_id < 0 THEN 5 ELSE CAST(pmod(doc_id, 4) AS INT) END, 0)")

  /** sw13 in its PRODUCTION posture (VERDICT r14 #6): watermarked
    * APPEND output instead of Complete. Complete mode holds every
    * per-doc count in state forever — fine for the bounded gate corpus,
    * unbounded at a real ingest. Here each arriving document carries an
    * ingest time, the aggregation keys on (1-minute window, doc_id)
    * under a 10-second watermark, and a doc's count is emitted ONCE and
    * its state EVICTED as soon as the watermark passes its window —
    * bounded state regardless of corpus size (StreamingSpec pins
    * numRowsRemoved > 0 mid-stream and a bounded final state).
    *
    * Determinism: the gate re-stages the documents as two parquet
    * files carrying doc_id % 4 buckets {0,1} and {2,3} with ascending
    * synthetic ingest times (bucket i → epoch + i minutes, a pure
    * function of doc_id) and ascending mtimes, so the file source
    * (maxFilesPerTrigger = 1) replays a multi-micro-batch ingest
    * in time order; a final one-row SENTINEL file (doc_id = −1, epoch +
    * 5 min) advances the watermark past the last real window so the
    * final counts emit before AvailableNow terminates — the append-mode
    * tail every production stream has to solve (the sentinel's shingles
    * die in the bloom gate/verify join, so it never reaches the
    * output). The oracle is UNCHANGED from sw13 — per-doc counts over
    * all documents — so the hash proves append-mode lifecycle ≡ exact
    * batch: a window evicted early, the tail never flushed, or a doc
    * split across windows all shift a count.
    */
  private[graft] def sw14Stage(s: SparkSession, dir: String): String =
    graft.Scratch.once(s, "sw14", dir) { root =>
      val rootF = new java.io.File(root); rootF.mkdirs()
      val tmp = new java.io.File(rootF, "_stage_tmp")
      val t0 = System.currentTimeMillis()
      def writeOne(df: DataFrame, name: String, mtime: Long): Unit = {
        df.coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
        val part = tmp.listFiles()
          .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
          .getOrElse(throw new IllegalStateException(s"no part file staged in $tmp"))
        val dest = new java.io.File(rootF, name)
        java.nio.file.Files.move(part.toPath, dest.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        dest.setLastModified(mtime); ()
      }
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      // 2 s mtime spacing: distinct even at 1 s filesystem granularity,
      // so the file source's oldest-first order is the bucket order.
      // r19 opt (VERDICT r18 #4): buckets staged as TWO files ({0,1},
      // {2,3}) instead of four — each file is one micro-batch under
      // maxFilesPerTrigger=1, and the per-batch lifecycle (planning,
      // state-store load/commit, sink epoch) was the entry's dominant
      // term at gate scale. Event times are a pure function of doc_id
      // (sw14Ts), NOT of file placement, so windows, watermark
      // advancement at batch boundaries, eviction, and the emitted
      // counts are unchanged. Eviction stays MID-STREAM: the
      // watermark reaches 2:50 after batch 2, so windows [0,1) and
      // [1,2) evict while the sentinel DATA batch processes —
      // before the trailing no-data batch (StreamingSpec pins
      // continuous eviction + empty final state + streamed ≡ batch);
      // the oracle is untouched. A/B at sf0.1: 4-file ~3.0 s vs
      // 2-file ~2.15 s steady (ledger, OPTIMIZATION_r19.md).
      for ((lo, name, i) <- Seq((0, "b01_docs.parquet", 0), (2, "b23_docs.parquet", 1)))
        writeOne(docs.filter(pmod(col("doc_id"), lit(4)).isin(lo, lo + 1)),
          name, t0 + i * 2000L)
      import s.implicits._
      writeOne(Seq((-1L, "sw14 sentinel advances past the final window"))
        .toDF("doc_id", "text"), "z_sentinel.parquet", t0 + 8000L)
      org.apache.spark.sql.GraftShims.deleteRecursively(tmp)
    }

  private def streamDecontaminateAppend(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val stage = sw14Stage(s, dir)
    val bench = benchmarkShingles(s, dir) // shared view
    val bytes = benchBloomBytes(s, dir)
    val fileSchema = s.read.parquet(stage).schema
    val stream = s.readStream.schema(fileSchema)
      .option("maxFilesPerTrigger", "1").parquet(stage)
      .select(col("doc_id"), col("text"))
    val counts = contaminationCounts(stream, bench,
      shinglePrefilter = VectorFunctions.bloomMightContain(_, bytes),
      eventTime = Some((sw14Ts, "10 seconds")))
    graft.streaming.EventStream.withStatePartitions(
      s, graft.streaming.EventStream.statePartitionsFor(s, dir, "documents")) {
      val q = counts.writeStream.format("memory").queryName("sw14_mem")
        .outputMode(OutputMode.Append)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    s.table("sw14_mem").orderBy(col("doc_id").asc_nulls_first)
  }

  // --------------------------------------------------------------- dd10
  /** Incremental near-dup: the every-ingest variant of dd2. The "new
    * batch" (the planted ≥1M ids) is banded with the SAME shared
    * pipeline and its band rows join ONLY against the existing corpus's
    * band rows — never batch×batch or corpus×corpus — so each ingest
    * costs O(batch bands ⋈ corpus band table), independent of how many
    * pairs the corpus itself contains. At production scale the corpus
    * band table is a maintained bucketed table (operators/Bucketing
    * posture): the per-batch join is then shuffle-free on the corpus
    * side; a batch is dropped/kept per its matches here and its bands
    * appended — the corpus is never re-paired. Verification is the
    * shared exact-Jaccard join, so dd2 and dd10 agree on what "near-dup"
    * means by construction.
    */
  /** Streaming-compatible incremental core: band rows of the EXISTING
    * corpus with their shingle sets attached — the static side a
    * micro-batched ingest joins against. (doc_id, band_id, sig,
    * shingles); at production scale this is a maintained bucketed
    * table, here it is computed from the <1M corpus slice.
    */
  /** The planted "new batch" slice (ids ≥ 1M) as (doc_id, text) — the
    * streaming spec drives [[incrementalMatches]] with exactly these
    * rows to prove stream ≡ batch.
    */
  private[graft] def plantedBatch(s: SparkSession, dir: String): DataFrame =
    corpus(s, dir).filter(col("doc_id") >= 1000000L)

  /** Bucket/join key of the corpus band table: band_id and sig packed
    * into one column so the table can be BUCKETED by it (Bucketing
    * bucketBy takes one key) and the ingest join is a single-key equi
    * join the bucketed scan's HashPartitioning satisfies directly.
    */
  private def bandKey: Column = concat_ws(":", col("band_id"), col("sig"))

  private[graft] def corpusBandsWithShingles(s: SparkSession, dir: String): DataFrame =
    bandRowsOf(shingled(corpus(s, dir)).filter(col("doc_id") < 1000000L),
      carry = Seq("shingles"))
      .select(col("doc_id").as("corp_doc_id"), bandKey.as("bkey"),
        col("shingles").as("corp_shingles"))

  /** The per-ingest match pass, runnable on a STREAMING `newDocs`
    * (doc_id, text): shingle → band (pure map-side generate) →
    * stream-static join against [[corpusBandsWithShingles]] → in-row
    * exact Jaccard (both shingle sets are present on the joined row, so
    * no second join back to the stream — the spelling that avoids a
    * stream-stream join entirely) → ≥ minJ filter → pair dedup (the one
    * stateful operator; band collisions produce the same pair up to B
    * times). Carrying shingles through the bands costs ×B payload on
    * the batch side — bounded by the INGEST batch, not the corpus,
    * which is the right side to pay it on. StreamingSpec proves
    * micro-batched output ≡ the dd10 batch pass.
    */
  private[graft] def incrementalMatches(
      newDocs: DataFrame, corpusBands: DataFrame, minJ: Double = 0.5): DataFrame = {
    val bands = bandRowsOf(shingled(newDocs), carry = Seq("shingles"))
      .withColumn("bkey", bandKey)
    bands.join(corpusBands, Seq("bkey"))
      .select(col("corp_doc_id").as("doc_a"), col("doc_id").as("doc_b"),
        (size(array_intersect(col("corp_shingles"), col("shingles"))).cast(DoubleType) /
          size(array_union(col("corp_shingles"), col("shingles"))).cast(DoubleType))
          .as("jaccard"))
      .filter(col("jaccard") >= minJ)
      .dropDuplicates("doc_a", "doc_b")
  }

  /** The gate entry now RUNS the production posture the scaladoc above
    * describes, instead of only documenting it: the corpus band table is
    * materialized BUCKETED by the band key (operators/Bucketing — the
    * write-once side of "maintained bucketed table"), and the ingest
    * pass joins the planted batch against the bucketed SCAN — at scale
    * that join is shuffle-free on the corpus side, which OperatorsSpec
    * plan-pins (SMJ with the exchange on the batch side only). Output
    * and oracle are unchanged: same bands, same pairs, same exact
    * in-row Jaccard ≥ 0.5.
    */
  private[graft] val Dd10CorpusTable = "graft_dd10_corpus_bands"

  private def incrementalNearDup(s: SparkSession, dir: String): DataFrame = {
    graft.operators.Bucketing.writeBucketed(corpusBandsWithShingles(s, dir),
      Dd10CorpusTable, "bkey", 8, graft.Scratch.root(s, "dd10_corpus_bands", dir))
    incrementalMatches(plantedBatch(s, dir), s.table(Dd10CorpusTable), minJ = 0.5)
      .orderBy(col("doc_a").asc_nulls_first, col("doc_b").asc_nulls_first)
  }

  private val incrementalNearDupSql = {
    val minhs = (0 until K).map(k =>
      s"list_min(list_transform(shingles, x -> md5('$k:' || x))) AS mh$k").mkString(",\n    ")
    val bands = (0 until B).map(b =>
      s"md5(${(0 until R).map(r => s"mh${b * R + r}").mkString(" || '|' || ")}) AS band$b")
      .mkString(",\n    ")
    val bandRows = (0 until B).map(b =>
      s"SELECT doc_id, $b AS band_id, band$b AS sig FROM sigs").mkString(" UNION ALL ")
    s"""WITH $corpusSql,
       |$shingledSql,
       |mh AS (
       |  SELECT doc_id,
       |    $minhs
       |  FROM sh),
       |sigs AS (
       |  SELECT doc_id,
       |    $bands
       |  FROM mh),
       |bandrows AS ($bandRows),
       |cand AS (
       |  SELECT DISTINCT o.doc_id AS doc_a, n.doc_id AS doc_b
       |  FROM bandrows o
       |  JOIN bandrows n ON o.band_id = n.band_id AND o.sig = n.sig
       |   AND o.doc_id < 1000000 AND n.doc_id >= 1000000)
       |${jaccardVerifySqlTail(0.5)}""".stripMargin
  }

  // ---------------------------------------------------------------- dd11
  /** Content-defined segment dedup — the scalable approximation of
    * substring-level exact dedup (the "repeated passage" pass of the
    * dedup-training-data literature; suffix-array dedup needs a global
    * sort, this needs one hash aggregate): split each document at
    * content-defined boundaries (words whose md5 starts 0–3, P=1/4 →
    * ~4-word expected segments), so a passage shared by two documents
    * segments IDENTICALLY regardless of its offset in either — the
    * property fixed-stride chunking (tx8) lacks. Dedup the segments by
    * content hash across the corpus (keeper = lowest (doc, idx)) and
    * emit per-document duplication stats.
    *
    * Scale posture: segmentation is ONE map-side pass per document (the
    * codegen `CdcSegments` kernel over the word array — no word-grain
    * explode, no window over positions, no interpreted per-word lambda;
    * the `aggregate`-HOF spelling survives as the spec's equivalence
    * reference); only (doc_id, seg_h, key, n_w) ever cross an exchange —
    * segment text is pruned before both the hash aggregate and the join
    * back. The oracle rebuilds the same segments relationally (unnest +
    * cumulative boundary sum + ordered string_agg), proving the
    * segmentation semantics, and restates the dedup.
    */
  private val SegBoundaryFirstHex = "('0','1','2','3')" // P(boundary) = 4/16
  private val SegIdxWidth = 1L << 20 // composite key stride; segs/doc ≪ 2^20

  /** The segmentation over a `text` column: the codegen `CdcSegments`
    * kernel (one pass, no per-word lambda dispatch or accumulator
    * copies). 4 = boundary on md5 first nibble < 4, P = 4/16 — the
    * kernel twin of [[SegBoundaryFirstHex]]. Package-visible so the spec
    * can pin CDC's defining property (a shared passage segments
    * identically at any offset) on hand-built documents.
    */
  private[graft] def cdcSegments: Column =
    VectorFunctions.cdcSegments(split(col("text"), " "), 4)

  /** The interpreted `aggregate`-HOF spelling of [[cdcSegments]] — the
    * semantics reference the kernel is equivalence-tested against
    * (repo convention: HOF spellings survive in tests). A boundary word
    * starts a new segment unless nothing is buffered yet.
    */
  private[graft] def cdcSegmentsHof: Column = expr(
    s"""aggregate(
       |  filter(split(text, ' '), w -> w != ''),
       |  struct(cast(array() as array<string>) as done, '' as cur),
       |  (acc, w) -> if(substring(md5(w), 1, 1) in $SegBoundaryFirstHex and acc.cur != '',
       |    struct(concat(acc.done, array(acc.cur)) as done, w as cur),
       |    struct(acc.done as done, if(acc.cur = '', w, concat(acc.cur, ' ', w)) as cur)),
       |  acc -> if(acc.cur = '', acc.done, concat(acc.done, array(acc.cur))))""".stripMargin)

  private def cdcSegmentDedup(s: SparkSession, dir: String): DataFrame = {
    val base = corpus(s, dir).select(col("doc_id"), cdcSegments.as("segs"))
    val segGrain = base
      .select(col("doc_id"), posexplode(col("segs")))
      .select(
        col("doc_id"),
        md5(col("col")).as("seg_h"),
        size(split(col("col"), " ")).cast(LongType).as("n_w"),
        (col("doc_id") * SegIdxWidth + col("pos")).as("k"))
    val minKeys = segGrain.groupBy("seg_h").agg(min(col("k")).as("min_k"))
    val perDoc = segGrain.join(minKeys, Seq("seg_h"))
      .withColumn("isd", when(col("k") =!= col("min_k"), 1L).otherwise(0L))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_segs"),
        sum(col("isd")).as("n_dup_segs"),
        sum(col("n_w")).as("n_words"),
        sum(col("isd") * col("n_w")).as("n_dup_words"))
    // empty/null texts have no segments — keep their rows (count 0,
    // null ratio) via the left join; n_segs ≥ 1 wherever it is non-null,
    // so the ppm division can't hit zero in either engine (ANSI-safe).
    // dup_ppm is computed BEFORE the coalesce projection so it reads the
    // nullable join columns by construction (null for segment-less docs,
    // matching the oracle) — not via name-shadowing inside the same select
    base.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .withColumn("dup_ppm", expr("(n_dup_segs * 1000000) DIV n_segs"))
      .select(
        col("doc_id"),
        coalesce(col("n_segs"), lit(0L)).as("n_segs"),
        coalesce(col("n_dup_segs"), lit(0L)).as("n_dup_segs"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_dup_words"), lit(0L)).as("n_dup_words"),
        col("dup_ppm"))
      .orderBy(col("doc_id").asc_nulls_first)
  }

  private val cdcSegmentDedupSql =
    s"""WITH $corpusSql,
       |w AS (
       |  SELECT doc_id, CAST(generate_subscripts(wa, 1) AS BIGINT) AS pos,
       |    unnest(wa) AS word
       |  FROM (SELECT doc_id,
       |          list_filter(string_split(text, ' '), x -> x != '') AS wa
       |        FROM corpus)),
       |segw AS (
       |  SELECT doc_id, pos, word,
       |    SUM(CASE WHEN substr(md5(word), 1, 1) IN $SegBoundaryFirstHex
       |        THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY pos) AS seg0
       |  FROM w),
       |segs AS (
       |  SELECT doc_id, seg0, string_agg(word, ' ' ORDER BY pos) AS seg_text,
       |    CAST(COUNT(*) AS BIGINT) AS n_w, MIN(pos) AS first_pos
       |  FROM segw GROUP BY doc_id, seg0),
       |keyed AS (
       |  SELECT doc_id, n_w, md5(seg_text) AS seg_h,
       |    doc_id * $SegIdxWidth +
       |      (ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY first_pos) - 1) AS k
       |  FROM segs),
       |mk AS (SELECT seg_h, MIN(k) AS min_k FROM keyed GROUP BY seg_h),
       |pd AS (
       |  SELECT keyed.doc_id, CAST(COUNT(*) AS BIGINT) AS n_segs,
       |    CAST(SUM(CASE WHEN k != min_k THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_segs,
       |    CAST(SUM(n_w) AS BIGINT) AS n_words,
       |    CAST(SUM(CASE WHEN k != min_k THEN n_w ELSE 0 END) AS BIGINT) AS n_dup_words
       |  FROM keyed JOIN mk USING (seg_h) GROUP BY keyed.doc_id)
       |SELECT c.doc_id,
       |  COALESCE(pd.n_segs, 0) AS n_segs,
       |  COALESCE(pd.n_dup_segs, 0) AS n_dup_segs,
       |  COALESCE(pd.n_words, 0) AS n_words,
       |  COALESCE(pd.n_dup_words, 0) AS n_dup_words,
       |  CAST(pd.n_dup_segs * 1000000 // pd.n_segs AS BIGINT) AS dup_ppm
       |FROM corpus c LEFT JOIN pd ON c.doc_id = pd.doc_id
       |ORDER BY c.doc_id NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- cur3
  /** Canonical-document election per duplicate cluster — the step between
    * near-dup detection (dd2/dd7) and corpus emission: inside every dup
    * cluster keep the richest member (max distinct-word count; doc_id is
    * the deterministic tiebreak) and mark the rest as drops. Docs in no
    * near-dup pair are their own singleton cluster and trivially kept —
    * so the output is the full corpus annotated with (cluster, winner,
    * kept?), ready for a `is_kept` filter downstream.
    *
    * Scale posture: the CC label map covers only docs that appear in a
    * pair (tiny vs the corpus) so the label attach is a broadcast left
    * join; the election is ONE unordered aggregate window over
    * cluster_id — `min(struct(-score, doc_id))` — no corpus self-join
    * against per-cluster winners and no second shuffle (cluster_size
    * rides the same window). Dup clusters are short by construction
    * (near-dup radius), so per-cluster partitions cannot skew.
    */
  private def canonicalPick(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = minhashPairsShared(s, dir)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val cc = graft.operators.ConnectedComponents.run(pairs)
      .select(col("node").as("doc_id"), col("cluster").as("cluster_id"))
    val scored = corpus(s, dir)
      .join(broadcast(cc), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
        coalesce(size(array_distinct(split(col("text"), " "))).cast(LongType),
          lit(0L)).as("score"))
    val w = Window.partitionBy("cluster_id")
    scored
      .withColumn("best", min(struct((-col("score")).as("ns"), col("doc_id"))).over(w))
      .withColumn("cluster_size", count(lit(1)).over(w))
      .select(col("doc_id"), col("cluster_id"), col("score"),
        col("best.doc_id").as("kept_doc_id"),
        (col("doc_id") === col("best.doc_id")).as("is_kept"),
        col("cluster_size"))
      .orderBy(col("doc_id").asc_nulls_first)
  }

  private val canonicalPickSql =
    s"""WITH RECURSIVE pairs AS (
       |  SELECT doc_a, doc_b FROM (
       |$minhashPairsSql
       |  )),
       |nodes AS (SELECT doc_a AS node FROM pairs UNION SELECT doc_b FROM pairs),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(node, lab) AS (
       |  SELECT node, node FROM nodes
       |  UNION
       |  SELECT e.b AS node, r.lab FROM reach r JOIN edges e ON e.a = r.node),
       |labels AS (SELECT node AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY node),
       |$corpusSql,
       |scored AS (
       |  SELECT c.doc_id,
       |    COALESCE(l.cluster_id, c.doc_id) AS cluster_id,
       |    COALESCE(CAST(len(list_distinct(string_split(c.text, ' '))) AS BIGINT), 0)
       |      AS score
       |  FROM corpus c LEFT JOIN labels l ON l.doc_id = c.doc_id)
       |SELECT doc_id, cluster_id, score,
       |  first_value(doc_id) OVER (PARTITION BY cluster_id
       |    ORDER BY score DESC, doc_id ASC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS kept_doc_id,
       |  doc_id = first_value(doc_id) OVER (PARTITION BY cluster_id
       |    ORDER BY score DESC, doc_id ASC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS is_kept,
       |  COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
       |FROM scored
       |ORDER BY doc_id NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- dd12
  /** Asymmetric containment near-dup — the quote/sub-document detector
    * the symmetric passes (dd2/dd6) can't be: C(A→B) = |A∩B| / |A|
    * finds A buried inside a much larger B even when Jaccard is tiny.
    * Candidate generation is textbook PREFIX FILTERING over an inverted
    * shingle index: if C(A→B) ≥ t then B misses at most ⌊(1−t)·|A|⌋ of
    * A's shingles, so among A's ⌊(1−t)·|A|⌋+1 md5-smallest shingles at
    * least one is in B — A probes only that prefix against the index,
    * which provably loses no qualifying pair. The exchanges carry
    * (shingle_hash, doc_id) pairs — index O(Σ shingles), probes O(0.2·Σ)
    * — never document payloads; exact containment is then computed for
    * the candidate pairs only. At open-web scale the index side
    * additionally drops ultra-common shingles by a document-frequency
    * cap (a "stop-shingle" list — loses only pairs whose overlap is
    * pure boilerplate); the fixture corpus is clean, so the gate entry
    * keeps the exact no-cap spelling. The +2M 90%-prefix planted docs
    * make the containment path non-vacuous by construction (their
    * shingle sets are true subsets of their source's → exactly 1e6 ppm).
    */
  private val ContainmentMinPpm = 800000L // t = 0.8

  private def containmentPairs(s: SparkSession, dir: String): DataFrame =
    containmentFrom(
      shingledN(corpus(s, dir), n = 3, hashed = true)
        .withColumn("shingles", array_sort(col("shingles")))
        .persist(StorageLevel.MEMORY_AND_DISK))

  /** The dd12 algorithm from the sorted-shingle frame down — shared with
    * dd17/dd18 so the capped and bounded-output variants are provably
    * the SAME prefix/position/verify pipeline over a redefined shingle
    * set.
    */
  private def containmentFrom(sh: DataFrame): DataFrame =
    containmentVerified(sh)
      .orderBy(col("doc_a").asc_nulls_first, col("doc_b").asc_nulls_first)

  /** Verified containment pairs, unsorted — dd18 aggregates this stream
    * instead of reporting it, so the sort is the caller's concern.
    */
  private def containmentVerified(sh: DataFrame): DataFrame = {
    // ⌊0.2·|A|⌋+1-element sorted prefix — the only shingles A must probe
    val probes = sh.select(col("doc_id").as("doc_a"),
      size(col("shingles")).as("na"),
      posexplode(expr("slice(shingles, 1, size(shingles) DIV 5 + 1)"))
        .as(Seq("i0", "sh_h")))
    val index = sh.select(col("doc_id").as("doc_b"),
      size(col("shingles")).as("nb"),
      posexplode(col("shingles")).as(Seq("j0", "sh_h")))
    // PPJoin position filter, containment form — exact: a qualifying
    // pair's FIRST common shingle s* sits in A's prefix (≤ ⌊0.2·|A|⌋
    // non-shared shingles can precede it) and everything before s* in
    // either sorted list is non-shared, so overlap ≤ min(|A|−i, |B|−j)+1
    // at that match; dropping matches that can't reach ⌈0.8·|A|⌉ loses
    // no qualifying pair (it keeps a pair if ANY of its matches passes).
    // This cuts the candidate distinct by ~40% on the fixture corpus
    // before any shingle array is touched.
    val cand = probes.join(index, "sh_h")
      .filter(col("doc_a") =!= col("doc_b") &&
        lit(5) * (least(col("na") - col("i0") - 1, col("nb") - col("j0") - 1) + 1) >=
          lit(4) * col("na"))
      .select("doc_a", "doc_b").distinct()
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("shingles").as("sa")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingles").as("sb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        size(col("sa")).cast(LongType).as("na"),
        size(col("sb")).cast(LongType).as("nb"),
        // codegen merge-count over the pre-sorted lists — the exact
        // |A∩B| without materializing the intersection per pair
        VectorFunctions.sortedIntersectCount(col("sa"), col("sb")).as("ic"))
      .withColumn("containment_ppm", expr("ic * 1000000 DIV na"))
      .drop("ic")
      .filter(col("containment_ppm") >= ContainmentMinPpm)
  }

  // ---------------------------------------------------------------- dd17
  /** STOP-SHINGLE–capped containment — dd12's documented open-web lever,
    * now a gated operator instead of a scaladoc promise. The r15 sf3
    * pressure test killed exact dd12 by DISK at 30× (the ScaleGen corpus
    * near-replicates every document 30 ways, so true containment output
    * is quadratic in the copy factor — measured 218× output for 10×
    * data — and every verified pair drags two full shingle arrays
    * through the verify join: >70 GB of spill). The production fix is
    * the classic document-frequency cap: shingles appearing in more
    * than [[StopShingleDf]] documents are boilerplate, carry no
    * identifying signal, and are dropped from the shingle SETS before
    * anything else — after which the UNCHANGED dd12 pipeline
    * ([[containmentFrom]]) runs over the redefined sets. The cap bounds
    * every posting list at `cap`, so candidate generation is at most
    * `cap²` pairs per shingle — the df² explosion cannot happen no
    * matter how boilerplate-ridden the corpus. Semantics: containment
    * over NON-boilerplate shingles (the documented, deliberate loss:
    * pairs whose entire overlap is boilerplate).
    *
    * The gate makes the cap non-vacuous by INJECTING boilerplate: every
    * doc_id % 3 == 0 corpus document gets a fixed 14-word header, whose
    * 3-grams hit df ≈ |corpus|/3 ≫ cap at every Verify scale — the
    * oracle applies the same header + df cap in SQL, so the hash proves
    * the capped Spark pipeline ≡ the capped exact answer (a dropped
    * organic shingle, a kept boilerplate shingle, or a df miscount all
    * shift containment ppm). Planted +2M subset docs whose header
    * assignment doesn't EXCEED their source's (source id ≢ 1 mod 3 —
    * two thirds of them; 2000000 ≡ 2 mod 3 shifts the header slice)
    * keep their kept sets true subsets and stay at exactly 1e6 ppm;
    * the remaining third gains header/bridge shingles its un-headered
    * source lacks and legitimately drops below 1e6 (the oracle agrees
    * — r15 review). ContainmentCapSpec pins the surviving class, plus
    * that the cap actually drops shingles at gate scale.
    *
    * Scale posture: df is one hash aggregate over the posting stream
    * (map-side combine), the keep-list join is a co-partitioned
    * semi-join on the same key — at open-web scale both ride the
    * existing posting exchange; nothing new shuffles.
    */
  private val StopShingleDf = 64L

  private val BoilerHeader =
    "terms of service all rights reserved do not redistribute this corpus boilerplate header"

  private[graft] def boilerplatedCorpus(s: SparkSession, dir: String): DataFrame =
    corpus(s, dir).withColumn("text",
      when(pmod(col("doc_id"), lit(3)) === 0,
        concat(lit(BoilerHeader + " "), col("text"))).otherwise(col("text")))

  /** (distinct shingles, shingles surviving the df cap) over the
    * boilerplated corpus — the spec's non-vacuity probe.
    */
  private[graft] def cappedShingleStats(s: SparkSession, dir: String): (Long, Long) = {
    val df = shingledN(boilerplatedCorpus(s, dir), n = 3, hashed = true)
      .select(col("doc_id"), explode(col("shingles")).as("sh_h"))
      .groupBy("sh_h").agg(count(lit(1)).as("df"))
    (df.count(), df.filter(col("df") <= StopShingleDf).count())
  }

  private def cappedShingles(s: SparkSession, dir: String): DataFrame =
    // shared view (r18 opt, the minhashPairsShared posture): dd17
    // and dd18 consume the IDENTICAL capped-shingle frame — boilerplate
    // header, posting explode, df census, keep-join, per-doc re-collect
    // — and each entry used to rebuild it from parquet. One shared
    // table serves both (the materialized-view stance the
    // 100 TB deployment takes: the stop-shingle vocabulary and capped
    // sets are a maintained table, not a per-query recomputation).
    graft.Scratch.shared(s, "dedup_capped_shingles", dir) {
      // persisted: feeds BOTH the df aggregate and the keep-join below —
      // unpersisted, the corpus n-gram md5 pass would run twice (r15
      // review; dd12 persists its shingled frame for the same reason)
      val posts = shingledN(boilerplatedCorpus(s, dir), n = 3, hashed = true)
        .select(col("doc_id"), explode(col("shingles")).as("sh_h"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val keep = posts.groupBy("sh_h").agg(count(lit(1)).as("df"))
        .filter(col("df") <= StopShingleDf).select("sh_h")
      val sh = posts.join(keep, Seq("sh_h"))
        .groupBy("doc_id").agg(sort_array(collect_list(col("sh_h"))).as("shingles"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      // materialize sh while posts is still cached, then release posts:
      // only the result goes into the shared table, and an un-dropped
      // posts cache would hold executor memory through the consumer's run
      sh.count()
      posts.unpersist()
      sh
    }

  /** The VERIFIED capped containment pair stream, a shared view
    * (r18 opt) for DOWNSTREAM consumers only: dd18 aggregates the same
    * `ver` stream dd17 reports (the oracle shares the CTE verbatim —
    * [[cappedVerifiedCte]]), so dd18 reads one shared
    * table instead of re-running the prefix-probe/verify
    * pipeline. dd17 itself stays UN-memoized — the dd2 precedent: the
    * entry that IS the pipeline keeps measuring it; only report levers
    * downstream ride the materialized view.
    */
  private def cappedVerifiedShared(s: SparkSession, dir: String): DataFrame =
    graft.Scratch.shared(s, "dedup_capped_verified", dir) {
      containmentVerified(cappedShingles(s, dir))
    }

  private def containmentCapped(s: SparkSession, dir: String): DataFrame =
    containmentFrom(cappedShingles(s, dir))

  /** The dd17 CTE chain through the verified pair set — shared verbatim
    * by dd17 (full report) and dd18 (bounded top-K report), mirroring
    * the Spark side's shared [[containmentVerified]].
    */
  private val cappedVerifiedCte =
    s"""WITH $corpusSql,
       |corpb AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 3 = 0 THEN '$BoilerHeader ' || text ELSE text END AS text
       |  FROM corpus),
       |posts AS (
       |  SELECT doc_id, unnest(${shingleListSql(n = 3, hashed = true)}) AS sh_h
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM corpb)
       |  WHERE len(w) >= 3),
       |keep AS (SELECT sh_h FROM posts GROUP BY sh_h HAVING COUNT(*) <= $StopShingleDf),
       |sh AS (
       |  SELECT doc_id, list_sort(list(sh_h)) AS shingles
       |  FROM posts JOIN keep USING (sh_h) GROUP BY doc_id),
       |pr AS (
       |  SELECT doc_id AS doc_a, len(shingles) AS na,
       |    unnest(shingles[1 : len(shingles) // 5 + 1]) AS sh_h,
       |    generate_subscripts(shingles[1 : len(shingles) // 5 + 1], 1) AS i
       |  FROM sh),
       |ix AS (
       |  SELECT doc_id AS doc_b, len(shingles) AS nb, unnest(shingles) AS sh_h,
       |    generate_subscripts(shingles, 1) AS j
       |  FROM sh),
       |cand AS (
       |  SELECT DISTINCT doc_a, doc_b FROM pr JOIN ix USING (sh_h)
       |  WHERE doc_a <> doc_b
       |    AND 5 * (least(na - i, nb - j) + 1) >= 4 * na),
       |ver AS (
       |  SELECT doc_a, doc_b,
       |    CAST(len(sa.shingles) AS BIGINT) AS na,
       |    CAST(len(sb.shingles) AS BIGINT) AS nb,
       |    CAST(len(list_intersect(sa.shingles, sb.shingles)) AS BIGINT) * 1000000
       |      // len(sa.shingles) AS containment_ppm
       |  FROM cand
       |  JOIN sh sa ON cand.doc_a = sa.doc_id
       |  JOIN sh sb ON cand.doc_b = sb.doc_id
       |  WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS BIGINT) * 1000000
       |      // len(sa.shingles) >= $ContainmentMinPpm)""".stripMargin

  private val containmentCappedSql =
    s"""$cappedVerifiedCte
       |SELECT doc_a, doc_b, na, nb, containment_ppm FROM ver
       |ORDER BY doc_a NULLS FIRST, doc_b NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- dd18
  /** Bounded-output containment — the report-side lever dd17's ledger
    * promised (r15 VERDICT #4): dd12's sf3 death was TRUE-output-driven
    * (the replicated corpus's containment pair count is quadratic in
    * the copy factor), and a production deployment caps the REPORT, not
    * just the candidates. Per contained document, only the top
    * [[ContainTopK]] containing documents (highest containment, ties to
    * the smaller doc_b) survive — the full pipeline is dd17's
    * ([[containmentVerified]] over [[cappedShingles]], shared verbatim),
    * but the result is ≤ K rows per doc_a NO MATTER how many documents
    * contain it, so output is ≤ K·N at any replication factor.
    *
    * Scale posture: the top-K is the bounded [[graft.functions.TopKAgg]]
    * buffer (ObjectHashAggregate, map-side partials — k rows per
    * (doc × partition) reach the exchange), never a window over the
    * verified pair stream. ContainmentCapSpec pins the ≤ K·N output
    * bound on the planted boilerplate corpus.
    */
  private val ContainTopK = 3

  private def containmentTopK(s: SparkSession, dir: String): DataFrame = {
    val topk = udaf(new graft.functions.TopKAgg(ContainTopK))
    cappedVerifiedShared(s, dir)
      .groupBy("doc_a")
      .agg(topk(col("containment_ppm"), col("doc_b")).as("hits"))
      .select(col("doc_a"), posexplode(col("hits")).as(Seq("pos", "hit")))
      .select(col("doc_a"), (col("pos") + 1).cast(LongType).as("rank"),
        col("hit.id").as("doc_b"), col("hit.score").as("containment_ppm"))
      .orderBy(col("doc_a").asc_nulls_first, col("rank").asc_nulls_first)
  }

  private val containmentTopKSql =
    s"""$cappedVerifiedCte,
       |ranked AS (
       |  SELECT doc_a, doc_b, containment_ppm,
       |    row_number() OVER (PARTITION BY doc_a
       |                       ORDER BY containment_ppm DESC, doc_b) AS rank
       |  FROM ver)
       |SELECT doc_a, CAST(rank AS BIGINT) AS rank, doc_b, containment_ppm
       |FROM ranked WHERE rank <= $ContainTopK
       |ORDER BY doc_a NULLS FIRST, rank NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- dd15
  /** LSH blocking-quality audit — the "measure, don't guess" gate on the
    * near-dup channel itself: run BOTH candidate generators the family
    * already ships (dd2's minhash band buckets, dd6's opening-trigram
    * anchors) through the SAME exact-Jaccard ≥ 0.5 verification, then
    * count agreement. `anchor_only` pairs are band-collision MISSES
    * (true near-dups whose signatures landed in no common band — the
    * (1−J^R)^B false-negative tail every LSH deployment must budget),
    * `lsh_only` pairs are anchor misses (near-dups whose opening
    * trigram drifted — anchor blocking's blind spot). A curation run
    * watches `lsh_recall_ppm` (LSH hits over the anchor channel's
    * pairs) drift before trusting a banding config at the next scale-up.
    *
    * Scale posture: both channels are the family's bucketed/blocked
    * pipelines (no all-pairs anywhere); the audit join runs over the
    * two verified PAIR tables, which are tiny next to the corpus, and
    * the LSH side reuses the shared pair table the
    * cluster entries already build.
    */
  private def lshQuality(s: SparkSession, dir: String): DataFrame = {
    val c = corpus(s, dir)
    val sh = shingled(c).persist(StorageLevel.MEMORY_AND_DISK)
    val lshp = minhashPairsShared(s, dir).select(col("doc_a"), col("doc_b"), lit(1L).as("in_l"))
    val words = split(col("text"), " ")
    val anchored = c
      .filter(size(words) >= 3)
      .select(col("doc_id"), md5(array_join(slice(words, 1, 3), " ")).as("anchor"))
    // set-explosion pair generation off the anchor groupBy — the dd19
    // candidate spelling (r18 opt); same pair multiset as the self-join
    val acand = anchored.groupBy("anchor")
      .agg(sort_array(collect_set(col("doc_id"))).as("ds"))
      .select(explode(expr(
        "flatten(transform(ds, (x, i) -> " +
          "transform(slice(ds, i + 2, size(ds)), y -> struct(x AS doc_a, y AS doc_b))))"))
        .as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
    val ap = jaccardVerified(acand, sh, minJ = 0.5)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("in_a"))
    ap.join(lshp, Seq("doc_a", "doc_b"), "full_outer")
      .select(coalesce(col("in_a"), lit(0L)).as("in_a"),
        coalesce(col("in_l"), lit(0L)).as("in_l"))
      .agg(
        sum(col("in_a")).as("n_anchor_pairs"),
        sum(col("in_l")).as("n_lsh_pairs"),
        sum(col("in_a") * col("in_l")).as("n_both"),
        sum(col("in_l") * (lit(1L) - col("in_a"))).as("lsh_only"),
        sum(col("in_a") * (lit(1L) - col("in_l"))).as("anchor_only"))
      .select(col("n_anchor_pairs"), col("n_lsh_pairs"), col("n_both"),
        col("lsh_only"), col("anchor_only"),
        expr("(1000000 * n_both) DIV n_anchor_pairs").as("lsh_recall_ppm"))
  }

  private lazy val lshQualitySql =
    s"""WITH $corpusSql,
       |$shingledSql,
       |$lshCandCtes,
       |lshp AS (${jaccardPairsSql(0.5, "cand")}),
       |anchored AS (
       |  SELECT doc_id, md5(array_to_string(w[1:3], ' ')) AS anchor
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM corpus)
       |  WHERE len(w) >= 3),
       |acand AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM anchored a JOIN anchored b
       |    ON a.anchor = b.anchor AND a.doc_id < b.doc_id),
       |ap AS (${jaccardPairsSql(0.5, "acand")}),
       |j AS (
       |  SELECT CASE WHEN a.doc_a IS NOT NULL THEN 1 ELSE 0 END AS in_a,
       |         CASE WHEN l.doc_a IS NOT NULL THEN 1 ELSE 0 END AS in_l
       |  FROM ap a FULL OUTER JOIN lshp l
       |    ON a.doc_a = l.doc_a AND a.doc_b = l.doc_b)
       |SELECT CAST(SUM(in_a) AS BIGINT) AS n_anchor_pairs,
       |  CAST(SUM(in_l) AS BIGINT) AS n_lsh_pairs,
       |  CAST(SUM(in_a * in_l) AS BIGINT) AS n_both,
       |  CAST(SUM(in_l * (1 - in_a)) AS BIGINT) AS lsh_only,
       |  CAST(SUM(in_a * (1 - in_l)) AS BIGINT) AS anchor_only,
       |  CAST((1000000 * SUM(in_a * in_l)) // SUM(in_a) AS BIGINT) AS lsh_recall_ppm
       |FROM j""".stripMargin

  // ---------------------------------------------------------------- dd16
  /** EXACT substring-grain dedup census — the repeated-passage modality
    * the other dd legs can't guarantee: dd1 needs whole-document
    * equality, and dd11's content-defined segments catch a shared
    * passage only where its words contain boundary hashes (a passage
    * with no boundary word fuses with its — differing — surroundings,
    * so the shared text never yields a shared segment). Here every
    * W-token window at stride 1 is fingerprinted (md5, cross-engine),
    * so a repeated run of ≥ W tokens ANYWHERE in two documents emits
    * identical fingerprints regardless of offset — the fingerprinting
    * family of Manber '94 (mod-p sampling) / Schleimer's winnowing.
    * Sampling keeps 1/16 of fingerprints (first md5 hex char '0')
    * DETERMINISTICALLY BY CONTENT: the same passage samples identically
    * in every document that contains it, so shared passages survive
    * sampling with their overlap intact (a per-doc random sample would
    * destroy the intersection). Output per corpus doc: sampled
    * fingerprint count and how many of those are shared with ≥ 1 other
    * document.
    *
    * Scale posture: window fingerprints are per-doc map-side HOF work
    * (one `transform` over an index sequence — the token array is
    * never exploded per window); sampling cuts the shuffled stream to
    * ~1/16 of token volume BEFORE the first exchange; then one
    * fp-grain aggregate and an fp-grain join that reuses the same hash
    * partitioning, and a doc-grain rollup. The spec plants an
    * offset-shifted repeated passage (boundary-free words) that dd11
    * provably misses and this census provably catches.
    */
  private val FpW = 12 // fingerprint window length (tokens)

  /** The census over any (doc_id, text) frame; `sampled = false` keeps
    * every fingerprint (the spec's recall-guarantee mode — sampling
    * thins a short passage's 4 windows with 1/16 odds each).
    */
  private[graft] def repeatedPassageCensusOver(
      docs: DataFrame, sampled: Boolean): DataFrame = {
    val fps = docs
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"), explode(expr(
        s"""CASE WHEN size(tk) >= $FpW
           |  THEN transform(sequence(1, size(tk) - ${FpW - 1}),
           |                 i -> md5(array_join(slice(tk, i, $FpW), ' ')))
           |  ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin)).as("fp"))
    val kept = if (sampled) fps.filter(substring(col("fp"), 1, 1) === "0") else fps
    val docFp = kept.select("doc_id", "fp").distinct()
    val fpDocs = docFp.groupBy("fp").agg(count(lit(1)).as("nd"))
    val per = docFp.join(fpDocs, Seq("fp"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_sampled_fp"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_shared_fp"))
    docs.select("doc_id").join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_sampled_fp"), lit(0L)).as("n_sampled_fp"),
        coalesce(col("n_shared_fp"), lit(0L)).as("n_shared_fp"))
      .orderBy(col("doc_id").asc_nulls_first)
  }

  private def repeatedPassages(s: SparkSession, dir: String): DataFrame =
    repeatedPassageCensusOver(corpus(s, dir), sampled = true)

  private val repeatedPassagesSql =
    s"""WITH $corpusSql,
       |tk AS (SELECT doc_id, string_split(text, ' ') AS tk FROM corpus),
       |w0 AS (SELECT doc_id, tk, unnest(range(1, len(tk) - $FpW + 2)) AS i FROM tk),
       |wins AS (SELECT doc_id, md5(array_to_string(tk[i:i+${FpW - 1}], ' ')) AS fp
       |         FROM w0),
       |samp AS (SELECT DISTINCT doc_id, fp FROM wins WHERE substr(fp, 1, 1) = '0'),
       |fpd AS (SELECT fp, CAST(COUNT(*) AS BIGINT) AS nd FROM samp GROUP BY fp),
       |per AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sampled,
       |          CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
       |        FROM samp JOIN fpd USING (fp) GROUP BY doc_id)
       |SELECT c.doc_id, COALESCE(n_sampled, 0) AS n_sampled_fp,
       |  COALESCE(n_shared, 0) AS n_shared_fp
       |FROM corpus c LEFT JOIN per USING (doc_id)
       |ORDER BY doc_id NULLS FIRST""".stripMargin

  override val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dd16_repeated_passages" -> (repeatedPassages _),
    "dd15_lsh_quality" -> (lshQuality _),
    "dd17_containment_capped" -> (containmentCapped _),
    "dd18_containment_topk" -> (containmentTopK _),
    "dd19_ngram_jaccard_capped" -> (ngramJaccardCapped _),
    "cur3_canonical_pick" -> (canonicalPick _),
    "dd11_segment_dedup" -> (cdcSegmentDedup _),
    "dd10_incremental_neardup" -> (incrementalNearDup _),
    "dd9_bloom_decontaminate" -> (bloomDecontaminate _),
    "sw13_stream_decontaminate" -> (streamDecontaminate _),
    "sw14_stream_decontam_append" -> (streamDecontaminateAppend _),
    "dd1_exact_dedup" -> (exactDedup _),
    "dd2_minhash_lsh_pairs" -> (minhashPairs _),
    "dd3_simhash" -> (simhash _),
    "dd5_simhash_neardup" -> (simhashNearDup _),
    "dd7_dup_clusters" -> (dupClusters _),
    "ds6_cluster_safe_split" -> (clusterSafeSplit _),
    "dd8_decontaminate" -> (decontaminate _),
    "cur1_curation_pipeline" -> (curation _))

  override val oracle: Map[String, String] = Map(
    "dd16_repeated_passages" -> repeatedPassagesSql,
    "cur3_canonical_pick" -> canonicalPickSql,
    // same result as dd8 by construction (bloom FPs die in the verify
    // join) — the gate proves the equivalence
    "dd9_bloom_decontaminate" -> decontaminateSql,
    "sw13_stream_decontaminate" -> streamDecontaminateSql,
    // same counts as sw13 — the append-mode lifecycle must not change them
    "sw14_stream_decontam_append" -> streamDecontaminateSql,
    "dd11_segment_dedup" -> cdcSegmentDedupSql,
    "dd10_incremental_neardup" -> incrementalNearDupSql,
    "dd1_exact_dedup" -> exactDedupSql,
    "dd2_minhash_lsh_pairs" -> minhashPairsSql,
    "dd3_simhash" -> simhashSql,
    "dd5_simhash_neardup" -> simhashNearDupSql,
    "dd15_lsh_quality" -> lshQualitySql,
    "dd17_containment_capped" -> containmentCappedSql,
    "dd18_containment_topk" -> containmentTopKSql,
    "dd19_ngram_jaccard_capped" -> ngramJaccardCappedSql,
    "dd7_dup_clusters" -> dupClustersSql,
    "ds6_cluster_safe_split" -> clusterSafeSplitSql,
    "dd8_decontaminate" -> decontaminateSql,
    "cur1_curation_pipeline" -> curationSql)

  /** dd6/dd12 demoted from the gate battery to ladder probes (r17
    * VERDICT #4): both are measured DISK DEATHS at the sf10 rung
    * (dd6's hot-anchor fan-out ~129M candidates / ~300 GB exchange;
    * dd12's exact containment >70 GB true-output spill — BASELINE.md
    * ladder tables), and both have shipped scale-safe supersessions a
    * 100 TB user runs instead: dd19 (anchor-df-capped Jaccard) and
    * dd17/dd18 (stop-shingle-capped / top-k containment). Semantics
    * stay spec-proven: the contraction-equality fuzz and planted-recall
    * specs drive [[ngramJaccardPairs]]/[[containmentPairsOver]]
    * directly, and the dev mains still resolve these names.
    */
  override val probes: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dd6_ngram_jaccard" -> (ngramJaccard _),
    "dd12_containment" -> (containmentPairs _),
    // dd19 stage probes (`graft.Dev time` only): the shipped shingling and
    // corpus stages of the capped pipeline, timed on their own.
    "dd19_probe_shingles" -> ((s: SparkSession, dir: String) =>
      sortedShingled(corpus19(s, dir))),
    "dd19_probe_corpus" -> ((s: SparkSession, dir: String) => corpus19(s, dir)))
}
